package graft.sources

import graft.SparkSpec
import graft.wiki.{WikiFixture, WikiPipeline}
import org.apache.spark.sql.functions._

/** The splittable in-file XML scan vs two independent baselines: Spark's
  * native per-file XML source on the 10-page wiki fixture and on
  * hand-built documents that exercise each value rule of the page reader,
  * and documents with split boundaries forced into every awkward position
  * (inside records, inside tags). */
class SplittableXmlSpec extends SparkSpec {

  val fixtureXml = WikiFixture.path

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("title"), col("text"))
      .collect().map(r => (r.getString(0), r.getString(1)))

  private def fixtureRows(df: org.apache.spark.sql.DataFrame) = rows(df).toSet

  private lazy val native =
    fixtureRows(WikiPipeline.readPagesNative(spark, fixtureXml))

  test("single split reproduces the native source row-for-row") {
    val split = fixtureRows(WikiPipeline.readPages(spark, fixtureXml))
    assert(split === native)
    assert(split.size === 10)
  }

  test("many tiny splits: same rows, >1 scan partition, no dup/loss") {
    val ds = SplittableXml.records(spark, fixtureXml, "page",
      splitBytes = 8 * 1024) // 187 KB fixture -> 23 ranges
    assert(ds.rdd.getNumPartitions > 1)
    val pages = WikiPipeline.readPages(spark, fixtureXml,
      splitBytes = 8 * 1024)
    assert(pages.rdd.getNumPartitions === ds.rdd.getNumPartitions)
    val split = fixtureRows(pages)
    assert(split === native)
  }

  test("compressed input: whole-file split, records identical to plain") {
    // gzip the fixture; a byte range into a compressed stream is not
    // decodable mid-file, so planSplits must emit ONE whole-file split
    // even at tiny splitBytes, and the scanner must decompress
    val dir = java.nio.file.Files.createTempDirectory("xmlgz")
    val gz = dir.resolve("fixture.xml.gz")
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(gz))
    java.nio.file.Files.copy(java.nio.file.Paths.get(fixtureXml), out)
    out.close()

    val splits = SplittableXml.planSplits(spark, gz.toString,
      splitBytes = 8 * 1024)
    assert(splits.length === 1)
    assert(splits.head.start === 0L && splits.head.end === Long.MaxValue)

    val compressed = fixtureRows(WikiPipeline.readPages(
      spark, gz.toString, splitBytes = 8 * 1024))
    assert(compressed === native)
  }

  private def writeDoc(prefix: String, pages: Seq[String]): String = {
    val f = java.nio.file.Files.createTempDirectory(prefix).resolve("d.xml")
    java.nio.file.Files.write(f, pages.mkString(
      "<mediawiki>\n", "\n", "\n</mediawiki>\n").getBytes("UTF-8"))
    f.toString
  }

  test("readPages equals the native source row for row on every value " +
    "rule: trim, entities, CDATA, empty and missing values, skipped and " +
    "repeated elements, a malformed record") {
    val rev = (body: String) => s"<revision>$body</revision>"
    val doc = writeDoc("parity", Seq(
      "<page><title>\tTabbed\t</title>" + rev("<text>[[A]]</text>") +
        "</page>",
      "<page><title> \t \n</title>" + rev("<text>[[B]]</text>") + "</page>",
      "<page><title>Amp</title>" +
        rev("<text>x &amp; y [[C]] &lt;z&gt; &#x5B;&#x5B;D]]</text>") +
        "</page>",
      "<page><title>Cdata</title>" +
        rev("<text>a <![CDATA[<b> & [[E]]]]> c</text>") + "</page>",
      "<page><title>Empty</title>" +
        rev("<text xml:space=\"preserve\"/>") + "</page>",
      "<page><title>Commented</title>" +
        rev("<comment>see [[F]]</comment><text>[[G]]</text>") + "</page>",
      "<page><title>Malformed</title>" + rev("<text>a < b [[H]]</text>") +
        "</page>",
      "<page>\n  <title>Dump shape</title>\n  <ns>0</ns>\n  <id>8</id>\n" +
        "  <revision>\n    <id>1</id>\n    <text bytes=\"9\" " +
        "xml:space=\"preserve\">\n[[I]] é中 \n</text>\n  </revision>\n" +
        "</page>",
      "<page><title>No revision</title></page>",
      "<page><title>Old</title><title>Last title</title>" +
        rev("<text>old</text>") + rev("<id>2</id>") + "</page>"))
    val got = rows(WikiPipeline.readPages(spark, doc)).toSeq
    assert(got === rows(WikiPipeline.readPagesNative(spark, doc)).toSeq)
    assert(got === Seq(
      ("Tabbed", "[[A]]"), ("", "[[B]]"),
      ("Amp", "x & y [[C]] <z> [[D]]"), ("Cdata", "a <b> & [[E]] c"),
      ("Empty", ""), ("Commented", "[[G]]"), ("Malformed", null),
      ("Dump shape", "[[I]] é中"), ("No revision", null),
      ("Last title", null)))
  }

  test("malformed records: from_xml's rows, and the next record is kept") {
    // readPages parses each record alone, as from_xml does; the native
    // source reads the whole file as one stream, and after a mismatched
    // end tag it loses the records that follow
    val doc = writeDoc("malformed", Seq(
      "<page><title>Mismatch</title><revision><text>x</revision></page>",
      "<page><title>Markup</title><revision><text>a <b>c</b> d</text>" +
        "</revision></page>",
      "<page><title>Entity</title><revision><text>&nbsp;x</text>" +
        "</revision></page>",
      "<page><title>After</title><revision><text>[[K]]</text>" +
        "</revision></page>"))
    assert(rows(WikiPipeline.readPages(spark, doc)).toSeq === Seq(
      (null, null), ("Markup", "a <b>c</b> d"), ("Entity", null),
      ("After", "[[K]]")))
  }

  test("every boundary position: records owned exactly once") {
    // 40 records whose bodies differ in length so boundaries land inside
    // start tags, end tags, bodies, and between records as splitBytes
    // sweeps. Each record appears exactly once for EVERY split size.
    val docs = (0 until 40).map(i => s"<page><title>t$i</title>" +
      ("x" * (i * 3)) + "</page>").mkString("\n")
    val dir = java.nio.file.Files.createTempDirectory("splitxml")
    val f = dir.resolve("d.xml")
    java.nio.file.Files.write(f, docs.getBytes("UTF-8"))
    val expected = (0 until 40).map(i => s"t$i").toSet
    (7L to 200L by 13L).foreach { sb =>
      val titles = SplittableXml.records(spark, f.toString, "page", sb)
        .collect().map(s => s.replaceAll(".*<title>(.*?)</title>.*", "$1"))
      assert(titles.length === 40, s"splitBytes=$sb lost/duplicated rows")
      assert(titles.toSet === expected, s"splitBytes=$sb")
    }
  }

  test("straddle rule: record body reads past the split end") {
    // One record straddling the boundary: split 1 ends mid-body.
    val xml = "<page><title>long</title>" + ("y" * 500) +
      "</page><page><title>short</title></page>"
    val dir = java.nio.file.Files.createTempDirectory("straddle")
    val f = dir.resolve("s.xml")
    java.nio.file.Files.write(f, xml.getBytes("UTF-8"))
    val recs = SplittableXml.records(spark, f.toString, "page", 100L)
      .collect().sortBy(_.length)
    assert(recs.length === 2)
    assert(recs(0) === "<page><title>short</title></page>")
    assert(recs(1).contains("y" * 500))
  }

  test("planSplits: Hadoop SPLIT_SLOP — split while remaining > 1.1x") {
    // 1000 bytes at 300: remainders 1000,700,400 all exceed 330, so
    // three full splits are cut and a 100-byte tail survives — exactly
    // FileInputFormat's behavior (slop merges only tails <= 10% over).
    val dir = java.nio.file.Files.createTempDirectory("plan")
    val f = dir.resolve("p.xml")
    java.nio.file.Files.write(f, ("z" * 1000).getBytes("UTF-8"))
    val splits = SplittableXml.planSplits(spark, f.toString, 300L)
    assert(splits.map(s => s.end - s.start) === Seq(300L, 300L, 300L, 100L))
    assert(splits.head.start === 0L && splits.last.end === 1000L)
  }

  test("planSplits: tail within slop is merged into the last split") {
    // 1000 bytes at 480: after one split the remaining 520 <= 528
    // (1.1 x 480), so the slop rule emits one merged 520-byte tail
    // instead of a 480 + 40 pair.
    val dir = java.nio.file.Files.createTempDirectory("plan2")
    val f = dir.resolve("p2.xml")
    java.nio.file.Files.write(f, ("z" * 1000).getBytes("UTF-8"))
    val splits = SplittableXml.planSplits(spark, f.toString, 480L)
    assert(splits.map(s => s.end - s.start) === Seq(480L, 520L))
    assert(splits.head.start === 0L && splits.last.end === 1000L)
  }

  test("golden pipeline numbers hold through the splittable path") {
    val pages = WikiPipeline.readPages(spark, fixtureXml,
      splitBytes = 16 * 1024)
    val links = WikiPipeline.links(pages).cache()
    assert(links.count() === WikiFixture.Emissions)
    assert(links.distinct().count() === WikiFixture.DistinctPairs)
    val counts = WikiPipeline.incomingReferenceCounts(links)
    assert(counts.count() === WikiFixture.Rows)
  }

  test("planSplits: a missing file fails, naming the path") {
    val dir = java.nio.file.Files.createTempDirectory("nofile")
    val missing = dir.resolve("absent.xml").toString
    val e = intercept[java.io.FileNotFoundException](
      SplittableXml.planSplits(spark, missing, 8 * 1024))
    assert(e.getMessage.contains(missing))
    // every reader planned through it fails before any job runs
    intercept[java.io.FileNotFoundException](
      WikiPipeline.readPages(spark, missing))
  }

  test("planSplits: a glob that matches nothing fails; an empty dir " +
    "plans zero splits") {
    val dir = java.nio.file.Files.createTempDirectory("noglob")
    val glob = dir.resolve("*.xml").toString
    val e = intercept[java.io.FileNotFoundException](
      SplittableXml.planSplits(spark, glob, 8 * 1024))
    assert(e.getMessage.contains(glob))
    assert(SplittableXml.planSplits(spark, dir.toString, 8 * 1024).isEmpty)
  }
}
