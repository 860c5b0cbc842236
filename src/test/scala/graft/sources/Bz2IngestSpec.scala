package graft.sources

import graft.SparkSpec
import graft.wiki.{WikiFixture, WikiPipeline}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.BZip2Codec

/** Bz2Ingest: the decompress-once prep step must reproduce the dump
  * exactly — same pages, same pipeline result — as uncompressed part
  * files that both the splittable scan and the native rowTag source
  * can read, cut only at page boundaries. */
class Bz2IngestSpec extends SparkSpec {

  private val fixture = WikiFixture.path

  private lazy val (bz2Path, outDir, result) = {
    val work = java.nio.file.Files.createTempDirectory("bz2ingest").toString
    val conf = new Configuration()
    val fs = new Path(work).getFileSystem(conf)
    // compress the golden fixture with the same Hadoop codec family
    // the ingest reads through
    val bz2 = s"$work/dump.xml.bz2"
    val codec = new BZip2Codec()
    codec.setConf(conf)
    val out = codec.createOutputStream(fs.create(new Path(bz2), true))
    val in = java.nio.file.Files.newInputStream(
      java.nio.file.Paths.get(fixture))
    val buf = new Array[Byte](64 * 1024)
    var n = in.read(buf)
    while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
    in.close(); out.close()
    // 16 KB target on the 187 KB fixture: several rotations exercised
    val dir = s"$work/parts"
    val r = Bz2Ingest.ingest(bz2, dir, 16 * 1024)
    (bz2, dir, r)
  }

  test("splits into multiple page-aligned parts") {
    assert(result.parts > 1, s"expected >1 part, got ${result.parts}")
    assert(result.decompressedBytes >
      new java.io.File(fixture).length() - 64,
      "decompressed byte count should cover the whole dump")
    val parts = new java.io.File(outDir).listFiles()
      .filter(_.getName.endsWith(".xml")).sortBy(_.getName)
    assert(parts.length === result.parts)
    for (p <- parts) {
      val text = new String(
        java.nio.file.Files.readAllBytes(p.toPath), "UTF-8")
      assert(text.startsWith("<mediawiki"),
        s"${p.getName} lost the dump header")
      assert(text.trim.endsWith("</mediawiki>"),
        s"${p.getName} lost the wrapper footer")
      // page-aligned: equal numbers of open and close tags
      assert("<page>".r.findAllIn(text).length ===
        "</page>".r.findAllIn(text).length,
        s"${p.getName} cut inside a page")
    }
  }

  test("page records are preserved exactly (splittable scan)") {
    val orig = SplittableXml.records(spark, fixture, "page")
      .collect().sorted
    val got = SplittableXml.records(spark, outDir, "page")
      .collect().sorted
    assert(got.length === orig.length)
    assert(got === orig, "ingest changed page bytes")
  }

  test("native rowTag source reads every part (well-formed XML)") {
    val n = WikiPipeline.readPagesNative(spark, s"$outDir/*.xml").count()
    assert(n === WikiPipeline.readPagesNative(spark, fixture).count())
  }

  test("full pipeline over ingested parts matches the original") {
    val a = WikiPipeline.incomingReferenceCounts(
      WikiPipeline.links(WikiPipeline.readPages(spark, fixture)))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val b = WikiPipeline.incomingReferenceCounts(
      WikiPipeline.links(WikiPipeline.readPages(spark, outDir)))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(a === b)
  }
}
