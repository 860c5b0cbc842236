package graft.wiki

import java.io.{BufferedOutputStream, ByteArrayInputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import javax.xml.stream.{XMLInputFactory, XMLStreamException, XMLStreamReader}
import javax.xml.stream.XMLStreamConstants._

import scala.util.Using
import scala.util.control.NonFatal

import graft.sources.SplittableXml
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XmlToStructs}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Spark-native re-expression of the reference engine
  * (AlessioScarfone/MapReduce_itwiki, `src/mr/CountReference.java`): for
  * every page of a MediaWiki XML dump, count how many distinct other pages
  * link to it, emitted as a sorted CSV `page_title,count`.
  *
  * The reference is two chained Hadoop MR jobs (parse+extract+distinct,
  * then sum; CountReference.java:322-363). Here the whole cascade is ONE
  * lazy DataFrame plan: a byte-range XML scan whose task parses each
  * page's (title, text) → explode([[LinkTargets]]) →
  * groupBy.countDistinct → sort in the one task that writes the CSV
  * file itself ([[writeCsv]]). Catalyst plans the
  * partial/final aggregate pair (the combiner the reference never wrote)
  * and the disk round-trip between the two jobs disappears.
  *
  * Link-extraction semantics replicate CountReference.java:246-266
  * bit-for-bit, quirks included (see SURVEY.md §1.3):
  *   - `\[\[(.*?)\]\]` lazy regex, NO DOTALL: links containing a newline
  *     never match (CountReference.java:208-209).
  *   - piped links keep the part before the first `|` of the WHOLE match,
  *     brackets included (CountReference.java:251-253).
  *   - namespace filter is substring `contains` — NOT prefix — over seven
  *     needles; `s:` famously drops `[[Genesis: storia]]`
  *     (CountReference.java:254-256).
  *   - cleanup strips ALL `[`/`]`/`,` then trims (CountReference.java:260);
  *     both trims, here and of the source title (:263), are Java's
  *     `String.trim()`, which strips every char <= U+0020, tabs included.
  *   - duplicate links from one page count once; self-links count
  *     (CountReference.java:269-276).
  *
  * Scale posture: every step is a codegen'd Catalyst expression (no UDFs);
  * the two shuffles are the aggregate's, on (page_to, page_from) and then
  * on page_to, and the final sort runs in the task that writes; the XML scan
  * splits by byte range WITHIN a file (graft.sources.SplittableXml), so
  * even a single-file multi-GB dump scans in parallel.
  */
object WikiPipeline {

  /** Same pattern as CountReference.java:208-209, compiled by
    * [[LinkTargets]] with java.util.regex, so match behavior (lazy
    * quantifier, no DOTALL) is identical by construction. */
  val LinkRegex = "\\[\\[(.*?)\\]\\]"

  /** CountReference.java:254-256 — substring needles, order preserved. */
  val BannedSubstrings: Seq[String] =
    Seq("File:", "Categoria:", "Category:", "Aiuto:", "s:", "Image:", "Immagine:")

  /** Only the fields the pipeline consumes (CountReference.java:228-232
    * keeps just title/text characters): the nested schema that
    * [[readPagesNative]] reads with, and that [[PageReader]] hands a
    * record it leaves to `from_xml`. Explicit — never infer on a
    * multi-GB dump. */
  val pageSchema: StructType = StructType(Seq(
    StructField("title", StringType),
    StructField("revision", StructType(Seq(
      StructField("text", StringType))))))

  /** The chars `String.trim()` strips (CountReference.java:260,263):
    * U+0000 to U+0020. Spark's one-argument `trim` strips only U+0020. */
  private val JavaTrimChars: String = (0 to 0x20).map(_.toChar).mkString

  private def javaTrim(c: Column): Column = trim(c, JavaTrimChars)

  /** S1+E1: splittable tag scan that parses in the scan task. Replaces
    * XmlInputFormat (CountReference.java:94-203) and the hand-rolled
    * StAX loop (:211-244): each task scans its byte ranges of the dump
    * for `<page>` records ([[graft.sources.SplittableXml.scan]]) and
    * hands each record's bytes to one [[PageReader]], which emits the
    * row (title, text) — the values `from_xml` gives with
    * [[pageSchema]]; [[readPagesNative]] is the parity baseline.
    *
    * Scale note: Spark 4's native XML source does NOT split WITHIN a
    * file (measured — see [[readPagesNative]] and WikiScale), so a
    * single-file 100 GB dump would degrade to one scan task there. The
    * byte-range scan restores the reference's in-file parallelism: one
    * task per ~128 MB of dump regardless of file count.
    * `splitBytes <= 0` means use `spark.sql.files.maxPartitionBytes`. */
  def readPages(spark: SparkSession, path: String,
                splitBytes: Long = 0L): DataFrame =
    GraftSqlShims.internalCreateDataFrame(spark,
      SplittableXml.scan(spark, path, "page", splitBytes)(() => new PageReader),
      StructType(Seq(StructField("title", StringType),
        StructField("text", StringType))))

  /** Spark's built-in rowTag XML source — parallelism is per FILE only,
    * kept as the cross-validation baseline for the splittable scan
    * (SplittableXmlSpec asserts row-set equality on the fixture). */
  def readPagesNative(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("rowTag", "page")
      .schema(pageSchema)
      .xml(path)
      .select(col("title"), col("revision.text").as("text"))

  /** E2→E3→F1→E4→F2 over a (title, text) frame: one row per surviving
    * link emission, columns (page_to, page_from). [[LinkTargets]] runs
    * the matcher once per text and applies parseText's rules
    * (CountReference.java:246-266) in their order; `explode` is the MR
    * mapper's multi-emit.
    *
    * The guard at CountReference.java:237 (raw, untrimmed title and text
    * non-empty) nulls the generator's input instead of filtering rows.
    * The emitted page_from is the TRIMMED title (:263).
    */
  def links(pages: DataFrame): DataFrame = {
    val nonEmpty = (c: Column) => coalesce(length(c), lit(0)) > 0
    pages.select(
      explode(LinkTargets.linkTargets(
        when(nonEmpty(col("title")) && nonEmpty(col("text")), col("text"))))
        .as("page_to"),
      javaTrim(col("title")).as("page_from"))
  }

  /** A1+A2 fused: the reference's two-job cascade (distinct over
    * (to,from) then sum per to; CountReference.java:269-306) is exactly
    * countDistinct — Catalyst plans the (page_to, page_from) dedup and the
    * partial count with map-side combine, N tasks wide. */
  private[wiki] def countsByTarget(linkRows: DataFrame): DataFrame =
    linkRows
      .groupBy(col("page_to").as("page_title"))
      .agg(countDistinct(col("page_from")).as("count"))

  /** A1+A2+O1: counts per target, sorted in Spark's default UTF8_BINARY
    * collation (== Hadoop Text byte order). The output is one CSV, so the
    * sort runs in the single task that writes it: coalesce(1) folds the
    * final count merge (at most one partial row per target and shuffle
    * partition) into that task, and no range exchange or sampling job is
    * planned. */
  def incomingReferenceCounts(linkRows: DataFrame): DataFrame =
    countsByTarget(linkRows).coalesce(1).sortWithinPartitions("page_title")

  /** Whole pipeline: XML path in, sorted counts frame out. */
  def run(spark: SparkSession, xmlPath: String): DataFrame =
    incomingReferenceCounts(links(readPages(spark, xmlPath)))

  /** W2+W3: single CSV file with literal header `page_title,count`
    * and raw `title,count` lines, exactly as the reference writes them
    * (CountReference.java:292-295,304) — no CSV quoting or escaping of
    * titles that hold `"` or `,`.
    *
    * One SQL execution runs the frame after `coalesce(1)`, which folds
    * into the last stage as in [[incomingReferenceCounts]], so upstream
    * parallelism is untouched. Its single task streams the header and
    * the lines into a hidden sibling of `outFile`,
    * `.<name>.<task attempt id>.tmp`, and the driver then moves that
    * file onto `outFile` atomically (replacing any previous file), as the
    * reference's driver copies its one part file (:322-377). A failed
    * attempt deletes its own file, so a failed write leaves `outFile` as
    * it was. When no partition runs (an empty plan), the driver writes
    * the header-only file. The driver and the executors must share
    * `outFile`'s directory as a local path.
    */
  def writeCsv(counts: DataFrame, outFile: String): Unit = {
    val out = Paths.get(outFile).toAbsolutePath
    Files.createDirectories(out.getParent)
    val (dir, name) = (out.getParent.toString, out.getFileName.toString)
    val qe = counts.select(concat(col("page_title"), lit(","),
        col("count").cast(StringType)))
      .coalesce(1).queryExecution
    val written = SQLExecution.withNewExecutionId(qe, Some("writeCsv")) {
      val lines = qe.toRdd
      lines.sparkContext.runJob(lines,
        (ctx: TaskContext, it: Iterator[InternalRow]) =>
          writeTmp(dir, name, ctx.taskAttemptId().toString, it))
    }
    val tmp = written.headOption
      .getOrElse(writeTmp(dir, name, "driver", Iterator.empty))
    Files.move(Paths.get(tmp), out, ATOMIC_MOVE, REPLACE_EXISTING)
  }

  private val CsvHeader = "page_title,count\n".getBytes(UTF_8)

  /** Writes the header and one line per row of `lines` (a single string
    * column) to `dir/.<name>.<tag>.tmp` and returns its path; on any
    * failure the file is deleted and the failure rethrown. */
  private def writeTmp(dir: String, name: String, tag: String,
                       lines: Iterator[InternalRow]): String = {
    val tmp = Paths.get(dir, s".$name.$tag.tmp")
    try {
      Using.resource(new BufferedOutputStream(
          Files.newOutputStream(tmp), 64 * 1024)) { os =>
        os.write(CsvHeader)
        lines.foreach { line =>
          if (!line.isNullAt(0)) line.getUTF8String(0).writeTo(os)
          os.write('\n')
        }
      }
      tmp.toString
    } catch {
      case e: Throwable =>
        Files.deleteIfExists(tmp)
        throw e
    }
  }
}

/** The reference mapper's StAX loop (CountReference.java:211-244) for one
  * scan task: reads a `<page>` record's bytes and emits the row
  * (title, text) with the values `from_xml` gives for
  * [[WikiPipeline.pageSchema]]:
  *   - title is the page's `title` child and text the `text` child of
  *     its `revision` child; every other element is skipped, and where an
  *     element repeats, the last one wins (a later `revision` without
  *     `text` gives null);
  *   - a value is its element's character data with entities and CDATA
  *     decoded and comments and processing instructions dropped, trimmed
  *     as `String.trim()` does; an empty element gives "", a missing one
  *     null.
  * A record outside that common shape — not well formed, not valid
  * UTF-8, or with markup or an unresolved entity inside title or text —
  * is parsed by `from_xml`'s own expression instead, so its row is
  * exactly what `from_xml` gives, partial results and all.
  *
  * The StAX factory is made once per task, with the settings of the one
  * behind `from_xml`: not namespace aware, coalescing, no DTD and no
  * external entities. */
private[wiki] final class PageReader extends ((Array[Byte], Int) => InternalRow) {
  private val factory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, false)
    f.setProperty(XMLInputFactory.IS_COALESCING, true)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f
  }
  private val chars = new java.lang.StringBuilder
  private lazy val fromXml = XmlToStructs(WikiPipeline.pageSchema,
    Map.empty, BoundReference(0, StringType, nullable = true), Some("UTC"))

  def apply(bytes: Array[Byte], len: Int): InternalRow =
    try parse(bytes, len)
    catch { case NonFatal(_) => parseFromXml(bytes, len) }

  private def parse(bytes: Array[Byte], len: Int): InternalRow = {
    val r = factory.createXMLStreamReader(
      new ByteArrayInputStream(bytes, 0, len), "UTF-8")
    try {
      var title, text: UTF8String = null
      r.next() // <page>, the record's first bytes
      while (nextChild(r)) r.getLocalName match {
        case "title" => title = value(r)
        case "revision" =>
          text = null
          while (nextChild(r))
            if (r.getLocalName == "text") text = value(r) else skip(r)
        case _ => skip(r)
      }
      InternalRow(title, text)
    } finally r.close()
  }

  /** Moves to the current element's next child: true at its start, false
    * at the current element's end. */
  private def nextChild(r: XMLStreamReader): Boolean = {
    var ev = r.next()
    while (ev != START_ELEMENT && ev != END_ELEMENT) ev = r.next()
    ev == START_ELEMENT
  }

  private def skip(r: XMLStreamReader): Unit = {
    var depth = 1
    while (depth > 0) r.next() match {
      case START_ELEMENT => depth += 1
      case END_ELEMENT => depth -= 1
      case _ =>
    }
  }

  private def value(r: XMLStreamReader): UTF8String = {
    chars.setLength(0)
    var ev = r.next()
    while (ev != END_ELEMENT) {
      ev match {
        case CHARACTERS | CDATA | SPACE =>
          chars.append(r.getTextCharacters, r.getTextStart, r.getTextLength)
        case COMMENT | PROCESSING_INSTRUCTION =>
        case _ => throw new XMLStreamException(s"event $ev inside a value")
      }
      ev = r.next()
    }
    UTF8String.fromString(chars.toString.trim)
  }

  private def parseFromXml(bytes: Array[Byte], len: Int): InternalRow = {
    val page = fromXml.eval(InternalRow(UTF8String.fromString(
      new String(bytes, 0, len, UTF_8)))).asInstanceOf[InternalRow]
    if (page == null) InternalRow(null, null)
    else {
      val rev = page.getStruct(1, 1)
      InternalRow(page.getUTF8String(0),
        if (rev == null) null else rev.getUTF8String(0))
    }
  }
}
