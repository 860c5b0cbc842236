package graft.wiki

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark-native re-expression of the reference engine
  * (AlessioScarfone/MapReduce_itwiki, `src/mr/CountReference.java`): for
  * every page of a MediaWiki XML dump, count how many distinct other pages
  * link to it, emitted as a sorted CSV `page_title,count`.
  *
  * The reference is two chained Hadoop MR jobs (parse+extract+distinct,
  * then sum; CountReference.java:322-363). Here the whole cascade is ONE
  * lazy DataFrame plan: XML scan → project → explode(regexp_extract_all)
  * → filters → groupBy.countDistinct → orderBy → csv. Catalyst plans the
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
  * the only shuffle is the final aggregate on page_to; the XML scan
  * splits by byte range WITHIN a file (graft.sources.SplittableXml), so
  * even a single-file multi-GB dump scans in parallel.
  */
object WikiPipeline {

  /** Same pattern object semantics as CountReference.java:208-209 —
    * Spark's regexp_* run java.util.regex, so match behavior (lazy
    * quantifier, no DOTALL) is identical by construction. */
  val LinkRegex = "\\[\\[(.*?)\\]\\]"

  /** CountReference.java:254-256 — substring needles, order preserved. */
  val BannedSubstrings: Seq[String] =
    Seq("File:", "Categoria:", "Category:", "Aiuto:", "s:", "Image:", "Immagine:")

  /** Only the fields the pipeline consumes (CountReference.java:228-232
    * keeps just title/text characters). Explicit schema — never infer on
    * a multi-GB dump — also drives the XML source's requiredSchema
    * pushdown so StaxXmlParser skips every other element. */
  val pageSchema: StructType = StructType(Seq(
    StructField("title", StringType),
    StructField("revision", StructType(Seq(
      StructField("text", StringType))))))

  /** The chars `String.trim()` strips (CountReference.java:260,263):
    * U+0000 to U+0020. Spark's one-argument `trim` strips only U+0020. */
  private val JavaTrimChars: String = (0 to 0x20).map(_.toChar).mkString

  private def javaTrim(c: Column): Column = trim(c, JavaTrimChars)

  /** S1+E1: splittable tag scan + nested projection. Replaces
    * XmlInputFormat (CountReference.java:94-203) and the hand-rolled
    * StAX loop (:211-244).
    *
    * Scale note: Spark 4's native XML source does NOT split WITHIN a
    * file (measured — see [[readPagesNative]] and WikiScale), so a
    * single-file 100 GB dump would degrade to one scan task there.
    * [[graft.sources.SplittableXml]] restores the reference's in-file
    * parallelism: driver-planned byte ranges + the straddle rule on
    * `<page>` boundaries, `from_xml` for parsing — one task per
    * ~128 MB of dump regardless of file count. */
  def readPages(spark: SparkSession, path: String): DataFrame =
    graft.sources.SplittableXml.read(spark, path, "page", pageSchema)
      .select(col("title"), col("revision.text").as("text"))

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
    * link emission, columns (page_to, page_from). Mirrors parseText
    * (CountReference.java:246-266) including rule ORDER: pipe-split, then
    * namespace filter, then bracket/comma cleanup, then non-empty. */
  def links(pages: DataFrame): DataFrame = {
    // Guard at CountReference.java:237: raw (untrimmed) title/text must be
    // non-empty; the emitted page_from is the TRIMMED title (:263).
    val live = pages.filter(
      col("title").isNotNull && length(col("title")) > 0 &&
      col("text").isNotNull && length(col("text")) > 0)

    // E2: whole match group(0), brackets included (:249). explode of
    // regexp_extract_all == the MR mapper's multi-emit (a Generator).
    val raw = live.select(
      javaTrim(col("title")).as("page_from"),
      explode(regexp_extract_all(col("text"), lit(LinkRegex), lit(0))).as("m"))

    // E3: part before the first '|' of the whole match (:251-253; the
    // startsWith guard there is dead code — see SURVEY.md §1.3.2).
    val target = substring_index(col("m"), "|", 1)
    // F1: substring (not prefix!) namespace filter (:254-256).
    val banned = BannedSubstrings.map(target.contains(_)).reduce(_ || _)

    raw.filter(!banned)
      // E4: strip all [ ] , then trim (:260).
      .select(
        col("page_from"),
        javaTrim(regexp_replace(target, "[\\[\\]\\,]", "")).as("page_to"))
      // F2: drop empty cleaned targets (:261).
      .filter(length(col("page_to")) > 0)
      .select("page_to", "page_from")
  }

  /** A1+A2+O1 fused: the reference's two-job cascade (distinct over
    * (to,from) then sum per to; CountReference.java:269-306) is exactly
    * countDistinct — Catalyst plans partial-distinct + final-count with
    * map-side combine, and orderBy is a range-partitioned sort in Spark's
    * default UTF8_BINARY collation (== Hadoop Text byte order). */
  def incomingReferenceCounts(linkRows: DataFrame): DataFrame =
    linkRows
      .groupBy(col("page_to").as("page_title"))
      .agg(countDistinct(col("page_from")).as("count"))
      .orderBy("page_title")

  /** Whole pipeline: XML path in, sorted counts frame out. */
  def run(spark: SparkSession, xmlPath: String): DataFrame =
    incomingReferenceCounts(links(readPages(spark, xmlPath)))

  /** W2+W3: single CSV file with literal header `page_title,count`
    * and raw `title,count` lines, exactly as the reference writes them
    * (CountReference.java:292-295,304) — no CSV quoting or escaping of
    * titles that hold `"` or `,`. One single-file text write
    * (coalesce(1) ONLY here, at the final finalize step — upstream
    * parallelism is untouched because coalesce folds into the write),
    * then the header and that part file stream into `outFile`.
    */
  def writeCsv(counts: DataFrame, outFile: String): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import scala.util.Using
    val tmp = outFile + ".dir"
    counts.select(concat(col("page_title"), lit(","),
        col("count").cast(StringType)))
      .coalesce(1).write.mode("overwrite").text(tmp)
    val part = Using.resource(Files.list(Paths.get(tmp))) { s =>
      s.iterator().asScala.find(_.getFileName.toString.startsWith("part-"))
        .getOrElse(sys.error(
          s"writeCsv: no part- file produced under $tmp (write failed or empty output dir)"))
    }
    Using.resource(Files.newOutputStream(Paths.get(outFile))) { out =>
      out.write("page_title,count\n".getBytes("UTF-8"))
      Files.copy(part, out)
    }
    // best-effort cleanup of the temp dir
    Using.resource(Files.list(Paths.get(tmp))) { s =>
      s.iterator().asScala.foreach(p => Files.deleteIfExists(p))
    }
    Files.deleteIfExists(Paths.get(tmp))
  }
}
