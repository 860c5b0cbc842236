package graft.wiki

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale smoke for the splittable XML scan (S1): run the full pipeline
  * on a multi-hundred-MB dump, report scan parallelism and throughput,
  * and check the copy-invariants (targets unchanged, per-target counts
  * multiplied by the copy factor). The input is
  * `tools/make_wiki_dump.py` over the 10-page test fixture.
  * Usage: runMain graft.wiki.WikiScale <big.xml> <copies>
  */
object WikiScale {
  def main(args: Array[String]): Unit = {
    val Array(xml, copiesStr) = args.take(2)
    val copies = copiesStr.toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      // force multiple input splits even for a ~100MB file so the
      // splittable-scan path is actually exercised
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val pages = WikiPipeline.readPages(spark, xml)
    // The splittable scan (graft.sources.SplittableXml) plans one task
    // per ~maxPartitionBytes byte range WITHIN a file, so even ONE
    // concatenated dump file scans in parallel. (The native XML source,
    // kept as readPagesNative, parallelizes per FILE only — measured:
    // 1 partition for 1 file regardless of maxPartitionBytes.)
    val scanParts = pages.rdd.getNumPartitions
    println(s"[scale] scan partitions: $scanParts")
    val nativeParts = WikiPipeline.readPagesNative(spark, xml)
      .rdd.getNumPartitions
    println(s"[scale] native-source partitions (per-file): $nativeParts")
    // >1 partition is only expected once the input outgrows one split
    // (maxPartitionBytes x 1.1 slop); on small/fixture inputs a single
    // partition is correct, so warn instead of aborting the harness.
    if (scanParts <= 1)
      println(s"[scale] WARNING: splittable scan produced $scanParts " +
        "partition(s) — input likely smaller than one split " +
        "(16MB x 1.1); in-file parallelism not exercised")

    // input size: a file directly, a directory's .xml files, or — for
    // a glob pattern — the parent directory's .xml files
    val bytes = {
      val f = new java.io.File(xml)
      if (f.isFile) f.length()
      else {
        val dir = if (f.isDirectory) f else f.getParentFile
        if (dir != null && dir.isDirectory)
          dir.listFiles().filter(_.getName.endsWith(".xml")).map(_.length()).sum
        else 0L
      }
    }

    // raw record-scan throughput (byte scanner only, no XML parse)
    val tScan = System.nanoTime()
    val nRecs = graft.sources.SplittableXml.records(spark, xml, "page").count()
    val scanSecs = (System.nanoTime() - tScan) / 1e9
    println(f"[scale] raw scan: $nRecs records in $scanSecs%.1f s " +
      f"(${bytes / 1e6 / scanSecs}%.1f MB/s)")

    // the same byte ranges through the DataSource V2 face — must plan
    // the identical splits and count the identical records (count(*)
    // prunes to a zero-width schema, so this is the connector's
    // record-walk overhead vs the raw RDD path)
    val tV2 = System.nanoTime()
    val nV2 = spark.read.format("graft-xml").option("rowTag", "page")
      .load(xml).count()
    val v2Secs = (System.nanoTime() - tV2) / 1e9
    println(f"[scale] DSv2 scan: $nV2 records in $v2Secs%.1f s " +
      f"(${bytes / 1e6 / v2Secs}%.1f MB/s)")
    require(nV2 == nRecs,
      s"DSv2 face diverged from the RDD path: $nV2 vs $nRecs")

    val t0 = System.nanoTime()
    val counts = WikiPipeline.incomingReferenceCounts(
      WikiPipeline.links(pages)).cache()
    val rows = counts.count()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[scale] pipeline: $rows rows in $secs%.1f s " +
      f"(${bytes / 1e6 / secs}%.1f MB/s)")

    // invariants vs the single-copy goldens of the 10-page test fixture
    // (FIXTURES.md §A): same 426 targets, every count multiplied by the
    // copy factor (sources are distinct per copy)
    val max = counts.orderBy(desc("count"), asc("page_title")).limit(1).collect()(0)
    val top = "astronomia moderna"
    println(s"[scale] targets=$rows (expect 426), " +
      s"max=${max.getString(0)}:${max.getLong(1)} (expect $top:${10L * copies})")
    assert(rows == 426L, s"target count $rows != 426")
    assert(max.getString(0) == top && max.getLong(1) == 10L * copies)
    println("[scale] invariants OK")
    spark.stop()
  }
}
