package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TABLE-LAYER SCALE RUNG — one FILE-COUNT decade for the chain's
  * maintenance paths (the VERDICT-r13 ask: the queries carry measured
  * sf0.1→sf1 exponents, the table layer carried only arguments).
  *
  * Setup isolates per-FILE cost from per-ROW cost: the same sf0.1
  * documents table is laid out twice, ~100 files vs ~1000 files
  * (two-level manifest-tree territory), so DATA volume is constant
  * across the decade and only the file count moves. Each operation's
  * claim is O(touched files + manifest metadata); with constant data
  * and 10× files, an exponent near 0 means the op is dominated by the
  * touched-file work (bounded, scale-safe), while ~1.0 means a
  * per-file cost proportional to the WHOLE table's file count — for
  * commits that's the manifest-union term (metadata rows, cheap but
  * honest to report), for anything else it's a flag.
  *
  * Ops measured (fresh chain per pass, min of `SPARK_GRAFT_BENCH
  * _PASSES`, default 2):
  *   append      — appendCommit of a 1k-row batch
  *   mor_merge   — morMergeCommit, 1k updates + 100 inserts
  *   dv_delete   — dvDeleteCommit of 1k keys
  *   feed_step   — changeFeedStep over the merge version (count())
  *   time_travel — versionAsOf resolution at head
  *   history     — describeHistory over the 3-version chain (count())
  *   vacuum      — expireVersions(keepLast = 1)
  *   sql_prune_select — catalog SELECT with a stats-column WHERE
  *                 (manifest-pruned partition planning, round 14)
  *   sql_count_meta   — SELECT count(*) via the metadata aggregate
  *   bloom_build      — per-file bloom index build at head
  *   sql_point_lookup — catalog SELECT ... WHERE doc_id IN (4 keys)
  *                 through the bloom-planned scan
  *   sql_point_delete — SQL DELETE WHERE doc_id IN (4 keys)
  *                 (bloom-planned positions)
  *
  * Usage: `runMain graft.TableScaleBench [sf0.1 dir]`; prints one
  * JSON line and writes TABLE_SCALE_LOCAL.json. Exponent =
  * log10(t_1000f / t_100f). */
object TableScaleBench {

  val ops: Seq[String] = Seq("append", "mor_merge", "dv_delete",
    "feed_step", "time_travel", "history",
    "sql_prune_select", "sql_prune_multi", "sql_topn",
    "sql_topn_plan",
    "sql_count_meta", "sql_agg_cstats", "sql_agg_sum",
    "sql_groupby_mixed", "bloom_build",
    "sql_point_lookup", "sql_point_delete", "vacuum",
    "append_stats_all", "append_stats_none")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.SparkTune.tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // 1000 files exceeds the default driver clamp deliberately — the
    // clamp is a planning-discipline guard, not a protocol limit
    spark.conf.set("graft.manifest.maxDriverFiles", "100000")

    val docs = Tables.load(spark, sfDir, "documents").localCheckpoint()
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt

    def timeOps(nFiles: Int, pass: Int): Map[String, Double] = {
      import graft.sources.ManifestPrune
      val root = Tables.matDir(
        s"tscale_${nFiles}f_p${pass}_${System.nanoTime}", spark, sfDir)
      ManifestPrune.buildLayout(docs, root, nFiles = nFiles)
      val t = scala.collection.mutable.Map[String, Double]()
      def timed[A](op: String)(body: => A): A = {
        val t0 = System.nanoTime()
        val r = body
        t(op) = (System.nanoTime() - t0) / 1e9
        r
      }
      val batch = docs.orderBy("doc_id").limit(1000)
        .select((col("doc_id") + 70000000L).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars"))
        .localCheckpoint()
      timed("append")(ManifestPrune.appendCommit(spark, root, batch))
      // round 16: metadata SUM + GROUP BY rollup decades, measured
      // BEFORE any sidecar lands (hidden rows refuse both paths).
      // sql_agg_sum answers metadata-only (the cstats_sum rollup is
      // driver arithmetic over O(files) manifest rows). The grouped
      // rollup on this range-clustered layout runs its constancy
      // check over the manifest rows and then REFUSES (files mix
      // langs) — its decade is the group plan plus the constant-data
      // scan, i.e. exactly the planning cost under test.
      spark.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftCatalog].getName)
      val tblE = s"tsb.e_${nFiles}f_p${pass}_${System.nanoTime}"
      graft.sources.GraftCatalog.registerTable(tblE, root)
      timed("sql_agg_sum")(
        spark.sql(s"SELECT sum(n_chars) AS s, sum(doc_id) AS t " +
          s"FROM graft.$tblE").collect())
      timed("sql_groupby_mixed")(
        spark.sql(s"SELECT lang, count(*) AS n FROM graft.$tblE " +
          "GROUP BY lang").collect())
      val updates = docs.orderBy("doc_id").limit(1000)
        .select(col("doc_id"), lit("ts").as("lang")).localCheckpoint()
      val inserts = docs.orderBy("doc_id").limit(100)
        .select((col("doc_id") + 80000000L).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars")).localCheckpoint()
      val mergeV = timed("mor_merge")(
        ManifestPrune.morMergeCommit(spark, root, updates, inserts))
      val dels = docs.orderBy(col("doc_id").desc).limit(1000)
        .select("doc_id").localCheckpoint()
      timed("dv_delete")(ManifestPrune.dvDeleteCommit(spark, root, dels))
      timed("feed_step")(
        ManifestPrune.changeFeedStep(spark, root, mergeV).count())
      timed("time_travel")(
        ManifestPrune.versionAsOf(spark, root,
          System.currentTimeMillis()))
      timed("history")(
        ManifestPrune.describeHistory(spark, root).count())
      // ---- the SQL face's planning surfaces (round 14): constant
      // data, 10x files — planning cost is the variable under test
      spark.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftCatalog].getName)
      val tbl = s"tsb.t_${nFiles}f_p${pass}_${System.nanoTime}"
      graft.sources.GraftCatalog.registerTable(tbl, root)
      timed("sql_prune_select")(
        spark.sql(s"SELECT count(*) AS n FROM graft.$tbl " +
          "WHERE n_chars BETWEEN 120 AND 200").collect())
      // round 15: the per-column-stats planning surfaces — composite
      // multi-dimension pruning, cstats-backed TopN, metadata
      // aggregates on non-spec columns
      timed("sql_prune_multi")(
        spark.sql(s"SELECT count(*) AS n FROM graft.$tbl " +
          "WHERE lang = 'en' AND n_chars BETWEEN 120 AND 200")
          .collect())
      timed("sql_topn")(
        spark.sql(s"SELECT doc_id FROM graft.$tbl " +
          "ORDER BY n_chars LIMIT 10").collect())
      // round 16: the TopN FILE PLAN in isolation (no execution) —
      // the drop-set arithmetic is the one loop that used to be
      // O(files²) on the driver; post-fix its decade must stay flat
      // (the residual slope is the manifest read job, O(files) rows)
      val headTopN = ManifestPrune.currentVersion(spark, root)
      timed("sql_topn_plan")(
        graft.sources.ChainSkip.topNFiles(spark, root, headTopN,
          "n_chars", ascending = true, nullsFirst = true, k = 10))
      timed("sql_count_meta")(
        spark.sql(s"SELECT count(*) AS n FROM graft.$tbl").collect())
      timed("sql_agg_cstats")(
        spark.sql(s"SELECT min(doc_id) AS a, max(doc_id) AS b, " +
          s"count(lang) AS c FROM graft.$tbl").collect())
      val head = ManifestPrune.currentVersion(spark, root)
      timed("bloom_build")(
        graft.sources.BloomIndex.build(spark, root, head))
      val probeIds = docs.orderBy("doc_id").limit(4)
        .select("doc_id").collect().map(_.getLong(0))
      timed("sql_point_lookup")(
        spark.sql(s"SELECT doc_id, lang FROM graft.$tbl " +
          s"WHERE doc_id IN (${probeIds.mkString(", ")})").collect())
      timed("sql_point_delete")(
        spark.sql(s"DELETE FROM graft.$tbl " +
          s"WHERE doc_id IN (${probeIds.mkString(", ")})"))
      timed("vacuum")(
        ManifestPrune.expireVersions(spark, root, keepLast = 1,
          graceMs = 0L))
      // round 16: the stats-policy contrast — the SAME append, full
      // per-column stats vs policy 'none' (spec key only), back to
      // back on the same chain state. The delta is the per-commit
      // price of statting every column; 'none' is what a table that
      // only ever prunes on its clustering key should configure.
      def freshBatch(off: Long) = docs.orderBy("doc_id").limit(1000)
        .select((col("doc_id") + off).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars"))
        .localCheckpoint()
      ManifestPrune.setStatsPolicy(root, "all")
      val bAll = freshBatch(71000000L)
      timed("append_stats_all")(
        ManifestPrune.appendCommit(spark, root, bAll))
      ManifestPrune.setStatsPolicy(root, "none")
      val bNone = freshBatch(72000000L)
      timed("append_stats_none")(
        ManifestPrune.appendCommit(spark, root, bNone))
      t.toMap
    }

    def best(nFiles: Int): Map[String, Double] = {
      val samples = (1 to passes).map(p => timeOps(nFiles, p))
      ops.map(o => o -> samples.map(_(o)).min).toMap
    }

    // warm the JIT/codegen on a throwaway small chain
    timeOps(20, 0)
    val small = best(100)
    val big = best(1000)

    def r3(v: Double): String =
      java.math.BigDecimal.valueOf(v)
        .setScale(3, java.math.RoundingMode.HALF_UP).toPlainString
    val rows = ops.map { o =>
      val e = math.log10(big(o) / small(o))
      s""""$o":{"f100":${r3(small(o))},"f1000":${r3(big(o))},""" +
        s""""exponent":${r3(e)}}"""
    }
    val json = s"""{"metric":"table_scale_exponents",""" +
      s""""decade":"100->1000 files, constant data",""" +
      s""""ops":{${rows.mkString(",")}}}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/root/repo/TABLE_SCALE_LOCAL.json"),
      json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[tablescale] write failed: ${e.getMessage}")
    }
    println(json)
    spark.stop()
  }
}
