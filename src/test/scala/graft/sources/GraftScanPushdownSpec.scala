package graft.sources

import graft.{JobCounting, SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** The SQL catalog scan's planning surfaces (round 14):
  *
  *  - `SupportsPushDownV2Filters` — a WHERE on the clustering stats
  *    column prunes the manifest's file list BEFORE partition
  *    planning (spec-aware, same soundness rule as
  *    planRangeCommitted), while every predicate stays a post-scan
  *    filter so skipping can never change results;
  *  - `SupportsReportStatistics` — post-pruning row counts from
  *    manifest arithmetic let Catalyst broadcast a small graft table
  *    without hints;
  *  - `SupportsPushDownAggregates` — global COUNT(*)/MIN/MAX answer
  *    from metadata alone (proof: the data files are DELETED and the
  *    aggregate still answers), refused exactly when hidden rows
  *    make metadata insufficient. */
class GraftScanPushdownSpec extends SparkSpec with JobCounting {

  private def ensureCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft",
      classOf[GraftCatalog].getName)

  private def docs: DataFrame =
    Tables.load(spark, sf0001, "documents")

  private def freshChain(tag: String): (String, String) = {
    ensureCatalog()
    val root = Tables.matDir(s"push_${tag}_${System.nanoTime}", spark,
      sf0001)
    ManifestPrune.buildLayout(docs, root, nFiles = 8)
    val tbl = s"push.${tag}_${System.nanoTime}"
    GraftCatalog.registerTable(tbl, root)
    (tbl, root)
  }

  private def chainScans(df: DataFrame): Seq[BatchScanExec] = {
    df.collect() // materialize so AQE finalizes the plan
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[BatchScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => walk(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive
          .QueryStageExec => walk(qs.plan)
      case b: BatchScanExec
          if b.scan.description().startsWith("graft-chain") => Seq(b)
      case other => other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  test("WHERE on the stats column prunes input partitions through " +
    "manifest min/max; results are byte-identical to the unpruned " +
    "filter") {
    val (tbl, root) = freshChain("prune")
    val nFiles = spark.read.parquet(s"$root/manifest").count()
    assert(nFiles === 8L)

    val q = spark.sql(s"SELECT doc_id, lang, n_chars FROM graft.$tbl " +
      "WHERE n_chars BETWEEN 120 AND 200")
    val scans = chainScans(q)
    assert(scans.length === 1)
    val planned = scans.head.inputPartitions.length
    assert(planned < 8,
      s"expected manifest pruning to drop files, planned=$planned")
    assert(planned > 0)
    assert(scans.head.scan.description().contains("skip:n_chars"))

    val expect = docs.filter(col("n_chars").between(120, 200))
      .select("doc_id", "lang", "n_chars")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(q.collect().map(_.toSeq).sortBy(_.toString) === expect)
  }

  test("a predicate on a column no spec stats prunes nothing and " +
    "stays correct; OR shapes never mis-prune") {
    val (tbl, _) = freshChain("nostat")
    val q = spark.sql(
      s"SELECT count(*) AS n FROM graft.$tbl WHERE doc_id < 100")
    assert(q.collect().head.getLong(0) ===
      docs.filter(col("doc_id") < 100).count())

    // an OR across columns reaches the scan un-tightened: full plan,
    // exact rows
    val or = spark.sql(s"SELECT count(*) AS n FROM graft.$tbl " +
      "WHERE n_chars < 50 OR doc_id % 7 = 0")
    assert(or.collect().head.getLong(0) ===
      docs.filter(col("n_chars") < 50 || col("doc_id") % 7 === 0)
        .count())
  }

  test("reported statistics carry post-pruning live row counts, and " +
    "a small graft table broadcasts in a join without hints") {
    val (tbl, root) = freshChain("stats")
    // the version's reported numRows equals the live count
    val scan = new GraftChainScan(root, 0L,
      ManifestPrune.readVersion(spark, s"$root/manifest").schema)
    assert(scan.estimateStatistics().numRows().getAsLong ===
      docs.count())

    // DV-delete a slice: reported rows drop to the live count
    val v1 = ManifestPrune.dvDeleteWhereCommit(spark, root,
      col("doc_id") % 3 === 0)
    val scan1 = new GraftChainScan(root, v1,
      ManifestPrune.readVersion(spark, ManifestPrune.manifestOf(root,
        v1)).schema)
    assert(scan1.estimateStatistics().numRows().getAsLong ===
      docs.filter(col("doc_id") % 3 =!= 0).count())

    // joined to a larger in-memory side WITHOUT a broadcast hint, the
    // catalog table's reported size is what lets Catalyst choose a
    // broadcast hash join
    val big = spark.range(0, 50000)
      .select(col("id").as("doc_id"), (col("id") * 2).as("v"))
    val j = big.join(spark.sql(s"SELECT doc_id, lang FROM graft.$tbl"),
      "doc_id")
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected a stats-driven broadcast join, got:\n$plan")
  }

  test("global COUNT(*)/MIN/MAX answer from metadata alone — the " +
    "data files can be deleted and the aggregate still answers; the " +
    "plan shows the metadata scan and zero input partitions touch " +
    "parquet") {
    // a DDL-created chain: declared schema in the registry from
    // birth, clustering spec statting n_chars — resolution and the
    // pushed aggregate both run without a single data-file read
    ensureCatalog()
    val root = Tables.matDir(s"push_agg_${System.nanoTime}", spark,
      sf0001)
    val tbl = s"push.agg_${System.nanoTime}"
    spark.sql(
      s"""CREATE TABLE graft.$tbl (
         |  doc_id BIGINT, text STRING, lang STRING, source STRING,
         |  n_chars BIGINT)
         |USING graft LOCATION '$root'
         |TBLPROPERTIES ('cluster'='n_chars|n_chars,doc_id',
         |  'key'='doc_id')""".stripMargin)
    val view = s"push_agg_src_${System.nanoTime}"
    docs.createOrReplaceTempView(view)
    spark.sql(s"INSERT INTO graft.$tbl " +
      s"SELECT doc_id, text, lang, source, n_chars FROM $view")

    val exact = docs.agg(count(lit(1)), min(col("n_chars")),
      max(col("n_chars"))).head
    val q = spark.sql(s"SELECT count(*) AS n, min(n_chars) AS lo, " +
      s"max(n_chars) AS hi FROM graft.$tbl")
    val row = q.collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) ===
      (exact.getLong(0), exact.getLong(1), exact.getLong(2)))
    assert(q.queryExecution.executedPlan.toString
      .contains("graft-chain-agg"))

    // the proof the scan is metadata-only: destroy every data file,
    // ask again (a fresh query → fresh loadTable → fresh plan)
    val st = ChainStorage.forPath(root)
    st.list(s"$root/data").foreach(f => st.deleteFile(s"$root/data/$f"))
    st.list(root).filter(_.startsWith("data_")).foreach { d =>
      st.list(s"$root/$d").foreach(f => st.deleteFile(s"$root/$d/$f"))
    }
    val again = spark.sql(s"SELECT count(*) AS n, min(n_chars) AS lo " +
      s"FROM graft.$tbl").collect().head
    assert(again.getLong(0) === exact.getLong(0))
    assert(again.getLong(1) === exact.getLong(1))
  }

  test("MIN/MAX/COUNT(col) on NON-clustering columns answer from " +
    "the per-column stats maps: integral and short-string columns " +
    "push down (provably metadata-only), truncated-text MAX refuses " +
    "into an exact scan") {
    ensureCatalog()
    val suf = System.nanoTime
    val root = Tables.matDir(s"push_cagg_$suf", spark, sf0001)
    // a DDL chain (declared schema — resolution survives the data
    // files' deletion below); lang is null on a slice so COUNT(lang)
    // != COUNT(*); the spec stats n_chars, every other column's
    // aggregate must come from the cstats maps
    val d = docs.withColumn("lang",
      when(col("doc_id") % 7 === 0, lit(null).cast("string"))
        .otherwise(col("lang")))
    val tbl = s"push.cagg_$suf"
    spark.sql(
      s"""CREATE TABLE graft.$tbl (
         |  doc_id BIGINT, text STRING, lang STRING, source STRING,
         |  n_chars BIGINT)
         |USING graft LOCATION '$root'
         |TBLPROPERTIES ('cluster'='n_chars|n_chars,doc_id',
         |  'key'='doc_id')""".stripMargin)
    d.createOrReplaceTempView(s"push_cagg_src_$suf")
    spark.sql(s"INSERT INTO graft.$tbl " +
      s"SELECT doc_id, text, lang, source, n_chars FROM push_cagg_src_$suf")

    val q = spark.sql(s"SELECT min(doc_id) AS a, max(doc_id) AS b, " +
      s"min(lang) AS c, max(lang) AS d, count(lang) AS e " +
      s"FROM graft.$tbl")
    val row = q.collect().head
    val exact = d.agg(min("doc_id"), max("doc_id"), min("lang"),
      max("lang"), count(col("lang"))).head
    assert((row.getLong(0), row.getLong(1), row.getString(2),
      row.getString(3), row.getLong(4)) ===
      (exact.getLong(0), exact.getLong(1), exact.getString(2),
        exact.getString(3), exact.getLong(4)))
    assert(q.queryExecution.executedPlan.toString
      .contains("graft-chain-agg"))

    // text maxes exceed the 64-char truncation budget — MAX(text) is
    // unknowable from metadata and must fall back to an exact scan
    val qt = spark.sql(s"SELECT max(text) AS m FROM graft.$tbl")
    assert(!qt.queryExecution.executedPlan.toString
      .contains("graft-chain-agg"))
    assert(qt.collect().head.getString(0) ===
      d.agg(max("text")).head.getString(0))

    // the metadata-only proof: destroy the data files, ask again
    val st = ChainStorage.forPath(root)
    st.list(s"$root/data").foreach(f => st.deleteFile(s"$root/data/$f"))
    st.list(root).filter(_.startsWith("data_")).foreach { dd =>
      st.list(s"$root/$dd").foreach(f => st.deleteFile(s"$root/$dd/$f"))
    }
    val again = spark.sql(s"SELECT max(doc_id) AS b, count(lang) AS e " +
      s"FROM graft.$tbl").collect().head
    assert(again.getLong(0) === exact.getLong(1))
    assert(again.getLong(1) === exact.getLong(4))
  }

  test("aggregate pushdown refuses exactly when metadata cannot " +
    "answer: DVs block MIN/MAX but not COUNT(*); a WHERE blocks " +
    "both; values stay correct through the scan fallback") {
    val (tbl, root) = freshChain("aggdv")

    ManifestPrune.dvDeleteWhereCommit(spark, root,
      col("doc_id") % 3 === 0)
    val live = docs.filter(col("doc_id") % 3 =!= 0)

    // COUNT(*) still answers from metadata (n_rows minus DV count)
    val c = spark.sql(s"SELECT count(*) AS n FROM graft.$tbl")
    assert(c.collect().head.getLong(0) === live.count())
    assert(c.queryExecution.executedPlan.toString
      .contains("graft-chain-agg"))

    // MIN under a DV: a hidden row could be the extreme — real scan,
    // correct value
    val mn = spark.sql(s"SELECT min(doc_id) AS lo FROM graft.$tbl")
    assert(!mn.queryExecution.executedPlan.toString
      .contains("graft-chain-agg"))
    assert(mn.collect().head.getLong(0) ===
      live.agg(min(col("doc_id"))).head.getLong(0))

    // a filtered aggregate keeps its residual filter → never pushed
    val f = spark.sql(s"SELECT count(*) AS n FROM graft.$tbl " +
      "WHERE lang = 'en'")
    assert(!f.queryExecution.executedPlan.toString
      .contains("graft-chain-agg"))
    assert(f.collect().head.getLong(0) ===
      live.filter(col("lang") === "en").count())
  }

  test("runtime filtering (DPP through the SQL face): a broadcast " +
    "join keyed on the stats column hands the scan the build side's " +
    "key set at execution and files prune at runtime") {
    val (tbl, root) = freshChain("dpp")
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")

    // a tiny dimension holding ONE n_chars value that exists in the
    // fact — the join's build side; its key set reaches the fact scan
    // as a runtime IN predicate
    import spark.implicits._
    val someChars = docs.orderBy("doc_id").limit(1)
      .select("n_chars").as[Long].collect().head
    // the dim must survive optimization as a real relation (a local
    // relation's filter constant-folds away, and with it the
    // "selective predicate" the DPP rule requires) — park it in
    // parquet
    val dimDir = Tables.matDir(s"push_dpp_dim_${System.nanoTime}",
      spark, sf0001)
    Seq((someChars, "keep"), (-1L, "drop")).toDF("n_chars", "tag")
      .write.mode("overwrite").parquet(dimDir)
    spark.read.parquet(dimDir).createOrReplaceTempView(s"dpp_dim")

    // the selective filter on the build side is what makes the DPP
    // rule consider injection at all (PartitionPruning's
    // hasSelectivePredicate requirement)
    val q = spark.sql(s"SELECT f.doc_id, f.n_chars, d.tag " +
      s"FROM graft.$tbl f JOIN dpp_dim d ON f.n_chars = d.n_chars " +
      "WHERE d.tag = 'keep'")
    val rows = q.collect()
    assert(rows.length ===
      docs.filter(col("n_chars") === someChars).count())
    assert(rows.forall(_.getLong(1) === someChars))

    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[GraftChainScan] = p match {
      case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(qs.plan)
      case b: BatchScanExec => b.scan match {
        case g: GraftChainScan => Seq(g)
        case _ => Seq.empty
      }
      case other => other.children.flatMap(allScans)
    }
    val scans = allScans(q.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    assert(q.queryExecution.executedPlan.toString
      .contains("dynamicpruningexpression"),
      "expected an injected DPP filter on the chain scan")
    val planned = scans.head.lastPlannedPartitions
    val total = spark.read.parquet(s"$root/manifest").count()
    assert(planned >= 0 && planned < total,
      s"expected runtime pruning below $total files, planned=$planned")
  }

  test("string-typed skip bounds: a chain clustered on a STRING " +
    "column prunes on WHERE lang = '...' / BETWEEN, strict bounds " +
    "stay sound, and rows match the plain filter exactly") {
    // DDL chain clustered on lang (string stats), filled from docs
    ensureCatalog()
    val root = Tables.matDir(s"push_str_${System.nanoTime}", spark,
      sf0001)
    val tbl = s"push.str_${System.nanoTime}"
    spark.sql(
      s"""CREATE TABLE graft.$tbl (
         |  doc_id BIGINT, lang STRING, n_chars BIGINT)
         |USING graft LOCATION '$root'
         |TBLPROPERTIES ('cluster'='lang|lang,doc_id',
         |  'key'='doc_id')""".stripMargin)
    val view = s"push_str_src_${System.nanoTime}"
    docs.select("doc_id", "lang", "n_chars")
      .repartition(8) // several insert files, ranges overlap per file
      .createOrReplaceTempView(view)
    spark.sql(s"INSERT INTO graft.$tbl " +
      s"SELECT doc_id, lang, n_chars FROM $view")
    // re-cluster so files carry tight per-file lang ranges
    ManifestPrune.compactCommit(spark, root, nFiles = 8)
    val nFiles = spark.read.parquet(
      ManifestPrune.manifestOf(root, 2L)).count()

    import spark.implicits._
    val someLang = docs.select("lang").distinct().orderBy("lang")
      .limit(1).as[String].collect().head
    val q = spark.sql(s"SELECT doc_id, lang FROM graft.$tbl " +
      s"WHERE lang = '$someLang'")
    assert(q.collect().length ===
      docs.filter(col("lang") === someLang).count())
    val planned = chainScans(q).head.inputPartitions.length
    assert(planned < nFiles && planned > 0,
      s"expected string-interval pruning below $nFiles files, " +
        s"planned=$planned")

    // a BETWEEN over strings and a strict bound — both exact
    val hi = docs.select("lang").distinct().orderBy("lang")
      .limit(2).as[String].collect().last
    val qr = spark.sql(s"SELECT count(*) AS n FROM graft.$tbl " +
      s"WHERE lang >= '$someLang' AND lang < '$hi'")
    assert(qr.collect().head.getLong(0) ===
      docs.filter(col("lang") >= someLang && col("lang") < hi)
        .count())
  }

  test("LIMIT pushdown is file pruning: a bare LIMIT plans only " +
    "enough files to cover it (partially-pushed — Spark keeps the " +
    "global limit), DV-hidden rows are discounted, and a WHERE " +
    "disables it") {
    val (tbl, root) = freshChain("limit")
    val q = spark.sql(s"SELECT doc_id, lang FROM graft.$tbl LIMIT 10")
    assert(q.collect().length === 10)
    val planned = chainScans(q).head.inputPartitions.length
    assert(planned === 1,
      s"LIMIT 10 should plan one file of an 8-file layout, " +
        s"planned=$planned")

    // DV interplay: hide most rows; the plan must still cover the
    // limit from LIVE counts (several files now needed)
    ManifestPrune.dvDeleteWhereCommit(spark, root,
      col("doc_id") % 50 =!= 0)
    val liveCount = docs.filter(col("doc_id") % 50 === 0).count()
    val lim = (liveCount - 2).toInt.max(1)
    val q2 = spark.sql(
      s"SELECT doc_id FROM graft.$tbl LIMIT $lim")
    assert(q2.collect().length === lim)

    // a LIMIT above the live total plans everything and returns all
    val q3 = spark.sql(s"SELECT doc_id FROM graft.$tbl LIMIT 99999")
    assert(q3.collect().length === liveCount)

    // filters disable limit pruning (the kept files' rows could thin
    // below the limit post-filter); rows stay exact
    val q4 = spark.sql(s"SELECT doc_id FROM graft.$tbl " +
      s"WHERE doc_id % 50 = 0 LIMIT 5")
    assert(q4.collect().length === 5)
  }

  test("TopN pushdown prunes files k rows provably out-sort, " +
    "null-exactly: ASC (nulls first) drops high files only because " +
    "the manifest records zero nulls; DESC mirrors; rows match the " +
    "full sort") {
    val (tbl, root) = freshChain("topn")

    val asc = spark.sql(s"SELECT doc_id, n_chars FROM graft.$tbl " +
      "ORDER BY n_chars, doc_id LIMIT 12")
    // NOTE the two-column ORDER BY is NOT pushable (single-column
    // rule) — use the single-key form for the plan assertions
    val q = spark.sql(s"SELECT n_chars FROM graft.$tbl " +
      "ORDER BY n_chars LIMIT 12")
    val got = q.collect().map(_.getLong(0))
    val expectAsc = docs.select("n_chars").orderBy("n_chars")
      .limit(12).collect().map(_.getLong(0))
    assert(got === expectAsc)
    val planned = chainScans(q).head.inputPartitions.length
    assert(planned < 8 && planned > 0,
      s"expected TopN file pruning on the 8-file layout, " +
        s"planned=$planned")

    val qd = spark.sql(s"SELECT n_chars FROM graft.$tbl " +
      "ORDER BY n_chars DESC LIMIT 12")
    assert(qd.collect().map(_.getLong(0)) ===
      docs.select("n_chars").orderBy(col("n_chars").desc)
        .limit(12).collect().map(_.getLong(0)))
    val plannedD = chainScans(qd).head.inputPartitions.length
    assert(plannedD < 8 && plannedD > 0)

    // the two-column sort stayed exact through the unpruned path
    assert(asc.collect().map(_.getLong(1)).take(3) ===
      expectAsc.take(3))

    // a chain whose stats column CAN be null: a null-bearing file is
    // never dropped under nulls-first (its nulls belong at the top)
    val rootN = Tables.matDir(s"push_topn_null_${System.nanoTime}",
      spark, sf0001)
    ManifestPrune.buildLayout(
      docs.withColumn("n_chars",
        when(col("doc_id") % 97 === 0, lit(null).cast("long"))
          .otherwise(col("n_chars"))), rootN, nFiles = 8)
    val tn = s"push.topnnull_${System.nanoTime}"
    GraftCatalog.registerTable(tn, rootN)
    val qn = spark.sql(s"SELECT n_chars FROM graft.$tn " +
      "ORDER BY n_chars LIMIT 12")
    // Spark default ASC = NULLS FIRST: nulls lead, then the smallest
    // values — pruning that dropped a null-bearing file would lose
    // the leading nulls
    val gotN = qn.collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getLong(0)))
    val expN = docs.withColumn("n_chars",
        when(col("doc_id") % 97 === 0, lit(null).cast("long"))
          .otherwise(col("n_chars")))
      .select("n_chars").orderBy(asc_nulls_first("n_chars"))
      .limit(12).collect().map(r =>
        if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(gotN === expN)
  }

  test("TopN tie soundness: files with identical [min,max] never " +
    "count each other as beaters — an all-ties layout plans every " +
    "file and returns the k tied rows (a non-strict rule dropped " +
    "ALL of them and returned zero rows)") {
    ensureCatalog()
    val root = Tables.matDir(s"push_topn_tie_${System.nanoTime}",
      spark, sf0001)
    ManifestPrune.buildLayout(docs.withColumn("n_chars", lit(7L)),
      root, nFiles = 8)
    val tbl = s"push.topntie_${System.nanoTime}"
    GraftCatalog.registerTable(tbl, root)
    val q = spark.sql(s"SELECT n_chars FROM graft.$tbl " +
      "ORDER BY n_chars LIMIT 12")
    assert(q.collect().map(_.getLong(0)) === Array.fill(12)(7L))
    // strict order proves nothing beaten — no file may be dropped
    assert(chainScans(q).head.inputPartitions.length === 8)

    // mixed layout: a tied low band plus strictly higher files —
    // the high files still prune, the tied band survives intact
    val rootM = Tables.matDir(s"push_topn_mix_${System.nanoTime}",
      spark, sf0001)
    val mixed = docs.withColumn("n_chars",
      when(col("doc_id") % 2 === 0, lit(1L)).otherwise(col("n_chars")))
    ManifestPrune.buildLayout(mixed, rootM, nFiles = 8)
    val tm = s"push.topnmix_${System.nanoTime}"
    GraftCatalog.registerTable(tm, rootM)
    val qm = spark.sql(s"SELECT n_chars FROM graft.$tm " +
      "ORDER BY n_chars LIMIT 12")
    assert(qm.collect().map(_.getLong(0)) ===
      mixed.select("n_chars").orderBy("n_chars").limit(12)
        .collect().map(_.getLong(0)))
    val plannedM = chainScans(qm).head.inputPartitions.length
    assert(plannedM < 8 && plannedM > 0,
      s"expected the strictly-higher files pruned, planned=$plannedM")
  }

  test("DESC TopN with Long.MinValue in the stats column stays " +
    "exact: comparisons run in native order (the old negation trick " +
    "overflowed -MinValue back onto itself, inverting that file's " +
    "rank and mis-counting it as beating every candidate)") {
    ensureCatalog()
    val root = Tables.matDir(s"push_topn_min_${System.nanoTime}",
      spark, sf0001)
    val poisoned = docs.withColumn("n_chars",
      when(col("doc_id") % 1000 === 1, lit(Long.MinValue))
        .otherwise(col("n_chars")))
    ManifestPrune.buildLayout(poisoned, root, nFiles = 8)
    val tbl = s"push.topnmin_${System.nanoTime}"
    GraftCatalog.registerTable(tbl, root)
    val qd = spark.sql(s"SELECT n_chars FROM graft.$tbl " +
      "ORDER BY n_chars DESC LIMIT 12")
    assert(qd.collect().map(_.getLong(0)) ===
      poisoned.select("n_chars").orderBy(col("n_chars").desc)
        .limit(12).collect().map(_.getLong(0)))
    val planned = chainScans(qd).head.inputPartitions.length
    assert(planned < 8 && planned > 0,
      s"the MinValue file is provably beaten in DESC, planned=$planned")
  }

  test("TopN pushdown on a NON-spec column prunes through the " +
    "cstats_long bounds: ORDER BY doc_id LIMIT k on an " +
    "n_chars-statted chain still drops provably-beaten files") {
    ensureCatalog()
    val root = Tables.matDir(s"push_topn_cs_${System.nanoTime}",
      spark, sf0001)
    // layout ordered by doc_id, but the SPEC stats n_chars — all
    // doc_id pruning must come from the per-column stats maps
    ManifestPrune.buildLayout(docs, root, nFiles = 8,
      clusterCols = Seq("doc_id"))
    val tbl = s"push.topncs_${System.nanoTime}"
    GraftCatalog.registerTable(tbl, root)
    val q = spark.sql(s"SELECT doc_id FROM graft.$tbl " +
      "ORDER BY doc_id LIMIT 12")
    assert(q.collect().map(_.getLong(0)) ===
      docs.select("doc_id").orderBy("doc_id").limit(12)
        .collect().map(_.getLong(0)))
    val planned = chainScans(q).head.inputPartitions.length
    assert(planned < 8 && planned > 0,
      s"expected cstats-backed TopN pruning, planned=$planned")
    val qd = spark.sql(s"SELECT doc_id FROM graft.$tbl " +
      "ORDER BY doc_id DESC LIMIT 12")
    assert(qd.collect().map(_.getLong(0)) ===
      docs.select("doc_id").orderBy(col("doc_id").desc).limit(12)
        .collect().map(_.getLong(0)))
    assert(chainScans(qd).head.inputPartitions.length < 8)
  }

  test("ORDER BY on a string-statted clustering column pushes TopN " +
    "through the spec's exact string bounds (r15 refused here; the " +
    "truncation-aware arithmetic now prunes); rows stay exact") {
    ensureCatalog()
    val suf = System.nanoTime
    val r = Tables.matDir(s"push_topn_str_$suf", spark, sf0001)
    val tbl = s"push.topnstr_$suf"
    spark.sql(s"""CREATE TABLE graft.$tbl (
                 |  doc_id BIGINT, lang STRING, n_chars BIGINT)
                 |USING graft LOCATION '$r'
                 |TBLPROPERTIES ('cluster'='lang|lang,doc_id',
                 |  'key'='doc_id')""".stripMargin)
    docs.select("doc_id", "lang", "n_chars")
      .createOrReplaceTempView(s"topnstr_src_$suf")
    spark.sql(s"INSERT INTO graft.$tbl " +
      s"SELECT doc_id, lang, n_chars FROM topnstr_src_$suf")
    val q = spark.sql(s"SELECT lang FROM graft.$tbl " +
      "ORDER BY lang LIMIT 5")
    val got = q.collect().map(_.getString(0))
    val exp = docs.select("lang").orderBy("lang").limit(5)
      .collect().map(_.getString(0))
    assert(got === exp)
  }

  test("string TopN prunes through cstats_str on a string-clustered " +
    "layout, both directions; a long-text column (truncated hi) " +
    "stays exact but unpruned — the null-hi refusal rules") {
    ensureCatalog()
    val suf = System.nanoTime
    val root = Tables.matDir(s"push_topnstr2_$suf", spark, sf0001)
    // unique short string key: lang + zero-padded doc_id; layout
    // clustered BY it so per-file ranges are tight. The SPEC still
    // stats n_chars — all tag pruning must come from cstats_str.
    val tagged = docs.withColumn("tag", concat_ws("-", col("lang"),
      lpad(col("doc_id").cast("string"), 9, "0")))
      .select("doc_id", "tag", "lang", "text", "n_chars")
    ManifestPrune.buildLayout(tagged, root, nFiles = 8,
      clusterCols = Seq("tag"))
    val tbl = s"push.topnstr2_$suf"
    GraftCatalog.registerTable(tbl, root)

    val q = spark.sql(s"SELECT tag FROM graft.$tbl " +
      "ORDER BY tag LIMIT 12")
    assert(q.collect().map(_.getString(0)) ===
      tagged.select("tag").orderBy("tag").limit(12)
        .collect().map(_.getString(0)))
    val planned = chainScans(q).head.inputPartitions.length
    assert(planned < 8 && planned > 0,
      s"expected cstats_str TopN pruning ASC, planned=$planned")

    val qd = spark.sql(s"SELECT tag FROM graft.$tbl " +
      "ORDER BY tag DESC LIMIT 12")
    assert(qd.collect().map(_.getString(0)) ===
      tagged.select("tag").orderBy(col("tag").desc).limit(12)
        .collect().map(_.getString(0)))
    val plannedD = chainScans(qd).head.inputPartitions.length
    assert(plannedD < 8 && plannedD > 0,
      s"expected cstats_str TopN pruning DESC, planned=$plannedD")

    // text values exceed the 64-char budget: every file's hi is null
    // (no sound upper bound), so nothing is provably beaten — ASC
    // has no usable beaters, DESC no droppable candidates. The scan
    // plans everything and the rows stay exact.
    val qt = spark.sql(s"SELECT text FROM graft.$tbl " +
      "ORDER BY text LIMIT 5")
    assert(qt.collect().map(_.getString(0)) ===
      tagged.select("text").orderBy("text").limit(5)
        .collect().map(_.getString(0)))
    assert(chainScans(qt).head.inputPartitions.length === 8)

    // a null-bearing string key under NULLS FIRST: the null-bearing
    // file can never be dropped (its nulls belong at the very top)
    val rootN = Tables.matDir(s"push_topnstr_null_$suf", spark, sf0001)
    val withNulls = tagged.withColumn("tag",
      when(col("doc_id") % 97 === 0, lit(null).cast("string"))
        .otherwise(col("tag")))
    ManifestPrune.buildLayout(withNulls, rootN, nFiles = 8,
      clusterCols = Seq("tag"))
    val tn = s"push.topnstrnull_$suf"
    GraftCatalog.registerTable(tn, rootN)
    val qn = spark.sql(s"SELECT tag FROM graft.$tn " +
      "ORDER BY tag LIMIT 12")
    val gotN = qn.collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getString(0)))
    val expN = withNulls.select("tag")
      .orderBy(asc_nulls_first("tag")).limit(12).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getString(0)))
    assert(gotN === expN)
  }

  test("bloom-index-aware SQL planning: WHERE doc_id IN (...) prunes " +
    "files through the per-file sketches (range stats can't — the " +
    "layout clusters by n_chars), composes with a stats-column " +
    "interval, and a DV-deleted probe stays hidden") {
    val (tbl, root) = freshChain("bloom")
    ManifestPrune.dvDeleteWhereCommit(spark, root,
      col("doc_id") % 7 === 3)
    BloomIndex.build(spark, root, 1L)

    import spark.implicits._
    val live = docs.filter(col("doc_id") % 7 =!= 3)
    val probes = live.orderBy("doc_id").limit(3)
      .select("doc_id").as[Long].collect().toSeq
    val doomed = docs.filter(col("doc_id") % 7 === 3)
      .orderBy("doc_id").limit(1).select("doc_id").as[Long]
      .collect().head

    val inList = (probes :+ doomed).mkString(", ")
    val q = spark.sql(s"SELECT doc_id, lang FROM graft.$tbl " +
      s"WHERE doc_id IN ($inList)")
    val got = q.collect().map(_.getLong(0)).sorted
    assert(got === probes.sorted.toArray,
      "bloom planning lost a row or resurrected a DV-deleted one")
    val planned = chainScans(q).head.inputPartitions.length
    assert(planned < 8 && planned > 0,
      s"expected bloom file pruning, planned=$planned")

    // equality form prunes too
    val qe = spark.sql(s"SELECT count(*) AS n FROM graft.$tbl " +
      s"WHERE doc_id = ${probes.head}")
    assert(qe.collect().head.getLong(0) === 1L)

    // composed with a stats interval: the two prunes intersect and
    // the rows stay exact
    val qc = spark.sql(s"SELECT doc_id FROM graft.$tbl " +
      s"WHERE doc_id IN ($inList) AND n_chars >= 0")
    assert(qc.collect().map(_.getLong(0)).sorted === probes.sorted
      .toArray)
  }

  test("bloom-pruned point DELETE: SQL DELETE WHERE doc_id IN (...) " +
    "plans positions over sketch-matched files only and commits the " +
    "same result as a full-scan delete — the GDPR erase at O(keys) " +
    "planning cost") {
    val (tbl, root) = freshChain("blmdel")
    BloomIndex.build(spark, root, 0L)
    import spark.implicits._
    val victims = docs.orderBy("doc_id").limit(4)
      .select("doc_id").as[Long].collect().toSeq
    // the sketches name few files for 4 keys — the exact plan the
    // delete's position scan reads
    val plannedFiles = BloomIndex.planFiles(spark, root, 0L, victims)
    assert(plannedFiles.length < 8 && plannedFiles.nonEmpty)

    spark.sql(s"DELETE FROM graft.$tbl " +
      s"WHERE doc_id IN (${victims.mkString(", ")})")
    val after = spark.sql(
      s"SELECT count(*) AS n FROM graft.$tbl").collect().head.getLong(0)
    assert(after === docs.count() - victims.length)
    // none of the victims is readable; everything else is
    val gone = spark.sql(s"SELECT count(*) AS n FROM graft.$tbl " +
      s"WHERE doc_id IN (${victims.mkString(", ")})")
      .collect().head.getLong(0)
    assert(gone === 0L)

    // a conjunctive extra condition stays inside the pruned plan:
    // only SOME victims match, the rest survive
    val (tbl2, root2) = freshChain("blmdel2")
    BloomIndex.build(spark, root2, 0L)
    val v2 = docs.orderBy("doc_id").limit(4)
      .select("doc_id", "lang").as[(Long, String)].collect().toSeq
    val keepLang = v2.head._2
    spark.sql(s"DELETE FROM graft.$tbl2 " +
      s"WHERE doc_id IN (${v2.map(_._1).mkString(", ")}) " +
      s"AND lang <> '$keepLang'")
    val survivors = spark.sql(s"SELECT doc_id FROM graft.$tbl2 " +
      s"WHERE doc_id IN (${v2.map(_._1).mkString(", ")})")
      .collect().map(_.getLong(0)).sorted
    assert(survivors === v2.filter(_._2 == keepLang).map(_._1)
      .sorted.toArray)
  }

  test("index lifecycle in SQL: CALL build_index accelerates point " +
    "lookups, extend_index carries sketches to the head after an " +
    "append (O(new files)), and vacuum collects expired versions' " +
    "index dirs") {
    val (tbl, root) = freshChain("blmproc")
    spark.sql(s"CALL graft.system.build_index(table => '$tbl')")
    assert(BloomIndex.indexOf(root, 0L).isDefined)

    import spark.implicits._
    val probe = docs.orderBy("doc_id").limit(1)
      .select("doc_id").as[Long].collect().head
    val q = spark.sql(s"SELECT count(*) AS n FROM graft.$tbl " +
      s"WHERE doc_id = $probe")
    assert(q.collect().head.getLong(0) === 1L)
    assert(chainScans(q).head.inputPartitions.length < 8)

    // append a row, extend the index to the head, and the NEW row is
    // findable through the pruned plan
    spark.sql(s"INSERT INTO graft.$tbl VALUES " +
      "(97000001, 'indexed append', 'ix', 'proc', 14)")
    spark.sql(s"CALL graft.system.extend_index(table => '$tbl')")
    assert(BloomIndex.indexOf(root, 1L).isDefined)
    val q2 = spark.sql(s"SELECT lang FROM graft.$tbl " +
      "WHERE doc_id = 97000001")
    assert(q2.collect().map(_.getString(0)) === Array("ix"))
    assert(chainScans(q2).head.inputPartitions.length < 9)

    // vacuum: keeping only the head destroys v0 AND its index dir
    spark.sql(s"CALL graft.system.expire_versions(table => '$tbl', " +
      "keep_last => 1, grace_ms => 0)")
    assert(BloomIndex.indexOf(root, 0L).isEmpty,
      "expired version's bloom index dir survived vacuum")
    assert(BloomIndex.indexOf(root, 1L).isDefined,
      "the kept version's index must survive")
    // and the kept index still plans
    val q3 = spark.sql(s"SELECT count(*) AS n FROM graft.$tbl " +
      s"WHERE doc_id = $probe")
    assert(q3.collect().head.getLong(0) === 1L)
  }

  test("runtime (DPP) bloom pruning: a broadcast join keyed on the " +
    "bloom-indexed column hands the scan the build side's keys at " +
    "execution and the sketches prune files the range stats never " +
    "could") {
    val (tbl, root) = freshChain("bloomdpp")
    BloomIndex.build(spark, root, 0L)
    spark.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    import spark.implicits._
    val someId = docs.orderBy("doc_id").limit(1)
      .select("doc_id").as[Long].collect().head
    val dimDir = Tables.matDir(s"push_bloomdpp_dim_${System.nanoTime}",
      spark, sf0001)
    Seq((someId, "keep"), (-1L, "drop")).toDF("doc_id", "tag")
      .write.mode("overwrite").parquet(dimDir)
    spark.read.parquet(dimDir).createOrReplaceTempView("bloomdpp_dim")

    val q = spark.sql(s"SELECT f.doc_id, d.tag FROM graft.$tbl f " +
      "JOIN bloomdpp_dim d ON f.doc_id = d.doc_id " +
      "WHERE d.tag = 'keep'")
    val rows = q.collect()
    assert(rows.length === 1 && rows.head.getLong(0) === someId)

    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[GraftChainScan] = p match {
      case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => allScans(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(qs.plan)
      case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => b.scan match {
        case g: GraftChainScan => Seq(g)
        case _ => Seq.empty
      }
      case other => other.children.flatMap(allScans)
    }
    val scans = allScans(q.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    val planned = scans.head.lastPlannedPartitions
    assert(planned >= 0 && planned < 8,
      s"expected runtime bloom pruning below 8 files, " +
        s"planned=$planned")
  }

  test("equality deletes refuse COUNT pushdown (live count is a data " +
    "question until folded); the scan fallback stays exact") {
    val (tbl, root) = freshChain("aggeq")
    import spark.implicits._
    val doomed = docs.select("lang").distinct().limit(1)
      .as[String].collect().head
    ManifestPrune.eqDeleteCommit(spark, root,
      Seq(doomed).toDF("lang"))

    val q = spark.sql(s"SELECT count(*) AS n FROM graft.$tbl")
    assert(!q.queryExecution.executedPlan.toString
      .contains("graft-chain-agg"))
    assert(q.collect().head.getLong(0) ===
      docs.filter(col("lang") =!= doomed).count())
  }

  test("disjoint IN-sets on one column intersect to a provably-empty " +
    "key set and plan ZERO partitions — the unsatisfiable constraint " +
    "short-circuits instead of being dropped (its min/max hulls " +
    "overlap, so interval pruning alone would scan files)") {
    val (tbl, _) = freshChain("emptyin")
    // hulls [6,799] and [5,800] overlap every file; only the exact
    // key intersection proves emptiness
    val q = spark.sql(s"SELECT doc_id FROM graft.$tbl " +
      "WHERE doc_id IN (5, 800) AND doc_id IN (6, 799)")
    assert(q.collect().isEmpty)
    // probe the pre-adaptive plan: AQE's empty-relation propagation
    // may erase a zero-partition scan from the final plan
    val scan = q.queryExecution.sparkPlan.collectFirst {
      case b: BatchScanExec
          if b.scan.description().startsWith("graft-chain") => b
    }.get
    val planned = scan.inputPartitions.length
    assert(planned === 0,
      s"expected the empty IN-intersection to plan nothing, " +
        s"planned=$planned")
    // sanity: the satisfiable intersection still answers
    val q2 = spark.sql(s"SELECT count(*) AS n FROM graft.$tbl " +
      "WHERE doc_id IN (5, 800) AND doc_id IN (5, 799)")
    assert(q2.collect().head.getLong(0) ===
      docs.filter(col("doc_id") === 5).count())
  }

  test("SMALLINT/TINYINT columns answer MIN/MAX/COUNT(col) from " +
    "metadata — every width cstats_long stats is pushable, not just " +
    "INT/BIGINT") {
    ensureCatalog()
    val root = Tables.matDir(s"push_narrow_${System.nanoTime}", spark,
      sf0001)
    val d = docs.select(col("doc_id"), col("n_chars"),
      (col("doc_id") % 100).cast("smallint").as("sm"),
      (col("doc_id") % 7).cast("tinyint").as("ty"))
    ManifestPrune.buildLayout(d, root, nFiles = 4)
    val tbl = s"push.narrow_${System.nanoTime}"
    GraftCatalog.registerTable(tbl, root)
    val q = spark.sql(s"SELECT min(sm) AS lo, max(sm) AS hi, " +
      s"count(ty) AS n, max(ty) AS th FROM graft.$tbl")
    assert(q.queryExecution.executedPlan.toString
      .contains("graft-chain-agg"),
      "expected the narrow-width aggregate to answer from metadata")
    val row = q.collect().head
    assert(row.getShort(0) === 0.toShort)
    assert(row.getShort(1) === 99.toShort)
    assert(row.getLong(2) === d.count())
    assert(row.getByte(3) === 6.toByte)
  }

  test("SUM pushdown answers from the per-file cstats_sum map — " +
    "metadata-only (survives data-file deletion), mixes with " +
    "COUNT/MIN/MAX in one pushed batch, NULL over an all-null " +
    "column, and INT widths widen to BIGINT") {
    // a DDL chain: declared schema in the registry from birth, so
    // resolution (like the aggregate) never opens a data file —
    // required for the deletion proof below
    ensureCatalog()
    val suf = System.nanoTime
    val root = Tables.matDir(s"push_sum_$suf", spark, sf0001)
    val tbl = s"push.sum_$suf"
    spark.sql(
      s"""CREATE TABLE graft.$tbl (
         |  doc_id BIGINT, n_chars BIGINT, sm INT,
         |  allnull BIGINT)
         |USING graft LOCATION '$root'
         |TBLPROPERTIES ('cluster'='n_chars|n_chars,doc_id',
         |  'key'='doc_id')""".stripMargin)
    val d = docs.select(col("doc_id"), col("n_chars"),
      (col("doc_id") % 100).cast("int").as("sm"),
      lit(null).cast("bigint").as("allnull"))
    d.createOrReplaceTempView(s"push_sum_src_$suf")
    spark.sql(s"INSERT INTO graft.$tbl " +
      s"SELECT doc_id, n_chars, sm, allnull FROM push_sum_src_$suf")
    val q = spark.sql(s"SELECT sum(n_chars) AS s, sum(sm) AS ss, " +
      s"sum(allnull) AS sn, count(*) AS n, min(doc_id) AS lo " +
      s"FROM graft.$tbl")
    assert(q.queryExecution.executedPlan.toString
      .contains("graft-chain-agg"),
      "expected SUM to answer from metadata")
    val exact = d.agg(sum("n_chars"), sum("sm"), count(lit(1)),
      min("doc_id")).head
    val row = q.collect().head
    assert(row.getLong(0) === exact.getLong(0))
    assert(row.getLong(1) === exact.getLong(1))
    assert(row.isNullAt(2), "SUM over zero non-null values is NULL")
    assert(row.getLong(3) === exact.getLong(2))
    assert(row.getLong(4) === exact.getLong(3))

    // the metadata-only proof: destroy the data files, ask again
    val st = ChainStorage.forPath(root)
    st.list(s"$root/data").foreach(f => st.deleteFile(s"$root/data/$f"))
    st.list(root).filter(_.startsWith("data_")).foreach { dd =>
      st.list(s"$root/$dd").foreach(f => st.deleteFile(s"$root/$dd/$f"))
    }
    val again = spark.sql(s"SELECT sum(n_chars) AS s FROM graft.$tbl")
      .collect().head
    assert(again.getLong(0) === exact.getLong(0))
  }

  test("SUM pushdown refuses exactly when metadata cannot answer: " +
    "DVs hide rows, SUM(DISTINCT) is a data question, a pre-sum " +
    "manifest generation (no cstats_sum key for the column) is a " +
    "coverage gap — each falls back to a correct exact scan") {
    val (tbl, root) = freshChain("sumref")

    // generation gap: ADD COLUMN after the first insert — old files
    // have no cstats_sum entry for it, so SUM(extra) must refuse
    // (answering from covered files alone would under-count)
    val suf = System.nanoTime
    spark.sql(s"ALTER TABLE graft.$tbl ADD COLUMN extra BIGINT")
    docs.select((col("doc_id") + 90000000L).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"),
        (col("n_chars") * 3).as("extra"))
      .createOrReplaceTempView(s"push_sumref_$suf")
    spark.sql(s"INSERT INTO graft.$tbl SELECT * FROM push_sumref_$suf")
    val qGap = spark.sql(s"SELECT sum(extra) AS s FROM graft.$tbl")
    assert(!qGap.queryExecution.executedPlan.toString
      .contains("graft-chain-agg"),
      "a generation gap must refuse SUM pushdown")
    assert(qGap.collect().head.getLong(0) ===
      docs.agg(sum(col("n_chars") * 3)).head.getLong(0))
    // n_chars spans BOTH generations and stays pushable
    val qBoth = spark.sql(s"SELECT sum(n_chars) AS s FROM graft.$tbl")
    assert(qBoth.queryExecution.executedPlan.toString
      .contains("graft-chain-agg"))
    assert(qBoth.collect().head.getLong(0) ===
      2L * docs.agg(sum("n_chars")).head.getLong(0))

    // SUM(DISTINCT) never pushes
    val qD = spark.sql(
      s"SELECT sum(DISTINCT n_chars) AS s FROM graft.$tbl")
    assert(!qD.queryExecution.executedPlan.toString
      .contains("graft-chain-agg"))

    // a DV hides rows: SUM refuses, values stay correct via the scan
    ManifestPrune.dvDeleteWhereCommit(spark, root,
      col("doc_id") % 5 === 0)
    val qDv = spark.sql(s"SELECT sum(n_chars) AS s FROM graft.$tbl")
    assert(!qDv.queryExecution.executedPlan.toString
      .contains("graft-chain-agg"),
      "hidden rows must refuse SUM pushdown")
    // oracle arithmetic: both generations minus the DV'd residue
    val expect = docs.filter(col("doc_id") % 5 =!= 0)
      .agg(sum("n_chars")).head.getLong(0) +
      docs.filter((col("doc_id") + 90000000L) % 5 =!= 0)
        .agg(sum("n_chars")).head.getLong(0)
    assert(qDv.collect().head.getLong(0) === expect)
  }

  test("GROUP BY pushdown: when every live file is provably single-" +
    "group in the grouping column (per-lang commits here), COUNT/" +
    "MIN/MAX/SUM per group answer from one manifest rollup — " +
    "metadata-only, NULL group included") {
    ensureCatalog()
    val suf = System.nanoTime
    val root = Tables.matDir(s"push_gby_$suf", spark, sf0001)
    val tbl = s"push.gby_$suf"
    spark.sql(
      s"""CREATE TABLE graft.$tbl (
         |  doc_id BIGINT, lang STRING, n_chars BIGINT)
         |USING graft LOCATION '$root'
         |TBLPROPERTIES ('cluster'='n_chars|n_chars,doc_id',
         |  'key'='doc_id')""".stripMargin)
    // one INSERT per lang -> every committed file is lang-constant
    // (the layout an identity-partitioned ingest produces); a final
    // all-null commit exercises the NULL group
    val langs = docs.select("lang").distinct().collect()
      .map(_.getString(0)).sorted
    langs.foreach { l =>
      docs.filter(col("lang") === l)
        .select("doc_id", "lang", "n_chars")
        .createOrReplaceTempView(s"push_gby_src_$suf")
      spark.sql(s"INSERT INTO graft.$tbl " +
        s"SELECT * FROM push_gby_src_$suf")
    }
    docs.limit(37).select((col("doc_id") + 50000000L).as("doc_id"),
        lit(null).cast("string").as("lang"), col("n_chars"))
      .createOrReplaceTempView(s"push_gby_null_$suf")
    spark.sql(s"INSERT INTO graft.$tbl " +
      s"SELECT * FROM push_gby_null_$suf")

    val q = spark.sql(s"SELECT lang, count(*) AS n, " +
      s"min(n_chars) AS lo, max(doc_id) AS hi, sum(n_chars) AS s " +
      s"FROM graft.$tbl GROUP BY lang ORDER BY lang")
    assert(q.queryExecution.executedPlan.toString
      .contains("graft-chain-agg"),
      "expected the GROUP BY to answer from metadata:\n" +
        q.queryExecution.executedPlan.toString.take(2000))
    val exactDf = docs.select("doc_id", "lang", "n_chars")
      .union(docs.limit(37).select(
        (col("doc_id") + 50000000L).as("doc_id"),
        lit(null).cast("string").as("lang"), col("n_chars")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), min("n_chars").as("lo"),
        max("doc_id").as("hi"), sum("n_chars").as("s"))
      .orderBy("lang")
    assert(q.collect().map(_.toSeq).toSeq ===
      exactDf.collect().map(_.toSeq).toSeq)
  }

  test("SELECT DISTINCT on a file-constant column answers from " +
    "metadata (a group-by with no asks): the group VALUES are the " +
    "result, and a mixed layout refuses with equal values") {
    ensureCatalog()
    val suf = System.nanoTime
    val root = Tables.matDir(s"push_dist_$suf", spark, sf0001)
    val tbl = s"push.dist_$suf"
    spark.sql(s"""CREATE TABLE graft.$tbl (
                 |  doc_id BIGINT, lang STRING, n_chars BIGINT)
                 |USING graft LOCATION '$root'
                 |TBLPROPERTIES ('cluster'='n_chars|n_chars,doc_id',
                 |  'key'='doc_id')""".stripMargin)
    docs.select("lang").distinct().collect().map(_.getString(0))
      .sorted.foreach { l =>
        docs.filter(col("lang") === l)
          .select("doc_id", "lang", "n_chars")
          .createOrReplaceTempView(s"push_dist_src_$suf")
        spark.sql(s"INSERT INTO graft.$tbl " +
          s"SELECT * FROM push_dist_src_$suf")
      }
    val q = spark.sql(s"SELECT DISTINCT lang FROM graft.$tbl")
    assert(q.queryExecution.executedPlan.toString
      .contains("graft-chain-agg"),
      "DISTINCT on a file-constant column must answer from metadata")
    val want = docs.select("lang").distinct().collect()
      .map(_.getString(0)).sorted
    assert(q.collect().map(_.getString(0)).sorted === want)

    // mixed layout: refuse, equal values
    val (tbl2, _) = freshChain("distref")
    val q2 = spark.sql(s"SELECT DISTINCT lang FROM graft.$tbl2")
    assert(!q2.queryExecution.executedPlan.toString
      .contains("graft-chain-agg"))
    assert(q2.collect().map(_.getString(0)).sorted === want)
  }

  test("multi-column GROUP BY pushes when EVERY grouping column is " +
    "file-constant (the composite key then is too) and refuses when " +
    "any one of them varies within a file") {
    ensureCatalog()
    val suf = System.nanoTime
    val root = Tables.matDir(s"push_gby2_$suf", spark, sf0001)
    val tbl = s"push.gby2_$suf"
    spark.sql(
      s"""CREATE TABLE graft.$tbl (
         |  doc_id BIGINT, lang STRING, region STRING,
         |  n_chars BIGINT)
         |USING graft LOCATION '$root'
         |TBLPROPERTIES ('cluster'='n_chars|n_chars,doc_id',
         |  'key'='doc_id')""".stripMargin)
    // region is a function of lang, so per-lang commits make BOTH
    // columns file-constant
    val regionOf = when(col("lang").isin("de", "fr", "es"), "emea")
      .otherwise("other")
    docs.select("lang").distinct().collect().map(_.getString(0))
      .sorted.foreach { l =>
        docs.filter(col("lang") === l)
          .select(col("doc_id"), col("lang"),
            regionOf.as("region"), col("n_chars"))
          .createOrReplaceTempView(s"push_gby2_src_$suf")
        spark.sql(s"INSERT INTO graft.$tbl " +
          s"SELECT * FROM push_gby2_src_$suf")
      }
    val q = spark.sql(s"SELECT region, lang, count(*) AS n, " +
      s"sum(n_chars) AS s FROM graft.$tbl GROUP BY region, lang " +
      s"ORDER BY region, lang")
    assert(q.queryExecution.executedPlan.toString
      .contains("graft-chain-agg"),
      "expected the two-column GROUP BY to answer from metadata")
    val exact = docs.select(col("lang"), regionOf.as("region"),
        col("n_chars"))
      .groupBy("region", "lang")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("s"))
      .orderBy("region", "lang")
    assert(q.collect().map(_.toSeq).toSeq ===
      exact.collect().map(_.toSeq).toSeq)

    // n_chars varies inside every file: the composite (lang,
    // n_chars) key is not file-constant — refuse, stay correct
    val qRef = spark.sql(s"SELECT lang, n_chars, count(*) AS n " +
      s"FROM graft.$tbl GROUP BY lang, n_chars " +
      s"ORDER BY lang, n_chars LIMIT 5")
    assert(!qRef.queryExecution.executedPlan.toString
      .contains("graft-chain-agg"))
    assert(qRef.collect().map(_.toSeq).toSeq ===
      docs.groupBy("lang", "n_chars").agg(count(lit(1)).as("n"))
        .orderBy("lang", "n_chars").limit(5)
        .collect().map(_.toSeq).toSeq)
  }

  test("metadata-aggregate planning runs no Spark job: a repeat call " +
    "returns an equal plan, and a new commit gives fresh values") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max}
    val (tbl, root) = freshChain("aggmemo")
    val v = ManifestPrune.currentVersion(spark, root)
    val schema = spark.sql(s"SELECT * FROM graft.$tbl").schema
    val agg = new Aggregation(
      Array(new CountStar, new Max(Expressions.column("doc_id"))),
      Array.empty)
    val a = noJobs("planAgg")(ChainSkip.planAgg(spark, root, v, schema, agg))
    val b = noJobs("planAgg again")(
      ChainSkip.planAgg(spark, root, v, schema, agg))
    assert(a.isDefined)
    assert(a === b, "identical asks must plan identical values")
    val gagg = new Aggregation(Array(new CountStar),
      Array[org.apache.spark.sql.connector.expressions.Expression](
        Expressions.column("lang")))
    val g1 = noJobs("planGroupAgg")(
      ChainSkip.planGroupAgg(spark, root, v, schema, gagg))
    val g2 = noJobs("planGroupAgg again")(
      ChainSkip.planGroupAgg(spark, root, v, schema, gagg))
    assert(g1 === g2)
    // a NEW commit is a new snapshot: fresh plan, fresh values
    docs.limit(10).select((col("doc_id") + 99000000L).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))
      .createOrReplaceTempView(s"aggmemo_src")
    spark.sql(s"INSERT INTO graft.$tbl SELECT * FROM aggmemo_src")
    val v2 = ManifestPrune.currentVersion(spark, root)
    assert(v2 > v)
    val c = ChainSkip.planAgg(spark, root, v2, schema, agg)
    assert(c.isDefined)
    assert(c.get.rows.head.head.asInstanceOf[Long] ===
      a.get.rows.head.head.asInstanceOf[Long] + 10L)
  }

  test("GROUP BY pushdown refuses when files mix groups (range-" +
    "clustered layout) or rows are hidden — values stay correct " +
    "through the exact scan") {
    // buildLayout range-clusters by (n_chars, doc_id): files mix
    // langs, so per-group arithmetic is a data question
    val (tbl, root) = freshChain("gbyref")
    val q = spark.sql(s"SELECT lang, count(*) AS n FROM graft.$tbl " +
      s"GROUP BY lang ORDER BY lang")
    assert(!q.queryExecution.executedPlan.toString
      .contains("graft-chain-agg"),
      "mixed-group files must refuse GROUP BY pushdown")
    assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      === docs.groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq)

    // single-group layout but with a DV: hidden rows corrupt some
    // group's count — refuse, stay correct
    ensureCatalog()
    val suf = System.nanoTime
    val root2 = Tables.matDir(s"push_gbydv_$suf", spark, sf0001)
    val tbl2 = s"push.gbydv_$suf"
    spark.sql(
      s"""CREATE TABLE graft.$tbl2 (
         |  doc_id BIGINT, lang STRING, n_chars BIGINT)
         |USING graft LOCATION '$root2'
         |TBLPROPERTIES ('cluster'='n_chars|n_chars,doc_id',
         |  'key'='doc_id')""".stripMargin)
    docs.select("lang").distinct().collect().map(_.getString(0))
      .foreach { l =>
        docs.filter(col("lang") === l)
          .select("doc_id", "lang", "n_chars")
          .createOrReplaceTempView(s"push_gbydv_src_$suf")
        spark.sql(s"INSERT INTO graft.$tbl2 " +
          s"SELECT * FROM push_gbydv_src_$suf")
      }
    val pushed = spark.sql(s"SELECT lang, count(*) AS n " +
      s"FROM graft.$tbl2 GROUP BY lang")
    assert(pushed.queryExecution.executedPlan.toString
      .contains("graft-chain-agg"))
    ManifestPrune.dvDeleteWhereCommit(spark, root2,
      col("doc_id") % 4 === 0)
    val q2 = spark.sql(s"SELECT lang, count(*) AS n " +
      s"FROM graft.$tbl2 GROUP BY lang ORDER BY lang")
    assert(!q2.queryExecution.executedPlan.toString
      .contains("graft-chain-agg"),
      "hidden rows must refuse GROUP BY pushdown")
    assert(q2.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      === docs.filter(col("doc_id") % 4 =!= 0).groupBy("lang")
        .agg(count(lit(1)).as("n")).orderBy("lang")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
  }
}
