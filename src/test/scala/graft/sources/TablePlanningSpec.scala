package graft.sources

import graft.{JobCounting, SparkSpec, Tables}
import org.apache.spark.sql.Row
import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, Expressions}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min, Sum}
import org.apache.spark.sql.functions._

/** Table-layer PLANNING runs on the driver: every protocol-owned
  * parquet dir (manifests, DV sidecars, equality-delete keys) is a
  * snapshot fact read through parquet-hadoop, so schema lookups, file
  * lists, pruning, live counts, LIMIT / TOP-N / bucket plans, metadata
  * aggregates, CBO column stats, history, change-feed file sets and
  * the vacuum keep-set launch no Spark job — counted by a listener,
  * on a chain whose facts were never cached. The driver-read rows and
  * footer schemas must equal what `spark.read.parquet` returns for
  * every such dir, and vacuum must drop the facts of what it
  * deletes. */
class TablePlanningSpec extends SparkSpec with JobCounting {

  private lazy val docs = Tables.load(spark, sf0001, "documents")
    .select("doc_id", "text", "lang", "source", "n_chars")

  /** base, append, MoR merge, DV delete, SQL DELETE, equality delete,
    * compaction: every sidecar kind and commit shape. */
  private def churned(tag: String): String = {
    val root = Tables.matDir(s"plan_${tag}_${System.nanoTime}", spark,
      sf0001)
    ManifestPrune.buildLayout(docs, root, nFiles = 4)
    ManifestPrune.appendCommit(spark, root,
      docs.filter(col("doc_id") % 13 === 1)
        .withColumn("doc_id", col("doc_id") + 50000000L))
    ManifestPrune.morMergeCommit(spark, root,
      docs.filter(col("doc_id") % 9 === 2)
        .select(col("doc_id"), lit("mm").as("lang")),
      docs.filter(col("doc_id") % 31 === 3)
        .withColumn("doc_id", col("doc_id") + 60000000L))
    ManifestPrune.dvDeleteCommit(spark, root,
      docs.filter(col("doc_id") % 7 === 3).select("doc_id"))
    val table = s"plan.t${System.nanoTime}"
    val catalogKey = "spark.sql.catalog.graft"
    val prior = spark.conf.getOption(catalogKey)
    spark.conf.set(catalogKey, classOf[GraftCatalog].getName)
    GraftCatalog.registerTable(table, root)
    val ids = docs.filter(col("doc_id") % 5 === 1).select("doc_id")
      .limit(20).collect().map(_.getLong(0))
    try spark.sql(s"DELETE FROM graft.$table WHERE doc_id IN " +
      ids.mkString("(", ", ", ")"))
    finally {
      GraftCatalog.unregisterTable(table)
      prior match {
        case Some(p) => spark.conf.set(catalogKey, p)
        case None => spark.conf.unset(catalogKey)
      }
    }
    ManifestPrune.eqDeleteCommit(spark, root,
      docs.filter(col("doc_id") % 11 === 4).select("doc_id"))
    ManifestPrune.compactCommit(spark, root, nFiles = 2)
    root
  }

  /** A byte copy of a chain: same bytes, new paths, so no fact of it
    * is cached yet. */
  private def coldCopy(root: String): String = {
    val copy = s"${root}_cold"
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(root), new java.io.File(copy))
    copy
  }

  test("planning every version of a churned chain runs no Spark job") {
    val root = coldCopy(churned("jobs"))
    val cur = ManifestPrune.currentVersion(spark, root)
    assert(cur === 6L)
    for (v <- 0L to cur) {
      val mf = ManifestPrune.manifestOf(root, v)
      noJobs(s"schemaOfVersion v$v") {
        ManifestPrune.schemaOfVersion(spark, root, v)
      }
      noJobs(s"readVersion planning v$v") {
        ManifestPrune.readVersion(spark, mf)
        ManifestPrune.readCommitted(spark, root, v)
      }
      val planned = noJobs(s"planRangeCommitted v$v") {
        ManifestPrune.planRangeCommitted(spark, root, v, "n_chars",
          100L, 200L)
      }
      assert(planned.nonEmpty)
      noJobs(s"colStatsFiles v$v") {
        ChainSkip.colStatsFiles(spark, root, v,
          Map("doc_id" -> ChainSkip.Bounds(0L, 40L)), Map.empty)
      }
      noJobs(s"dvHiddenCount v$v") {
        ManifestPrune.dvOf(root, v).map(ManifestPrune.dvHiddenCount(spark, _))
      }
      noJobs(s"plannedLiveRows v$v") {
        ChainSkip.plannedLiveRows(spark, root, v, Map.empty)
        ChainSkip.plannedLiveRows(spark, root, v,
          Map("n_chars" -> ChainSkip.Bounds(100L, 200L)))
      }
      noJobs(s"limitFiles v$v") {
        ChainSkip.limitFiles(spark, root, v, 5)
      }
      noJobs(s"topNFiles / topNFilesStr v$v") {
        ChainSkip.topNFiles(spark, root, v, "doc_id", ascending = true,
          nullsFirst = true, 5)
        ChainSkip.topNFiles(spark, root, v, "n_chars", ascending = false,
          nullsFirst = false, 5)
        ChainSkip.topNFilesStr(spark, root, v, "lang", ascending = true,
          nullsFirst = false, 5)
      }
      val schema = ManifestPrune.schemaOfVersion(spark, root, v)
      val global = noJobs(s"planAgg v$v") {
        ChainSkip.planAgg(spark, root, v, schema, aggOf(Seq(new CountStar,
          new Max(Expressions.column("doc_id")),
          new Min(Expressions.column("lang")),
          new Sum(Expressions.column("n_chars"), false))))
        ChainSkip.planAgg(spark, root, v, schema, aggOf(Seq(new CountStar)))
      }
      // COUNT(*) answers under a DV, refuses under equality deletes
      if (ManifestPrune.eqDelOf(root, v).isEmpty)
        assert(global.map(_.rows.head.head) ===
          Some(ManifestPrune.liveRowCountCommitted(spark, root, v)), s"v$v")
      else assert(global.isEmpty, s"v$v")
      noJobs(s"planGroupAgg v$v") {
        ChainSkip.planGroupAgg(spark, root, v, schema,
          aggOf(Seq(new CountStar, new Max(Expressions.column("doc_id"))),
            Seq(Expressions.column("lang"))))
      }
      val cols = noJobs(s"columnStatsFor v$v") {
        withCbo(ChainSkip.columnStatsFor(spark, root, v, schema.fields.toSeq))
      }
      val sidecars = ManifestPrune.dvOf(root, v).nonEmpty ||
        ManifestPrune.eqDelOf(root, v).nonEmpty
      assert(cols.keySet === (if (sidecars) Set.empty[String]
        else Set("doc_id", "text", "lang", "source", "n_chars")), s"v$v")
      if (v >= 1) noJobs(s"changeFeedStep planning v$v") {
        ManifestPrune.changeFeedStep(spark, root, v)
      }
    }
    val history = noJobs("describeHistory") {
      ManifestPrune.describeHistory(spark, root).collect()
    }
    assert(history.map(_.getAs[String]("kind")).toSeq === Seq("base",
      "append", "mor-merge", "dv-delete", "dv-delete", "eq-delete",
      "rewrite"))
    val kept = noJobs("expireVersions") {
      ManifestPrune.expireVersions(spark, root, keepLast = 2, graceMs = 0L)
    }.keptVersions
    assert(kept === Seq(cur - 1, cur))
  }

  private def aggOf(fns: Seq[AggregateFunc],
                    groupBy: Seq[V2Expr] = Nil): Aggregation =
    new Aggregation(fns.toArray, groupBy.toArray)

  private def withCbo[T](body: => T): T = {
    val key = "spark.sql.cbo.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try body
    finally prior match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("bucket planning on every version of a bucketed chain runs no " +
    "Spark job") {
    val built = Tables.matDir(s"plan_spj_${System.nanoTime}", spark, sf0001)
    SpjBucket.buildBucketedLayout(docs, built, "doc_id", 4)
    ManifestPrune.appendCommit(spark, built,
      docs.filter(col("doc_id") % 13 === 1)
        .withColumn("doc_id", col("doc_id") + 50000000L))
    val root = coldCopy(built)
    val cur = ManifestPrune.currentVersion(spark, root)
    assert(cur === 1L)
    for (v <- 0L to cur) {
      val planned = noJobs(s"bucketedFiles v$v") {
        SpjBucket.bucketedFiles(spark, root, v)
      }
      assert(planned.map(_._1) === Some(4), s"v$v")
      assert(planned.get._2.map(_._1).toSet ===
        ManifestPrune.dirRows(spark, ManifestPrune.manifestOf(root, v))
          .strings("file").toSet, s"v$v")
    }
  }

  test("the driver NDV equals Spark's hll_union_agg over the same " +
    "manifest") {
    val root = churned("ndv")
    // the sidecar-free versions: base and append
    for (v <- Seq(0L, 1L)) {
      val schema = ManifestPrune.schemaOfVersion(spark, root, v)
      val stats = withCbo(
        ChainSkip.columnStatsFor(spark, root, v, schema.fields.toSeq))
      val m = spark.read.parquet(ManifestPrune.manifestOf(root, v))
        .filter(col("n_rows") > 0)
      for (c <- Seq("doc_id", "n_chars", "lang", "source", "text")) {
        val viaSpark = m.agg(hll_sketch_estimate(
          hll_union_agg(col("cstats_hll").getItem(c), lit(true))))
          .head.getLong(0)
        assert(stats(c).ndv === Some(viaSpark), s"$c v$v")
      }
    }
  }

  /** Values in a form `==` compares structurally (binary as Seq). */
  private def norm(v: Any): Any = v match {
    case r: Row => r.toSeq.map(norm)
    case b: Array[Byte] => b.toSeq
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => norm(k) -> norm(x) }.toMap
    case x => x
  }

  test("driver rows and footer schemas equal spark.read.parquet for " +
    "every protocol dir") {
    val root = churned("parity")
    val st = ChainStorage.forPath(root)
    val dirs = st.list(root).filter(n => n.startsWith("manifest") ||
      n.startsWith("dv_") || n.startsWith("eqdel_")).map(n => s"$root/$n")
    assert(dirs.exists(_.contains("/dv_")) &&
      dirs.exists(_.contains("/eqdel_")))
    val conf = spark.sparkContext.hadoopConfiguration
    dirs.foreach { d =>
      val viaSpark = spark.read.parquet(d)
      assert(ManifestPrune.footerSchema(spark, d) === viaSpark.schema, d)
      val rows = ManifestPrune.dirRows(spark, d)
      val kept = viaSpark.schema.fieldNames.filterNot(_ == "cstats_hll")
      assert(rows.schema.fieldNames.toSeq === kept.toSeq, d)
      def bag(rs: Seq[Row]) = rs.map(norm).groupBy(identity)
        .map { case (k, g) => k -> g.size }
      assert(bag(rows.rows) ===
        bag(viaSpark.select(kept.map(col): _*).collect().toSeq), d)
      // the decoder itself covers every column, sketches included
      val parts = st.list(d).filterNot(n => n.startsWith("_") ||
        n.startsWith(".")).map(n => s"$d/$n")
      val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(viaSpark.schema)
      val all = GroupParquet.readRows(parts, viaSpark.schema, conf)
        .map(r => toRow(r).asInstanceOf[Row])
      assert(bag(all) === bag(viaSpark.collect().toSeq), d)
    }
  }

  test("vacuum drops the cached facts of every dir it deletes") {
    val root = churned("evict")
    val cur = ManifestPrune.currentVersion(spark, root)
    (0L to cur).foreach { v =>
      ManifestPrune.readCommitted(spark, root, v)
      ManifestPrune.dvOf(root, v).foreach(ManifestPrune.dvHiddenCount(spark, _))
    }
    ManifestPrune.describeHistory(spark, root).collect()
    def cachedUnder = ManifestPrune.cachedDirs.filter(_.startsWith(s"$root/"))
    val before = cachedUnder
    assert(before.contains(ManifestPrune.manifestOf(root, 0L)))
    assert(before.exists(_.contains("/dv_")))
    val stats = ManifestPrune.expireVersions(spark, root, keepLast = 1,
      graceMs = 0L)
    assert(stats.removedManifestDirs > 0 && stats.removedDvDirs > 0)
    val st = ChainStorage.forPath(root)
    val after = cachedUnder
    assert(after.forall(st.isDir), after.filterNot(st.isDir))
    assert(!after.contains(ManifestPrune.manifestOf(root, 0L)))
    assert(after.contains(ManifestPrune.manifestOf(root, cur)))
    // the head still plans and reads after the eviction
    assert(ManifestPrune.readCommitted(spark, root, cur).count() ===
      ManifestPrune.liveRowCountCommitted(spark, root, cur))
  }
}
