package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, SparkTune, Tables}

/** Per-query profile of the battery. Each query runs twice through the
  * noop sink in a fresh `spark.newSession()`: a cold call, which
  * rebuilds the session's `Tables.once` fixtures, then a warm call.
  * The warm call's jobs, stages, tasks, shuffle bytes, spill and peak
  * execution memory come from the listener bus under its own job
  * group; its AQE-final plan gives the plan smells (exchange count,
  * CartesianProduct, BroadcastNestedLoopJoin, no whole-stage codegen).
  * A query that throws is recorded with its error and no time.
  *
  * Writes PROFILE_LOCAL.json (one record per query) to the working
  * directory. The sf dir is SPARK_GRAFT_SF_DIR's.
  *
  * Usage: runMain graft.tools.Profile [q1,q2,...] [--plans DIR]
  *        [--sf1 [--build-only]]
  *  - no query list profiles all battery queries;
  *  - `--plans DIR` writes each query's formatted and AQE-final plans
  *    to DIR/<query>.txt;
  *  - `--sf1` builds a 10× corpus under target/scalebench/sf1 (see
  *    [[buildSf1]]), profiles the queries (default: [[scaleQueries]])
  *    at both scales and writes SCALE_LOCAL.json with each warm time's
  *    exponent log10(t_sf1 / t_sf); a map-bounded query should land
  *    ≲ 1.2. `--build-only` builds the corpus and exits — the sf1
  *    oracle rung (Verify + tools/oracle_sf1.py) reads it there.
  */
object Profile extends AdaptiveSparkPlanHelper {

  /** The most expensive documents-derived queries: the blocking caps
    * (df ≤ 50, prefix filters, bin widths, vocabulary bounds) are
    * argued scale-safe; the sf1 rung measures one decade of it. */
  val scaleQueries: Seq[String] = Seq(
    "q_dedup_snm", "q_textrank", "q_dedup_containment",
    "q_dedup_ngram_jaccard", "q_graph_jaccard",
    "q_dedup_sparse_cosine", "q_pagerank", "q_dedup_agreement",
    "q_dedup_span_scrub", "q_collocations",
    // reads documents AND embeddings — both scale 10x in the corpus
    "q_hybrid_search")

  final case class Smells(exchanges: Int, cartesian: Boolean,
                          bnlJoin: Boolean, noCodegen: Boolean)

  /** The warm call's counters; `tasks` counts finished task attempts. */
  final case class Counts(jobs: Int, stages: Int, tasks: Int,
                          shuffleReadBytes: Long, shuffleWriteBytes: Long,
                          spillBytes: Long, peakExecMemBytes: Long)

  /** One query's profile: times and counters, or the error. */
  final case class Record(name: String, coldMs: Option[Double],
                          warmMs: Option[Double], counts: Option[Counts],
                          smells: Option[Smells], error: Option[String]) {
    def json: String = {
      def num(v: Option[Any]) = v.fold("null")(_.toString)
      def ms(v: Option[Double]) = num(v.map(d =>
        java.math.BigDecimal.valueOf(d)
          .setScale(1, java.math.RoundingMode.HALF_UP).toPlainString))
      val c = (f: Counts => Any) => num(counts.map(f))
      val s = smells.fold("null")(s =>
        s"""{"exchanges":${s.exchanges},"cartesian":${s.cartesian},""" +
          s""""bnl_join":${s.bnlJoin},"no_codegen":${s.noCodegen}}""")
      s"""{"name":${SparkTune.jsonString(name)},"cold_ms":${ms(coldMs)},""" +
        s""""warm_ms":${ms(warmMs)},"jobs":${c(_.jobs)},""" +
        s""""stages":${c(_.stages)},"tasks":${c(_.tasks)},""" +
        s""""shuffle_read_bytes":${c(_.shuffleReadBytes)},""" +
        s""""shuffle_write_bytes":${c(_.shuffleWriteBytes)},""" +
        s""""spill_bytes":${c(_.spillBytes)},""" +
        s""""peak_exec_mem_bytes":${c(_.peakExecMemBytes)},""" +
        s""""smells":$s,"error":${error.fold("null")(SparkTune.jsonString)}}"""
    }
  }

  def main(args: Array[String]): Unit = {
    val plans = args.sliding(2).collectFirst {
      case Array("--plans", d) if !d.startsWith("--") => d
    }
    val positional = args.filterNot(a => a.startsWith("--") || plans.contains(a))
    val bad = args.filter(a => a.startsWith("--") &&
      !Set("--plans", "--sf1", "--build-only")(a))
    if (bad.nonEmpty || positional.length > 1 ||
        args.contains("--plans") && plans.isEmpty) {
      System.err.println("usage: Profile [q1,q2,...] [--plans DIR] " +
        "[--sf1 [--build-only]]")
      sys.exit(2)
    }
    val buildOnly = args.contains("--build-only")
    val sf1 = buildOnly || args.contains("--sf1")
    val names = positional.headOption.map(_.split(",").toSeq)
      .getOrElse(if (sf1) scaleQueries else SparkEntry.queries.keys.toSeq.sorted)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"no such battery query: ${unknown.mkString(",")}")

    val sfDir = SparkTune.sfDir
    val spark = SparkTune.session("spark.sql.adaptive.enabled" -> "true")
    try {
      val sf1Dir = Paths.get("target/scalebench/sf1").toAbsolutePath.toString
      if (sf1) buildSf1(spark, Paths.get(sfDir).toAbsolutePath.toString, sf1Dir)
      if (!buildOnly) {
        def all(dir: String) = names.map { n =>
          val r = profile(spark, dir, n, SparkEntry.queries(n), plans)
          println(s"[profile] ${r.json}")
          r
        }
        val base = all(sfDir)
        write("PROFILE_LOCAL.json", s"""{"sf":${SparkTune.jsonString(sfDir)},""" +
          s""""queries":[${base.map(_.json).mkString(",\n")}]}""")
        if (sf1) write("SCALE_LOCAL.json", exponents(base, all(sf1Dir)))
      }
    } finally spark.stop()
  }

  private def write(file: String, json: String): Unit = {
    Files.writeString(Paths.get(file), json + "\n")
    println(s"[profile] wrote ${Paths.get(file).toAbsolutePath}")
  }

  /** SCALE_LOCAL.json: per-query warm seconds at both scales and their
    * exponent; a query that failed at either scale is left out. */
  private def exponents(small: Seq[Record], big: Seq[Record]): String = {
    def r3(v: Double): String = java.math.BigDecimal.valueOf(v)
      .setScale(3, java.math.RoundingMode.HALF_UP).toPlainString
    val rows = small.zip(big).collect {
      case (a, b) if a.warmMs.isDefined && b.warmMs.isDefined =>
        val (t01, t1) = (a.warmMs.get / 1e3, b.warmMs.get / 1e3)
        s""""${a.name}":{"sf01":${r3(t01)},"sf1":${r3(t1)},""" +
          s""""exponent":${r3(math.log10(t1 / t01))}}"""
    }
    s"""{"metric":"scale_exponents","decade":"sf0.1->sf1",""" +
      s""""queries":{${rows.mkString(",")}}}"""
  }

  /** Profile one query: a cold and a warm call in a fresh session
    * (see the object doc). Listeners and the job group are removed
    * before it returns, whatever the query does. */
  def profile(spark: SparkSession, sfDir: String, name: String,
              fn: (SparkSession, String) => DataFrame,
              plans: Option[String] = None): Record = {
    val s = spark.newSession()
    val sc = spark.sparkContext
    val group = s"graft-profile-${java.util.UUID.randomUUID()}"
    val counters = new Counters(group)
    val finalPlan = new LastExecution
    sc.addSparkListener(counters)
    s.listenerManager.register(finalPlan)
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    }
    def run(): DataFrame = {
      val df = fn(s, sfDir)
      df.write.format("noop").mode("overwrite").save()
      df
    }
    try {
      val cold = timed(run())
      sc.setJobGroup(group, s"profile: $name")
      var df: DataFrame = null
      val warm = try timed { df = run() } finally sc.clearJobGroup()
      // a fence job in its own group: once the listener sees it start,
      // every event of the warm call has been delivered
      sc.setJobGroup(counters.fence, "profile fence")
      try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!counters.fenced && System.nanoTime() < deadline) Thread.sleep(5)
      require(counters.fenced && finalPlan.last != null, "listener bus stalled")
      val plan = finalPlan.last.executedPlan
      plans.foreach { dir =>
        Files.createDirectories(Paths.get(dir))
        val formatted = df.queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(dir, s"$name.txt"),
          s"""===== $name explain(formatted), sf=$sfDir =====
             |$formatted
             |===== $name AQE-final executed plan =====
             |$plan
             |""".stripMargin)
      }
      Record(name, Some(cold), Some(warm), Some(counters.counts),
        Some(smells(plan)), None)
    } catch { case NonFatal(e) =>
      Record(name, None, None, None, None,
        Some(s"${e.getClass.getName}: ${e.getMessage}"))
    } finally {
      s.listenerManager.unregister(finalPlan)
      sc.removeSparkListener(counters)
    }
  }

  private def smells(plan: SparkPlan): Smells = {
    def has(p: PartialFunction[SparkPlan, SparkPlan]) =
      collectWithSubqueries(plan)(p).size
    Smells(
      exchanges = has { case e: Exchange => e },
      cartesian = has { case j: CartesianProductExec => j } > 0,
      bnlJoin = has { case j: BroadcastNestedLoopJoinExec => j } > 0,
      noCodegen = has { case w: WholeStageCodegenExec => w } == 0)
  }

  /** Sums the counters of one job group's jobs from the listener bus. */
  private final class Counters(group: String) extends SparkListener {
    val fence = s"$group-fence"
    @volatile var fenced = false
    private val stageIds = mutable.Set[Int]()
    private var jobs, stages, tasks = 0
    private var shRead, shWrite, spill, peak = 0L

    def counts: Counts = synchronized {
      Counts(jobs, stages, tasks, shRead, shWrite, spill, peak)
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
        case Some(`group`) => jobs += 1; stageIds ++= e.stageIds
        case Some(`fence`) => fenced = true
        case _ =>
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { if (stageIds(e.stageInfo.stageId)) stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (stageIds(e.stageId)) {
        tasks += 1
        Option(e.taskMetrics).foreach { m =>
          shRead += m.shuffleReadMetrics.totalBytesRead
          shWrite += m.shuffleWriteMetrics.bytesWritten
          spill += m.memoryBytesSpilled + m.diskBytesSpilled
          peak = math.max(peak, m.peakExecutionMemory)
        }
      }
    }
  }

  /** The last query execution a session completed: after the warm
    * call, its noop write with the AQE-final plan. */
  private final class LastExecution extends QueryExecutionListener {
    @volatile var last: QueryExecution = _
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      last = qe
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = ()
  }

  /** 10× documents and embeddings under `sf1Dir`, built once; other
    * tables symlink to the base dir so battery fixtures that touch them
    * still load.
    *
    * The corpus is 10 copies of the base documents table with
    * (a) disjoint doc_id ranges and (b) a per-copy `translate` over a
    * rotated alphabet — each copy's shingle/token space is DISTINCT, so
    * near-dup families stay within-copy and the duplicate RATE (not
    * just the row count) matches the base corpus: the honest 10× shape,
    * not a 90%-duplicate pathology that would quadratically reward or
    * punish the blocking. Lengths are preserved (n_chars stays
    * truthful). */
  def buildSf1(spark: SparkSession, sfDir: String, sf1Dir: String): Unit = {
    val docsOut = new java.io.File(s"$sf1Dir/documents.parquet")
    if (!docsOut.isDirectory) {
      new java.io.File(sf1Dir).mkdirs()
      val docs = Tables.load(spark, sfDir, "documents")
      // rotate the FULL lowercase alphabet per copy: every word with
      // any letter changes, so cross-copy token/shingle overlap is
      // ~zero and the duplicate RATE matches the base corpus (the
      // first cut rotated 11 letters only, and unchanged tokens
      // produced 2.6x cross-copy pair inflation — measured, fixed)
      val alpha = "abcdefghijklmnopqrstuvwxyz"
      val copies = (0 until 10).map { i =>
        val rot = alpha.drop(2 * i + 1) + alpha.take(2 * i + 1)
        docs.select(
          (col("doc_id") + lit(i.toLong * 1000000000L)).as("doc_id"),
          translate(col("text"), alpha, if (i == 0) alpha else rot)
            .as("text"),
          col("lang"), col("source"), col("n_chars"))
      }
      copies.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(docsOut.getPath)
    }
    // 10x embeddings too (round 16 — q_hybrid_search's dense side
    // must scale with the sparse side): vec_id shifts match the
    // documents copies so vec_id = doc_id joins stay aligned, and
    // each copy ROLLS the 64 dimensions by its copy index — the
    // vector-space analogue of the alphabet rotation: a rolled copy
    // is a different direction (cross-copy cosine ~ random), so the
    // neighbor structure enriches 10x instead of degenerating into
    // 10 exact clones of every point
    val embOut = new java.io.File(s"$sf1Dir/embeddings.parquet")
    if (!embOut.isDirectory &&
        !java.nio.file.Files.isSymbolicLink(embOut.toPath)) {
      val emb = Tables.load(spark, sfDir, "embeddings")
      val ecopies = (0 until 10).map { i =>
        emb.select(
          (col("vec_id") + lit(i.toLong * 1000000000L)).as("vec_id"),
          (if (i == 0) col("embedding")
           else concat(slice(col("embedding"), i + 1, 64 - i),
             slice(col("embedding"), 1, i))).as("embedding"),
          col("label"))
      }
      ecopies.reduce(_ unionByName _)
        .repartition(8)
        .write.mode("overwrite").parquet(embOut.getPath)
    }
    Tables.names.filterNot(t => t == "documents" || t == "embeddings")
      .foreach { t =>
        val link = java.nio.file.Paths.get(s"$sf1Dir/$t.parquet")
        if (!java.nio.file.Files.exists(link))
          java.nio.file.Files.createSymbolicLink(link,
            java.nio.file.Paths.get(s"$sfDir/$t.parquet"))
      }
  }
}
