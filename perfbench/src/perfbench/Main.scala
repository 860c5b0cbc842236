package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: set up the session, run the cold
  * pass, the workload's warm-up passes and then warm passes for the given
  * seconds, check every op untimed, and write the run record as JSON.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --work DIR --out FILE [--goldens FILE]
  *          [--cpus N] [--inject-failure OP]
  *        perfbench.Main --golden-out DIR --data DIR --work DIR
  */
object Main {
  val maxWarmPasses = 1000

  final case class OpRec(pass: Int, idx: Int, name: String, layer: String,
                         kind: String, ms: Double, err: Option[String])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val cpus = a.get("cpus").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val work = a("work")
    Files.createDirectories(Paths.get(work))
    if (a.contains("golden-out"))
      golden(a("golden-out"), a("data"), work, Workloads.queries, cpus)
    else run(a, cpus, work)
  }

  def session(cpus: Int, work: String, extra: Map[String, String])
      : SparkSession = {
    var b = graft.SparkTune.tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    extra.foreach { case (k, v) => b = b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** The JVM's high-water resident set, in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status"))
      .toArray.map(_.toString).find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def loadGoldens(path: Option[String]): Map[String, (Long, Long)] =
    path.map { p =>
      Json.read(p).get("goldens").properties().asScala.map { e =>
        e.getKey -> (e.getValue.get(0).asLong, e.getValue.get(1).asLong)
      }.toMap
    }.getOrElse(Map.empty)

  def run(a: Map[String, String], cpus: Int, work: String): Unit = {
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val inject = a.get("inject-failure")
    val tracer = new Tracer(traced)
    val ctx = new Ctx(a("data"), work, seed, tracer)
    val wl = Workloads(a("workload"), loadGoldens(a.get("goldens")))
    val groups = new GroupListener
    val actions = new ActionListener

    // One set-up, timed from JVM start.
    ctx.spark = session(cpus, work, wl.sessionConf)
    tracer.spark = ctx.spark
    ctx.spark.sparkContext.addSparkListener(groups)
    ctx.spark.listenerManager.register(actions)
    tracer.op = "setup"
    tracer("setup", "setup")(wl.setup(ctx))
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val recs = mutable.ArrayBuffer.empty[OpRec]
    val passWall = mutable.ArrayBuffer.empty[Double]
    def runPass(p: Int): Unit = {
      var wall = 0.0
      wl.pass(ctx, p).zipWithIndex.foreach { case (op, i) =>
        tracer.op = s"$p:$i"
        val t0 = System.nanoTime()
        val res: Either[String, () => Option[String]] =
          try {
            if (inject.contains(op.name))
              throw new IllegalStateException(s"injected failure in ${op.name}")
            Right(tracer(op.name, op.layer)(op.run(ctx)))
          } catch { case e: Throwable => Left(e.toString.take(500)) }
        val ms = (System.nanoTime() - t0) / 1e6
        wall += ms / 1000
        val err = res.fold(Some(_), check =>
          try check() catch { case e: Throwable => Some(e.toString.take(500)) })
        recs += OpRec(p, i, op.name, op.layer, op.kind, ms, err)
      }
      passWall += wall
    }

    runPass(0)
    // Warm-up passes run and are checked, but no metric reads them.
    var p = 1
    while (p <= wl.warmupPasses) { runPass(p); p += 1 }
    val firstWarm = p
    val warmStart = System.nanoTime()
    // the pass cap only binds when ops fail at once (failure injection)
    while (p == firstWarm || (System.nanoTime() - warmStart < seconds * 1e9 &&
        p < firstWarm + maxWarmPasses)) {
      runPass(p); p += 1
    }
    tracer.op = "finish"
    val facts = wl.finish(ctx)
    val rss = peakRssMb()
    stop(ctx.spark) // drains the listener bus before counters are read

    val self = Trace.selfNs(tracer.spans.toSeq)
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"), "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "cpus" -> cpus,
      "setup_s" -> setupS, "pass_s" -> passWall.toSeq, "first_warm" -> firstWarm,
      "peak_rss_mb" -> rss, "facts" -> facts,
      "ops" -> recs.map(r => Map("pass" -> r.pass, "idx" -> r.idx,
        "name" -> r.name, "layer" -> r.layer, "kind" -> r.kind, "ms" -> r.ms,
        "err" -> r.err)))
    if (traced) rec("trace") = Map(
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "layer" -> s.layer, "parent" -> s.parent, "op" -> s.op,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> self(s.id),
        "notes" -> s.notes,
        "counters" -> Option(groups.byGroup.get(s.id)).map(_.toMap)
          .getOrElse(new Counters().toMap))),
      "totals" -> groups.total.toMap,
      "unattributed" -> Option(groups.byGroup.get("")).map(_.toMap)
        .getOrElse(new Counters().toMap),
      "actions" -> actions.actions, "action_failures" -> actions.failures,
      "action_ms" -> actions.durationNs / 1e6)
    Files.writeString(Paths.get(a("out")), Json(rec) + "\n")
  }

  /** Runs each named query once, writes its rows as parquet plus the
    * digests and the oracle SQL, for the golden cross-check. */
  def golden(out: String, data: String, work: String, names: Seq[String],
             cpus: Int): Unit = {
    val s = session(cpus, work, Map.empty)
    Files.createDirectories(Paths.get(out))
    val digests = names.map { n =>
      val df = graft.SparkEntry.queries(n)(s, data)
      val d = Canon.digest(df.collect())
      df.write.mode("overwrite").parquet(s"$out/$n")
      n -> Seq(d._1, d._2)
    }.toMap
    val sql = graft.SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(out, "digests.json"), Json(digests) + "\n")
    Files.writeString(Paths.get(out, "oracle_sql.json"), Json(sql) + "\n")
    stop(s)
  }
}
