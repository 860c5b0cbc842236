package graft

import org.apache.spark.sql.SparkSession

/** Shared engine-session tuning applied by every graft main.
  *
  * AQE coalescing floor (guide §2.2/§2.5): Spark's
  * `coalescePartitions.minPartitionSize` defaults to 1 MB, which is a
  * BYTE heuristic — at gate scale most shuffles carry well under
  * 32 MB, so AQE folds CPU-heavy stages (generator fan-outs, window
  * ranks, pairwise verifies over exploded text) down to 1-2 tasks and
  * the query runs serial on a 32-core executor (q_dedup_ngram_jaccard
  * measured 3.6 s with EVERY stage at 1 task; 1.9 s with a 64 KB
  * floor). 64 KB keeps tiny frames coalesced while letting ~MB-scale
  * CPU-bound stages spread across cores. At production byte volumes
  * partitions sit far above either floor, so the setting is inert
  * there — it matters exactly where byte-based sizing misjudges
  * per-byte CPU cost. Parameterised (env) so cluster deployments can
  * retune without a rebuild; the local default keeps the driver's
  * bench methodology unchanged (same master/partitions contract).
  */
object SparkTune {
  def minPartitionSize: String =
    sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "64k")

  /** Apply shared tuning to a session builder. */
  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      minPartitionSize)

  /** Executor threads of a main's local session. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The battery's sf dir: SPARK_GRAFT_SF_DIR, else Bench's default. */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The session every graft main runs in: tuned, `local[cpus]` with
    * one shuffle partition per thread, UTC, no UI, WARN logs. `conf`
    * adds keys or overrides these (a main that deploys through
    * spark-submit passes its own `spark.master`). */
  def session(conf: (String, String)*): SparkSession = {
    val b = tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A JSON string literal: quote, backslash and EVERY control char
    * (<0x20) escaped — a tab or CR left raw makes a consumer's
    * json.load fail on the whole file. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
