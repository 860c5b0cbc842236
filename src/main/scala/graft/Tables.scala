package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loader for the driver-generated testdata
  * (see /root/repo/TESTDATA.md). One parquet file per table under
  * `sfDir`. Explicit-path loads keep Catalyst's parquet pushdown
  * (predicate + column pruning) fully effective.
  *
  * `events.ts` is parquet TIMESTAMP(MICROS, isAdjustedToUTC=false):
  * the explicit `ts TIMESTAMP` schema pins the session-timezone
  * TimestampType (every graft session runs UTC, so values equal the
  * oracle's naive reading) instead of letting NTZ inference pick
  * TimestampNTZType and fork the downstream window/interval types.
  * (Earlier generator versions wrote TIMESTAMP(NANOS), which needed a
  * raw-long read + `div 1000` rebuild; with MICROS the native reader
  * path is exact as-is.)
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred-schema cache for the base tables: without it EVERY query
    * invocation pays a footer-inference job (~40 ms) per table it
    * loads — across a 249-query battery that is seconds of pure
    * planning jobs for schemas that never change. Entries are keyed by
    * (path, file length, mtime), so a regenerated testdata file can
    * never serve a stale schema. The DATA read is untouched — only the
    * planning-time inference is memoized (the same stance as the
    * manifest snapshot cache). */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      spark.read
        .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING")
        .parquet(s"$sfDir/events.parquet")
    } else {
      val path = s"$sfDir/$name.parquet"
      val f = new java.io.File(path)
      val sch = schemaCache.computeIfAbsent(
        (path, f.length(), f.lastModified()),
        _ => spark.read.parquet(path).schema)
      spark.read.schema(sch).parquet(path)
    }

  /** Random per-JVM-run id. `identityHashCode(spark)` alone is NOT
    * unique across JVM runs (object addresses recur), and a collision
    * lands a "fresh" root on a leftover target/tmp dir from a previous
    * run whose stale commit chain survives a data overwrite — the
    * exact failure that made ExpireVersionsSpec/DvDeleteSpec flaky. */
  private val jvmRunId: String =
    java.util.UUID.randomUUID().toString.take(8)

  /** Spread an under-parallel scan across the executor before
    * CPU-heavy per-row work (guide §2.5's unsplittable-input fix):
    * the gate corpus is ONE parquet file with ONE row group, so every
    * map-side stage over the raw scan runs single-task no matter how
    * many cores the session has. The repartition fires ONLY when the
    * plan's scan parallelism is below the executor's (a plan-time
    * check, no job) — at production file counts the scan already
    * spreads and this is the identity, so no full-corpus shuffle is
    * ever added at scale. */
  /** Hash-spread, not round-robin: keyless `repartition(n)` first
    * LOCALLY SORTS its input (sortBeforeRepartition, the retry-
    * determinism guard) — measured as the dominant cost of the spread
    * leg on a 600k-row frame. Hash-partitioning on a deterministic
    * whole-row key needs no such sort (retried tasks reproduce the
    * same assignment by construction) and spreads equally well: the
    * key space (xxhash64 of every column) is ~unique per row, far
    * above the 20-100x-distinct-values-per-partition rule. */
  def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions < par)
      df.repartition(par, org.apache.spark.sql.functions
        .xxhash64(df.columns.map(df.col).toIndexedSeq: _*))
    else df
  }

  /** Lineage cut for loop/recursion intermediates. Default:
    * `localCheckpoint` — right at gate scale (no FS round-trip), but
    * local checkpoint blocks live ONLY in executor storage: at 100 TB
    * an executor loss mid-loop kills the job instead of recomputing
    * (the blocks are not lineage-recoverable). When a checkpoint dir
    * is configured (`spark.graft.checkpoint.dir` conf or
    * `SPARK_GRAFT_CHECKPOINT_DIR` env), every loop materialization
    * routes through RELIABLE `checkpoint()` to that dir instead —
    * the fault-tolerant posture a long-running cluster job needs,
    * behind one knob, no call-site changes. */
  def cut(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val dir = s.conf.getOption("spark.graft.checkpoint.dir")
      .orElse(sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR"))
    dir match {
      case Some(p) =>
        if (s.sparkContext.getCheckpointDir.isEmpty)
          s.sparkContext.setCheckpointDir(p)
        df.checkpoint()
      case None => df.localCheckpoint()
    }
  }

  /** Per-session write-once cells: session identity (held weakly) →
    * (kind, sf dir) → the cell of that fixture. */
  private val onceCells = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[(String, String), Once]]()

  private final class Once { var value: AnyRef = _ }

  /** Build a per-(session, sf dir) fixture ONCE and serve it to every
    * later caller — the write-once convention of every persisted stage
    * (dedup pair tables, chain roots, indexes, trained merge tables).
    * `kind` names the fixture; all kinds share one namespace per
    * session. Concurrent callers of one key wait for the single build
    * and get the same instance. The build runs under its own cell's
    * lock only, so a build may call `once` for another key (builds
    * nest: the change-feed table over its chain, the pair table over
    * the fingerprints, every chain over `ensureLayout`). A build that
    * throws leaves the cell empty and the next call builds again. The
    * session is held weakly and no value references it, so a session's
    * fixtures are released with the session. */
  def once[T <: AnyRef](kind: String, s: SparkSession, d: String)
                       (build: => T): T = {
    val cells = onceCells.synchronized {
      onceCells.computeIfAbsent(s,
        _ => new java.util.concurrent.ConcurrentHashMap())
    }
    val cell = cells.computeIfAbsent((kind, d), _ => new Once)
    cell.synchronized {
      if (cell.value == null) cell.value = build
      cell.value.asInstanceOf[T]
    }
  }

  /** target/tmp materialization dir for write-once artifacts, keyed by
    * (kind, sf dir, JVM run, session identity) so concurrent sessions,
    * sf scales, AND successive JVM runs never collide — the ONE path
    * scheme every persisted stage (dedup pair/fingerprint tables,
    * pricing MV, manifest layout, IVF index) uses; a change to
    * sanitization or session-keying lands everywhere at once. The
    * session-identity suffix preserves write-once reuse WITHIN a
    * session while isolating concurrent sessions in one JVM. */
  // perfbench/run.py mat_root() regex-reads this literal's root: keep its form
  def matDir(kind: String, spark: SparkSession, sfDir: String): String =
    s"/root/repo/target/tmp/${kind}_" +
      sfDir.replaceAll("[^A-Za-z0-9.]", "_") + "_" + jvmRunId + "_" +
      java.lang.Integer.toHexString(System.identityHashCode(spark))
}
