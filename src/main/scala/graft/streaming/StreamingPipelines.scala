package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The streaming writers of graft tables: each lands a micro-batch on
  * a table's CAS chain exactly once under replay.
  *
  *  - [[applyDeleteBatch]] erases a batch of keys as one
  *    deletion-vector version (q_gdpr_erase);
  *  - [[applySinkBatch]] is the `graft-table` streaming sink's applier
  *    (append, upsert, delete, and cdc, which [[replicateStream]]
  *    drives from a second table's change feed);
  *  - [[maintainLangMvFromFeed]] folds a table's change feed into a
  *    versioned per-lang aggregate (q_mv_stream).
  *
  * The table appliers share one replay guard, [[applyOnce]]: a batch
  * id noted on the chain's commit markers under the writer's tag
  * (`del:`, `tsink:`, `cdcv:`) is never applied twice. The MV keeps
  * its own version pointer instead, since it is not a chain. */
object StreamingPipelines {

  import graft.sources.ManifestPrune

  /** The one replay-guarded applier every streaming writer of a chain
    * lands its micro-batch through: re-read the chain, skip a batch
    * whose id the `tag` cursor already holds (a replay), else run
    * `commit` on the version the check read and note `<tag><batchId>`
    * on the version it committed — after the kind token the commit
    * itself may have noted (eqdel, eqdel-fold), since notes are
    * whitespace-separated tokens that [[lastAppliedBatch]] and
    * history()'s kind classifier both scan. A lost CAS re-runs check
    * and commit ([[ManifestPrune.withCommitRetry]]): prepared state is
    * writer-unique, so a retry leaks only garbage dirs, and a batch
    * that lost to its own adopted crash-twin is caught by the
    * re-check. `commit` returns None when it committed nothing. */
  private def applyOnce(s: SparkSession, root: String, tag: String,
                        batchId: Long)(commit: Long => Option[Long]): Unit =
    ManifestPrune.withCommitRetry() { () =>
      val cur = ManifestPrune.currentVersion(s, root)
      if (batchId > lastAppliedBatch(root, cur, tag))
        commit(cur).foreach { v =>
          val kind = ManifestPrune.commitNote(root, v).fold("")(_ + " ")
          ManifestPrune.noteCommit(root, v, s"$kind$tag$batchId")
        }
    }

  /** Latest batch id a stream KIND committed on the chain: scan the
    * markers newest-first for a note bearing our tag. Interleaved
    * commits from OTHER kinds (sink batches vs erasure deletes — their
    * micro-batch id sequences are incomparable) are skipped, so each
    * writer keeps an independent replay cursor on the shared chain. */
  private val batchCursor =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (Long, Long)]()

  private def lastAppliedBatch(root: String, cur: Long,
                               tag: String): Long = {
    // markers are retained forever (expiry keeps them by design), so a
    // cold scan is O(all versions ever committed) marker reads and
    // grows without bound on a long-lived sink/delete stream; the
    // per-(root, tag) in-memory cursor records the highest version
    // already inspected, bounding each micro-batch to the versions
    // committed SINCE the last look. Correct under interleaved writers
    // because the chain is monotonic and a tag's batch ids commit in
    // order: no version at-or-below the cursor can carry a newer batch
    // id for this tag. A cold JVM (restart) just pays one full scan.
    val key = (root, tag)
    // a chain that SHRANK below the cached floor is not the chain the
    // cursor was built on — the table at this path was deleted and
    // rebuilt inside one JVM; trusting the dead chain's lastBatch
    // would make the new stream silently skip its first batches
    // (data loss dressed as replay dedup). Drop the stale entry and
    // rescan cold.
    val cached = Option(batchCursor.get(key)).filter { case (fl, _) =>
      if (cur < fl) { batchCursor.remove(key); false } else true
    }
    val floor = cached.map(_._1).getOrElse(0L)
    var v = cur
    var found = -1L
    while (found < 0 && v > floor) {
      // notes are whitespace-separated tokens (a version can carry a
      // kind token AND a cursor token, e.g. "eqdel tsink:3") — scan
      // token-wise so a combined note still answers every cursor
      ManifestPrune.commitNote(root, v) match {
        case Some(n) if n.split("\\s+").exists(_.startsWith(tag)) =>
          found = n.split("\\s+").find(_.startsWith(tag)).get
            .stripPrefix(tag).toLong
        case _ => v -= 1
      }
    }
    val b = if (found >= 0) found else cached.map(_._2).getOrElse(-1L)
    batchCursor.put(key, (math.max(cur, floor), b))
    b
  }

  /** STREAMING ERASURE — the GDPR leg of the lakehouse family: each
    * micro-batch of doc_id keys (a `foreachBatch` over the erasure
    * queue) becomes one [[graft.sources.ManifestPrune.dvDeleteFrom]]
    * version on the CAS chain, so a delete batch touches NO data file
    * (position sidecar only) and interleaves freely with sink batches.
    * Exactly-once under replay is the marker-note argument: a replayed
    * batch finds its id under `del:` on the chain and skips; a crash
    * before the CAS left only an unreferenced prepared sidecar, so the
    * replay re-prepares and commits once. At 100 TB this is how a
    * right-to-be-forgotten queue drains continuously without
    * write-amplifying the corpus — compaction or the next CoW merge
    * materializes the accumulated vectors. */
  private[graft] def applyDeleteBatch(batch: DataFrame, batchId: Long,
                                      root: String): Unit =
    applyOnce(batch.sparkSession, root, "del:", batchId) { _ =>
      Some(ManifestPrune.dvDeleteCommit(batch.sparkSession, root, batch))
    }

  /** The graft-table STREAMING SINK's per-batch applier —
    * `spark.writeStream.format("graft-table").option("mode", …)`
    * lands each micro-batch as ONE committed version on the chain
    * (the V1-Sink pattern Delta's own sink uses: the driver gets the
    * whole batch frame, the chain's CAS protocol provides the
    * atomicity). Modes: `append` (insert-only, [[graft.sources
    * .ManifestPrune.appendCommit]]), `upsert` (full-row MERGE by key,
    * [[graft.sources.ManifestPrune.upsertCommit]] — matched keys
    * DV-mask + delta-append, unmatched insert), `delete` (key rows →
    * pure-metadata equality delete). Exactly-once under replay by
    * the `tsink:` marker cursor — the one-stream-per-table contract
    * every applier in this file carries. */
  private[graft] def applySinkBatch(batch: DataFrame, batchId: Long,
                                    root: String, mode: String,
                                    key: String): Unit = {
    val s = batch.sparkSession
    applyOnce(s, root, "tsink:", batchId) { _ =>
      if (mode != "cdc")
        Some(graft.sources.GraftTableWrite.commit(s, root, batch, mode, key))
      else {
        // change-feed images (op, table cols, version) — the
        // graft-table SOURCE's row shape, so table-to-table
        // replication is ONE streaming query: readStream the
        // source's feed, writeStream mode=cdc onto the replica. A
        // micro-batch may span several SOURCE versions; each is
        // applied in order under its own `cdcv:` cursor (deletes
        // first, then post-images as an UPSERT — upsert instead of
        // replicateFeed's pure insert makes re-applying a version
        // IDEMPOTENT, so a crash anywhere inside a batch can at worst
        // repeat work, never duplicate rows).
        val b = batch.localCheckpoint()
        val versions = b.select("version").distinct()
          .collect().map(_.getLong(0)).sorted
        versions.foreach { v =>
          applyOnce(s, root, "cdcv:", v) { cur =>
            val step = b.filter(col("version") === v)
            val dels = step
              .filter(col("op").isin("delete", "update_preimage"))
              .select(key)
            if (dels.limit(1).count() > 0)
              ManifestPrune.dvDeleteCommit(s, root, dels, key)
            val ins = step
              .filter(col("op").isin("insert", "update_postimage"))
              .drop("op", "version")
            if (ins.limit(1).count() > 0)
              ManifestPrune.upsertCommit(s, root, ins, key)
            // an empty step (compaction on the source) commits nothing
            // and leaves no cursor mark — re-examining it on replay is
            // an empty filter, not a correctness issue
            Some(ManifestPrune.currentVersion(s, root)).filter(_ > cur)
          }
        }
        None // the `cdcv:` cursors are this mode's replay record
      }
    }
  }

  /** LIVE REPLICATION through the change-feed STREAM — the
    * `graft-table` DSv2 source tailing the source chain's versions,
    * each micro-batch applied to the replica in version order through
    * the SAME `cdcv:` per-source-version cursor + upsert applier the
    * graft-table sink's mode=cdc uses ([[applySinkBatch]]). That
    * applier is replay-idempotent at version grain: a crash after
    * some versions of a micro-batch were applied (or between a
    * version's delete and upsert commits) replays the batch, the
    * cursor skips fully-applied versions, and the upsert (rather than
    * blind insert) makes re-applying a half-applied version repeat
    * work, never duplicate rows. Equivalent to calling
    * [[graft.sources.ManifestPrune.replicateFeed]] in a loop, except
    * the version cursor lives in the streaming checkpoint + replica
    * markers — restart-safe, backpressured
    * (`maxVersionsPerTrigger`), and running whenever the source
    * commits, which is how a real mirror pipeline is deployed.
    * Caller starts it with `.option("checkpointLocation", ...)
    * .start()` or `.trigger(AvailableNow())` for catch-up-and-stop. */
  def replicateStream(s: SparkSession, srcRoot: String, dstRoot: String,
                      key: String = "doc_id",
                      maxVersionsPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val reader = s.readStream.format("graft-table").option("key", key)
    val feed = maxVersionsPerTrigger
      .fold(reader)(n => reader.option("maxVersionsPerTrigger", n))
      .load(srcRoot)
    feed.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        applySinkBatch(b.toDF(), id, dstRoot, "cdc", key)
      }
  }

  /** INCREMENTAL MV MAINTENANCE from the change-feed stream: the
    * q_mv_feed_refresh arithmetic (post-images/inserts add, pre-
    * images/deletes subtract) folded into a versioned per-lang
    * aggregate on every micro-batch — the MV stays in lockstep with
    * the table at O(changed rows) per commit, no base-table rescan
    * ever. State protocol is [[applyLangMvBatch]]'s version pointer
    * (replay-idempotent: a redelivered batch finds the pointer at or
    * past its id and skips). */
  def maintainLangMvFromFeed(s: SparkSession, srcRoot: String,
                             mvDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    s.readStream.format("graft-table").load(srcRoot)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        applyLangMvBatch(b.toDF(), id, mvDir)
      }

  /** Seed the feed-maintained MV with the table's BASE state (the
    * initial-snapshot half of the Delta-style snapshot+changes
    * pattern): the v0 aggregate is committed as MV version -1, so the
    * stream's first micro-batch folds deltas onto it instead of onto
    * nothing. Run once before starting [[maintainLangMvFromFeed]];
    * idempotent (an existing pointer wins). */
  def seedLangMv(s: SparkSession, srcRoot: String, mvDir: String): Unit = {
    graft.sources.ChainStorage.forPath(mvDir).mkdirs(mvDir)
    if (latestMvVersion(mvDir).isDefined) return
    graft.sources.ManifestPrune.readCommitted(s, srcRoot, 0L)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
      .write.mode("overwrite").parquet(s"$mvDir/v_-1")
    graft.sources.ChainStorage.forPath(mvDir)
      .write(s"$mvDir/_latest", "-1")
  }

  /** One feed-driven MV step. The batch's signed per-lang partials are
    * combined with the CURRENT view version and written as a NEW
    * version directory `v_<batchId>`; a tiny `_latest` pointer is then
    * overwritten to name it. Exactly-once under replay comes from the
    * version protocol, not a transaction log: batch ids are
    * sequential, so a replayed batch either (a) finds the pointer
    * already at/past its id and skips, or (b) — a crash before the
    * pointer write — recomputes `v_<batchId>` from the UNCHANGED
    * previous version, byte-identical, then re-points. Readers always
    * resolve the pointer to a fully-written version. */
  private[graft] def applyLangMvBatch(batch: DataFrame, batchId: Long,
                                      mvDir: String): Unit = {
    val s = batch.sparkSession
    graft.sources.ChainStorage.forPath(mvDir).mkdirs(mvDir)
    val applied = latestMvVersion(mvDir)
    if (applied.exists(_ >= batchId)) return // replayed, already folded
    val sign = when(col("op").isin("insert", "update_postimage"),
      lit(1L)).otherwise(lit(-1L))
    val partial = batch
      .groupBy("lang")
      .agg(sum(sign).as("n_docs"),
        sum(sign * col("n_chars")).as("sum_chars"))
    val prev = applied match {
      case Some(id) => s.read.parquet(s"$mvDir/v_$id")
      case None => partial.limit(0)
    }
    prev.unionByName(partial)
      .groupBy("lang")
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("sum_chars")).as("sum_chars"))
      .filter(col("n_docs") > 0)
      .write.mode("overwrite").parquet(s"$mvDir/v_$batchId")
    // single-object overwrite PUT is atomic on every real store —
    // the pointer protocol needs no rename (the ChainStorage rule)
    graft.sources.ChainStorage.forPath(mvDir)
      .write(s"$mvDir/_latest", batchId.toString)
  }

  /** The committed version id, or None before the first batch. */
  private[graft] def latestMvVersion(mvDir: String): Option[Long] = {
    val st = graft.sources.ChainStorage.forPath(mvDir)
    if (st.isFile(s"$mvDir/_latest"))
      Some(st.read(s"$mvDir/_latest").trim.toLong)
    else None
  }

  /** The current maintained view (resolves the pointer). */
  def currentMv(s: SparkSession, mvDir: String): DataFrame =
    latestMvVersion(mvDir) match {
      case Some(id) => s.read.parquet(s"$mvDir/v_$id")
      case None => throw new IllegalStateException(s"no MV version in $mvDir")
    }
}
