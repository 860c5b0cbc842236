package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming counterparts of the batch event queries
  * (CoreQueries q_events_tumbling / q_events_sessionize): the same
  * logical computation expressed over an unbounded source.
  *
  * The reference has no streaming at all (SURVEY.md §2 "deliberately
  * absent"), so this is north-star surface: watermarked tumbling-window
  * aggregation, and gap-based sessionization as custom state via
  * flatMapGroupsWithState — the Spark-native replacement for a
  * hand-rolled stateful reducer.
  *
  * Scale posture: state is keyed by (window|user) and pruned by
  * watermark/timeout, so state size is bounded by active keys, not
  * stream length; all aggregates are partial-aggregated before shuffle.
  */
object StreamingPipelines {

  import graft.sources.ManifestPrune

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class SessionState(start: Long, lastTs: Long, nEvents: Long)

  case class Session(user_id: Long, start_ts: Timestamp, end_ts: Timestamp,
                     n_events: Long, duration_sec: Long)

  /** Tumbling 1-hour window counts/sums per event_type with a 10-minute
    * watermark — append-mode capable (windows finalize when the
    * watermark passes). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast("decimal(18,2)")).cast("double")
             .as("sum_value"))
      .select(col("window.start").as("window_start"),
              col("event_type"), col("n"), col("sum_value"))

  /** Windowed APPROXIMATE QUANTILES over a watermarked stream — the
    * latency-dashboard primitive (p50/p95/max per window) at streaming
    * scale: approx_percentile's GK sketch is a MERGEABLE partial
    * aggregate, so it composes with streaming state exactly like
    * count/sum — bounded per-(window, type) state, append-mode
    * finalization when the watermark passes. An exact percentile would
    * need every value retained in state (unbounded); the sketch is the
    * only shape that survives a hot window. The spec pins streaming
    * output ≡ the BATCH plan of the same aggregate on the same data —
    * the mergeable-monoid equivalence, same design as the HLL/MG
    * sketch families. */
  def windowedQuantiles(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(approx_percentile(col("value"), lit(0.5), lit(1000)).as("p50"),
        approx_percentile(col("value"), lit(0.95), lit(1000)).as("p95"),
        max(col("value")).as("vmax"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("p50"), col("p95"), col("vmax"), col("n"))

  /** STREAMING SIMILARITY SEARCH — a stream of query vectors answered
    * per micro-batch against the PERSISTED IVF index: each batch runs
    * the identical partition-pruned [[graft.similarity.IvfIndex
    * .searchIndexed]] plan the batch q_ann_ivf verifies (probe
    * ranking, STATIC partition filter on the probed lists, bounded
    * TopK heaps), so the index is built once and serves BOTH batch
    * analytics and the online query stream — the production ANN
    * serving shape. foreachBatch is the right seam: the search is a
    * per-batch finite join against static state, not a stateful
    * streaming aggregate, and the sink callback keeps the function
    * testable (batch ≡ stream, StreamingPipelinesSpec). */
  def streamingAnnSearch(queries: DataFrame, indexDir: String,
      centroids: DataFrame, topK: Int, nProbe: Int,
      sim: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column,
      onBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty)
          onBatch(graft.similarity.IvfIndex.searchIndexed(
            batch.sparkSession, indexDir, centroids, batch.toDF(),
            topK, nProbe, sim))
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** NATIVE session windows in streaming — the built-in
    * session_window aggregation over a watermarked stream, the
    * declarative sibling of [[sessionize]]'s explicit-state form (and
    * the streaming twin of the batch q_session_window, which pins the
    * exact-gap boundary rule under the DuckDB oracle). State is
    * merged-session-per-(user, window) and bounded by the watermark;
    * append mode emits a session only when the watermark passes its
    * end — the semantics the spec checks against the batch plan. */
  def sessionWindowAgg(events: DataFrame,
                       gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("w.start").as("start_ts"), col("w.end").as("end_ts"),
        col("n_events"))

  /** Gap-based sessionization (30-minute inactivity) via
    * flatMapGroupsWithState: one state record per active user, flushed
    * as soon as a gap is observed in event-time order within the batch,
    * or when the processing-time timeout fires. */
  def sessionize(events: Dataset[Event],
                 gapSeconds: Long = 1800): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(finish(userId, _)).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(st) if t - st.lastTs > gapSeconds * 1000 =>
                  closed += finish(userId, st)
                  cur = Some(SessionState(t, t, 1))
                case Some(st) =>
                  cur = Some(st.copy(lastTs = t, nEvents = st.nEvents + 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { st =>
              state.update(st)
              state.setTimeoutDuration(s"$gapSeconds seconds")
            }
            closed.result().iterator
          }
      }
  }

  private def finish(userId: Long, st: SessionState): Session =
    Session(userId, new Timestamp(st.start), new Timestamp(st.lastTs),
            st.nEvents, (st.lastTs - st.start) / 1000)

  /** STREAMING CDC APPLY onto the versioned CoW table — the
    * "continuous MERGE" leg of the lakehouse family: each micro-batch
    * of (doc_id, new_lang) updates is folded into the manifest table
    * via [[graft.sources.ManifestPrune.cowMergeCommit]]-style
    * prepare-then-CAS, with the SOURCE BATCH ID recorded in the
    * commit marker. Exactly-once under replay comes from the marker
    * note alone: a replayed batch finds its id already on the current
    * version's marker and skips; a crash BEFORE the CAS left only
    * unreferenced prepared dirs, so the replay re-prepares and
    * commits once — the same two crash windows the MV version
    * protocol proves, now on the file-grain merge path. */
  def applyCdcStream(updates: DataFrame, root: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    updates.writeStream.outputMode("update")
      .foreachBatch((b: DataFrame, id: Long) => applyCdcBatch(b, id, root))

  /** [[applyCdcStream]] in MERGE-ON-READ mode — the write-amplification
    * fix for exactly this workload: a CDC feed of small scattered
    * updates under the CoW applier rewrites a whole file per touched
    * key per micro-batch, while the MoR applier
    * ([[graft.sources.ManifestPrune.morMergeFrom]]) DV-masks the old
    * rows and appends one delta file per batch — commit cost
    * O(batch's rows), data files untouched, read overhead erased by
    * the next compaction. Same CAS chain, same `cdc:` replay-cursor
    * contract, so CoW and MoR CDC appliers (and delete batches) can
    * interleave on one table. */
  def applyCdcStreamMor(updates: DataFrame, root: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    updates.writeStream.outputMode("update")
      .foreachBatch((b: DataFrame, id: Long) => applyCdcBatchMor(b, id, root))

  private[graft] def applyCdcBatchMor(batch: DataFrame, batchId: Long,
                                      root: String): Unit =
    applyOnce(batch.sparkSession, root, "cdc:", batchId) { cur =>
      Some(ManifestPrune.morMergeCommit(batch.sparkSession, root, batch,
        noRows(batch.sparkSession, root, cur)))
    }

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

  /** A zero-row frame in version `v`'s schema: the insert side of a
    * CDC batch, which only updates. */
  private def noRows(s: SparkSession, root: String, v: Long): DataFrame =
    ManifestPrune.readVersion(s, ManifestPrune.manifestOf(root, v)).limit(0)

  /** Latest batch id a stream KIND committed on the chain: scan the
    * markers newest-first for a note bearing our tag. Interleaved
    * commits from OTHER kinds (CDC updates vs erasure deletes — their
    * micro-batch id sequences are incomparable) are skipped, so each
    * writer keeps an independent replay cursor on the shared chain.
    * Untagged legacy notes parse as CDC's (the original single-writer
    * format). */
  private val batchCursor =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (Long, Long)]()

  private def lastAppliedBatch(root: String, cur: Long,
                               tag: String): Long = {
    // markers are retained forever (expiry keeps them by design), so a
    // cold scan is O(all versions ever committed) marker reads and
    // grows without bound on a long-lived CDC/delete stream; the
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
        case Some(n) if tag == "cdc:" && n.forall(_.isDigit) =>
          found = n.toLong
        case _ => v -= 1
      }
    }
    val b = if (found >= 0) found else cached.map(_._2).getOrElse(-1L)
    batchCursor.put(key, (math.max(cur, floor), b))
    b
  }

  private[streaming] def applyCdcBatch(batch: DataFrame, batchId: Long,
                                       root: String): Unit =
    applyOnce(batch.sparkSession, root, "cdc:", batchId) { cur =>
      Some(ManifestPrune.mergeIntoCommit(batch.sparkSession, root, batch,
        noRows(batch.sparkSession, root, cur)))
    }

  /** STREAMING ERASURE — the GDPR leg of the lakehouse family, pairing
    * [[applyCdcStream]]'s continuous MERGE with the deletion-vector
    * path: each micro-batch of doc_id keys becomes one
    * [[graft.sources.ManifestPrune.dvDeleteFrom]] version on the same
    * CAS chain, so a delete batch touches NO data file (position
    * sidecar only) and interleaves freely with CDC update batches.
    * Exactly-once under replay is the identical marker-note argument:
    * a replayed batch finds its id on the current marker and skips; a
    * crash before the CAS left only an unreferenced prepared sidecar,
    * so the replay re-prepares and commits once. At 100 TB this is
    * how a right-to-be-forgotten queue drains continuously without
    * write-amplifying the corpus — compaction or the next CoW merge
    * materializes the accumulated vectors. */
  def applyDeleteStream(deletes: DataFrame, root: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    deletes.writeStream.outputMode("update")
      .foreachBatch((b: DataFrame, id: Long) => applyDeleteBatch(b, id, root))

  private[graft] def applyDeleteBatch(batch: DataFrame, batchId: Long,
                                      root: String): Unit =
    applyOnce(batch.sparkSession, root, "del:", batchId) { _ =>
      Some(ManifestPrune.dvDeleteCommit(batch.sparkSession, root, batch))
    }

  /** [[applyDeleteStream]] in EQUALITY-DELETE mode — the cheapest
    * erasure drain the chain offers: each micro-batch of keys becomes
    * one [[graft.sources.ManifestPrune.eqDeleteCommit]] version, a
    * PURE-METADATA commit (no position-planning join, no data read at
    * all — even the DV path pays one planning join per batch). At
    * 100 TB this meets a right-to-be-forgotten SLA with bytes-sized
    * commits at any batch cadence; the deferred scan is paid ONCE
    * when the next data-touching commit or compaction folds the
    * accumulated keys into positions. Same CAS chain and
    * marker-cursor replay contract (`eqdel:`), so eq-delete batches
    * interleave freely with CDC updates and DV deletes. */
  def applyEqDeleteStream(deletes: DataFrame, root: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    deletes.writeStream.outputMode("update")
      .foreachBatch((b: DataFrame, id: Long) => applyEqDeleteBatch(b, id, root))

  private[graft] def applyEqDeleteBatch(batch: DataFrame, batchId: Long,
                                        root: String): Unit =
    applyOnce(batch.sparkSession, root, "eqdel:", batchId) { _ =>
      Some(ManifestPrune.eqDeleteCommit(batch.sparkSession, root, batch))
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

  case class EwmaEvent(event_id: Long, ts: Timestamp, user_id: Long,
                       value: Option[Double])
  case class EwmaState(vs: List[Long], ps: List[Boolean])
  case class EwmaPoint(user_id: Long, event_id: Long, num: Long, den: Long)

  /** The q_ewma batch operator's STREAMING face: per-event
    * exponentially-weighted smoothing emitted as the exact rational
    * (num, den) — identical arithmetic to the batch window (α = 1/2,
    * 8-lag truncated history, cent-scaled HALF_UP rounding mirroring
    * Spark's `round`), so batch and stream rows are equal
    * long-for-long (proven in StreamingPipelinesSpec). Per-user state
    * is the last ≤ 7 (value, present) lags — a FIXED-size ring
    * regardless of stream length, the strongest state bound in this
    * file (sessionization's state is bounded by activity; this one is
    * constant). Where the batch form needs the whole per-user
    * partition shuffled and window-sorted, the stream pays one
    * groupByKey shuffle per micro-batch and never re-reads history —
    * the per-event monitor a metric pipeline actually deploys. */
  def streamingEwma(events: Dataset[EwmaEvent]): Dataset[EwmaPoint] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[EwmaEvent], state: GroupState[EwmaState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(EwmaState(Nil, Nil))
          val out = sorted.map { e =>
            val cents = e.value.map(v =>
              java.math.BigDecimal.valueOf(v * 100)
                .setScale(0, java.math.RoundingMode.HALF_UP).longValue())
            var num = cents.map(_ * 128L).getOrElse(0L)
            var den = if (cents.isDefined) 128L else 0L
            st.vs.zip(st.ps).zipWithIndex.foreach { case ((v, p), i) =>
              if (p) { num += v * (1L << (6 - i)); den += 1L << (6 - i) }
            }
            st = EwmaState((cents.getOrElse(0L) :: st.vs).take(7),
              (cents.isDefined :: st.ps).take(7))
            EwmaPoint(uid, e.event_id, num, den)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming exact dedup for an ingest pipeline: drop repeated
    * payloads by content fingerprint within the watermark horizon.
    * State holds one md5 per unique document seen inside the event-time
    * window — bounded by watermark expiry, the property that keeps a
    * 100 TB/day ingest from accumulating unbounded state. Expects
    * columns (ts: timestamp, text: string); passes rows through with a
    * `fp` column added. */
  def streamingDedup(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")

  case class FpDoc(doc_id: Long, ts: Timestamp, hi: Long, lo: Long)

  /** A pricing-fact row for the MV maintenance stream. */
  case class FactRow(l_returnflag: String, l_linestatus: String,
                     l_quantity: Double)

  case class DupFlag(doc_id: Long, matched_id: Long, hamming: Int)

  // not `private`: Catalyst's generated (de)serializer classes live in
  // another package and cannot touch private members
  case class BucketRow(bucket: String, doc_id: Long, ts: Timestamp,
                       fp64: Long)

  // flagged maps doc_id -> last event-time it was flagged at, so the
  // dedup memory is watermark-pruned exactly like fps — without the
  // timestamp the set would grow with every dup ever seen in the
  // bucket, making state stream-length-bound on an unbounded ingest.
  // A doc re-flagged after its entry expires is within the documented
  // at-least-once contract (consumers dedup by doc_id).
  case class BucketState(fps: List[(Long, Long, Long)],
                         flagged: Map[Long, Long])

  /** Streaming NEAR-duplicate detection — the streaming face of the
    * batch simhash64 pair stage (DedupQueries), sharing its
    * [[graft.dedup.SimhashBanding]] probe construction so batch and
    * stream agree on which documents are near-dups.
    *
    * Input: a fingerprinted doc stream (doc_id, ts, hi, lo) — at 100 TB
    * fingerprinting is a map-only ingest stage, so the stream carries
    * the fingerprint, not the text. Each doc expands to its C(b,r)
    * probe keys; state lives PER PROBE BUCKET and holds the
    * fingerprints seen in that bucket within the watermark horizon —
    * the streaming analog of the banded self-join, with the same
    * guarantee (any pair at hamming <= r shares a bucket) and the same
    * scale posture (state per bucket ~ bucket occupancy; expired by
    * event-time timeout, never stream-length-bound).
    *
    * Output: an append stream of dup DETECTIONS (doc_id flagged, the
    * matched doc, the hamming distance) — the quarantine feed a keep/
    * drop consumer anti-joins against. The flagged doc is always the
    * LARGER doc_id of a matching pair regardless of arrival order
    * (a late-arriving smaller id retro-flags the earlier larger one),
    * so the flagged set is deterministic and equals the batch pair
    * table's b_id side — the property the spec asserts. A doc may be
    * flagged once per bucket it matches in (at-least-once semantics);
    * consumers dedup by doc_id. */
  def streamingNearDupFlags(fps: Dataset[FpDoc],
                            plan: graft.dedup.SimhashBanding.Plan,
                            watermark: String = "1 hour"): Dataset[DupFlag] = {
    import fps.sparkSession.implicits._
    import graft.dedup.SimhashBanding
    // the shared probe construction (SimhashBanding.probeStructs) is
    // the same expression tree the batch banded join builds from —
    // here each struct becomes a string bucket key
    val probes = SimhashBanding.probeStructs(col("fp64"), plan)
      .map(p => concat_ws(":", p.getField("comb"), p.getField("bits")))
    fps.toDF()
      .withColumn("fp64", shiftleft(col("hi"), 32).bitwiseOR(col("lo")))
      .withColumn("bucket", explode(array(probes: _*)))
      .select("bucket", "doc_id", "ts", "fp64")
      .withWatermark("ts", watermark)
      .as[BucketRow]
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketState, DupFlag](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[BucketRow], state: GroupState[BucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // prune fingerprints the watermark has passed — the state
            // bound that keeps an unbounded ingest from accumulating
            val wm = state.getCurrentWatermarkMs()
            var st = state.getOption.getOrElse(BucketState(Nil, Map.empty))
            st = st.copy(fps = st.fps.filter(_._3 >= wm),
              flagged = st.flagged.filter(_._2 >= wm))
            val out = scala.collection.mutable.ListBuffer[DupFlag]()
            var maxTs = 0L
            // id-sorted within the batch: in-batch pairs resolve the
            // same way regardless of micro-batch row order
            for (r <- rows.toSeq.sortBy(_.doc_id)) {
              maxTs = math.max(maxTs, r.ts.getTime)
              for ((oid, ofp, _) <- st.fps) {
                val h = java.lang.Long.bitCount(ofp ^ r.fp64)
                if (h <= plan.r) {
                  val (loser, winner) =
                    if (oid < r.doc_id) (r.doc_id, oid) else (oid, r.doc_id)
                  if (!st.flagged.contains(loser)) {
                    out += DupFlag(loser, winner, h)
                  }
                  st = st.copy(flagged =
                    st.flagged + (loser -> math.max(r.ts.getTime,
                      st.flagged.getOrElse(loser, 0L))))
                }
              }
              st = st.copy(fps = (r.doc_id, r.fp64, r.ts.getTime) :: st.fps)
            }
            state.update(st)
            if (maxTs > 0) state.setTimeoutTimestamp(maxTs, watermark)
            out.iterator
          }
      }
  }

  /** Stream-static enrichment join: the unbounded event stream joined
    * with a static dimension (user profiles here derived from customer)
    * — the standard lookup-join shape in an ingest pipeline. The static
    * side is broadcast per micro-batch; no state is kept. */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  /** Windowed heavy hitters over an unbounded token stream: the
    * Misra-Gries aggregate ([[graft.functions.MisraGriesAgg]]) composes
    * directly with streaming aggregation BECAUSE its buffer is
    * mergeable — each micro-batch's partial sketches merge into the
    * window's state, so per-window state is k counters regardless of
    * how many tokens (or distinct tokens) the window saw. The plain
    * `groupBy(window, token).count()` alternative keeps one state row
    * per (window, distinct token) — unbounded on an open vocabulary,
    * the state-blowup analog of the batch full-shuffle problem.
    * Candidates keep the MG guarantee per window: every token with
    * in-window frequency > N/(k+1) is present in the sketch. Expects
    * (ts: timestamp, tok: string). */
  def windowedHeavyHitters(toks: DataFrame, k: Int = 8): DataFrame =
    toks
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.MisraGriesAgg.misraGries(col("tok"), k)
        .as("sketch"))
      .select(col("window.start").as("window_start"), col("sketch"))

  /** Watermarked stream-stream interval join (attribution shape): each
    * purchase matched to the same user's clicks in the `windowSeconds`
    * before it, inclusive. Both sides carry watermarks and the join
    * predicate is equality + a bounded time range, which is what lets
    * Spark EXPIRE join state: buffered clicks are dropped once the
    * watermark passes click_ts + windowSeconds, purchases once it
    * passes purchase_ts — state is bounded by watermark + window, not
    * stream length, the property that keeps an attribution join alive
    * on an unbounded ingest. Inner-join matches emit as soon as both
    * rows have arrived (no watermark wait); the watermark governs only
    * state cleanup here. */
  def clickAttribution(events: DataFrame,
                       windowSeconds: Long = 1800,
                       watermark: String = "1 hour"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") -
          expr(s"INTERVAL $windowSeconds SECONDS"))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"))
  }

  /** LEFT OUTER stream-stream attribution: every purchase emits,
    * attributed or not — the variant reporting actually needs (an
    * inner join silently drops organic purchases, quietly inflating
    * attribution rates). Outer stream-stream joins are the thorniest
    * watermark semantics in Structured Streaming: a purchase cannot
    * know "no click will ever match" until the WATERMARK has passed
    * its whole join window, so null-padded rows emit exactly then —
    * late but correct, state still bounded by watermark + window. The
    * purchases side is the preserved (left) side; matched pairs emit
    * immediately like the inner join, and the spec pins both the
    * padded-row timing (nothing until the watermark closes the
    * window) and the final set (inner results ∪ null-padded organic
    * purchases). */
  def clickAttributionOuter(events: DataFrame,
                            windowSeconds: Long = 1800,
                            watermark: String = "1 hour"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermark)
    purchases.join(clicks,
        col("user_id") === col("p_user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") -
          expr(s"INTERVAL $windowSeconds SECONDS"),
        "left_outer")
      .select(col("purchase_id"), col("p_user_id").as("user_id"),
        col("purchase_ts"), col("click_id"), col("click_ts"))
  }

  /** Exactly-once file sink via foreachBatch: each micro-batch writes
    * to a directory keyed by its batchId with overwrite mode, so a
    * batch replayed after a failure (same id) OVERWRITES its own
    * partial output instead of duplicating it — idempotence is what
    * turns Structured Streaming's at-least-once replay into
    * exactly-once file output. Combined with the checkpoint (which
    * records batch completion), this is the standard production sink
    * pattern when the target store has no transactional commit.
    * Returns the started query; caller owns termination. */
  def writeExactlyOnce(df: DataFrame, outDir: String,
                       checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** INCREMENTAL MATERIALIZED-VIEW MAINTENANCE — the streaming leg of
    * the MV lifecycle (MvSetup builds, MvRewriteRule serves, this
    * maintains): fold each micro-batch of fact rows into the pricing
    * summary so served aggregates stay fresh without ever re-scanning
    * the fact history.
    *
    * Each batch is partial-aggregated (sum/count per key — the same
    * monoid the rewrite rule merges), combined with the CURRENT view
    * version, and written as a NEW version directory `v_<batchId>`;
    * a tiny `_latest` pointer file is then atomically renamed into
    * place. Exactly-once under replay comes from the version protocol,
    * not a transaction log: batchIds are sequential, so a replayed
    * batch either (a) finds the pointer already at/past its id and
    * skips, or (b) recomputes `v_<batchId>` from the UNCHANGED previous
    * version — bytes-identical, then re-points. Readers always resolve
    * the pointer to a fully-written version; old versions are retired
    * by a vacuum once readers drain (kept here — the battery runs
    * seconds, not days). At 100 TB the per-batch cost is
    * O(batch + |view|), and |view| is the key cross-product — the
    * whole point of maintaining the summary instead of the table. */
  def maintainPricingMv(fact: DataFrame, mvDir: String,
                        checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    fact.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        applyMvBatch(batch.toDF(), batchId, mvDir)
      }
      .start()

  /** One maintenance step (exposed for the replay-idempotence spec). */
  private[streaming] def applyMvBatch(batch: DataFrame, batchId: Long,
                                      mvDir: String): Unit = {
    val s = batch.sparkSession
    graft.sources.ChainStorage.forPath(mvDir).mkdirs(mvDir)
    val applied = latestMvVersion(mvDir)
    if (applied.exists(_ >= batchId)) return // replayed, already folded
    val partial = batch
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity")).as("psum_qty"),
        count(lit(1)).as("pcnt"))
    val prev = applied match {
      case Some(id) => s.read.parquet(s"$mvDir/v_$id")
      case None => partial.limit(0)
    }
    prev.unionByName(partial)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("psum_qty")).as("psum_qty"),
        sum(col("pcnt")).as("pcnt"))
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

  /** TIME TRAVEL: the view as of a historical batch — version dirs
    * are immutable once the pointer moves past them, so any retained
    * version reads back exactly as it was committed (the audit /
    * reproducibility read a table format sells, here from the version
    * protocol alone). Throws if the version was never committed. */
  def mvAsOf(s: SparkSession, mvDir: String, version: Long): DataFrame = {
    if (!graft.sources.ChainStorage.forPath(mvDir)
        .isDir(s"$mvDir/v_$version"))
      throw new IllegalArgumentException(
        s"version $version not present under $mvDir")
    s.read.parquet(s"$mvDir/v_$version")
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
    * ever. State protocol is the [[applyMvBatch]] version pointer
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

  /** One feed-driven MV step (exposed for the batch≡stream spec). */
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
    graft.sources.ChainStorage.forPath(mvDir)
      .write(s"$mvDir/_latest", batchId.toString)
  }

  /** File-source streaming read of the events table with the same
    * timestamp handling as Tables.load (explicit `ts TIMESTAMP` pins
    * session-timezone TimestampType over NTZ inference). Targets the
    * events parquet specifically — pointing a schema'd file stream at
    * the whole testdata dir would silently ingest every OTHER table's
    * files as all-null rows (caught by driving this end-to-end). */
  def readEventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val raw = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // file streams need a DIRECTORY path; pathGlobFilter narrows it to
    // the events file(s) only
    spark.readStream.schema(raw)
      .option("pathGlobFilter", "events*.parquet")
      .parquet(sfDir)
  }
}
