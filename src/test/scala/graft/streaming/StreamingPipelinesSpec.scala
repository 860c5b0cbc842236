package graft.streaming

import graft.SparkSpec
import graft.sources.ManifestPrune
// Spark 4.1 moved MemoryStream under execution.streaming.runtime
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming writers of a graft table: the erasure applier
  * (`del:` cursor), the graft-table sink's applier (`tsink:`) and the
  * feed-maintained MV's version pointer — replay, crash and
  * interleaving on one chain. */
class StreamingPipelinesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = graft.Tables.load(spark, sf0001, "documents")

  /** A sink upsert batch: the rows whose doc_id is a multiple of
    * `mod`, re-languaged to `tag`. */
  private def upd(mod: Int, tag: String) =
    docs.filter(col("doc_id") % mod === 0).withColumn("lang", lit(tag))

  private def upsert(batch: org.apache.spark.sql.DataFrame, id: Long,
                     root: String): Unit =
    StreamingPipelines.applySinkBatch(batch, id, root, "upsert", "doc_id")

  private def mvSnapshot(dir: String): Set[(String, Long, Long)] =
    StreamingPipelines.currentMv(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  /** The signed per-lang fold of change-feed images, recomputed from
    * scratch: inserts and post-images add, deletes and pre-images
    * subtract. */
  private def mvRecompute(rows: Seq[(String, String, Long)])
      : Set[(String, Long, Long)] =
    rows.groupBy(_._2).map { case (lang, rs) =>
      val sign = rs.map(r =>
        if (Set("insert", "update_postimage")(r._1)) 1L else -1L)
      (lang, sign.sum, rs.zip(sign).map { case (r, g) => g * r._3 }.sum)
    }.filter(_._2 > 0).toSet

  /** The per-lang aggregate of a chain's committed head. */
  private def headAggregate(root: String): Set[(String, Long, Long)] =
    ManifestPrune.readCommitted(spark, root,
        ManifestPrune.currentVersion(spark, root))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet

  test("incrementally maintained MV equals batch recompute at every step") {
    val root = graft.Tables.matDir(s"mv_maint_${System.nanoTime}",
      spark, sf0001)
    ManifestPrune.buildLayout(docs, root, nFiles = 4)
    val dir = java.nio.file.Files.createTempDirectory("mv_maint").toString
    val ck = java.nio.file.Files.createTempDirectory("mv_maint_ck").toString
    StreamingPipelines.seedLangMv(spark, root, dir)
    assert(mvSnapshot(dir) === headAggregate(root))
    val q = StreamingPipelines.maintainLangMvFromFeed(spark, root, dir)
      .option("checkpointLocation", ck).start()
    // one commit of each kind the feed carries: updates (pre- and
    // post-images), inserts, and deletes
    val steps: Seq[() => Unit] = Seq(
      () => upsert(upd(9, "mv"), 0L, root),
      () => upsert(docs.filter(col("doc_id") % 13 === 1)
        .withColumn("doc_id", col("doc_id") + 20000000L), 1L, root),
      () => StreamingPipelines.applyDeleteBatch(
        docs.filter(col("doc_id") % 7 === 3).select("doc_id"), 0L, root))
    try {
      steps.zipWithIndex.foreach { case (step, i) =>
        step()
        q.processAllAvailable()
        assert(mvSnapshot(dir) === headAggregate(root),
          s"view diverged after step $i")
      }
    } finally q.stop()
  }

  test("MV maintenance: replayed batches fold exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("mv_replay").toString
    val rows0 = Seq(("insert", "en", 10L), ("insert", "it", 5L))
    val rows1 = Seq(("insert", "en", 7L), ("update_preimage", "it", 5L),
      ("update_postimage", "de", 5L))
    def frame(rows: Seq[(String, String, Long)]) =
      rows.toDF("op", "lang", "n_chars")
    StreamingPipelines.applyLangMvBatch(frame(rows0), 0, dir)
    val s0 = mvSnapshot(dir)
    assert(s0 === mvRecompute(rows0))
    // pointer-committed replay: must be skipped outright
    StreamingPipelines.applyLangMvBatch(frame(rows0), 0, dir)
    assert(mvSnapshot(dir) === s0)
    StreamingPipelines.applyLangMvBatch(frame(rows1), 1, dir)
    val s1 = mvSnapshot(dir)
    assert(s1 === mvRecompute(rows0 ++ rows1))
    // crash-before-pointer replay: rewind the pointer to v0 and replay
    // batch 1 — the recompute reads the UNCHANGED v0, so the result is
    // byte-identical and re-pointing restores the same view
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_latest"),
      "0".getBytes("UTF-8"))
    StreamingPipelines.applyLangMvBatch(frame(rows1), 1, dir)
    assert(mvSnapshot(dir) === s1)
    assert(StreamingPipelines.latestMvVersion(dir) === Some(1L))
    // v0 is immutable and still reads as committed
    val asOf0 = spark.read.parquet(s"$dir/v_0").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(asOf0 === s0)
  }

  test("CDC apply accepts multi-column SET batches (general merge)") {
    val root = graft.Tables.matDir(s"cdc_mc_${System.nanoTime}",
      spark, sf0001)
    ManifestPrune.buildLayout(docs, root, nFiles = 4)
    // an upsert batch changing TWO payload columns
    upsert(docs.filter(col("doc_id") % 9 === 2)
      .withColumn("lang", lit("mc")).withColumn("source", lit("cdc")),
      0L, root)
    val t = ManifestPrune.readCommitted(spark, root, 1L)
    val n = docs.filter(col("doc_id") % 9 === 2).count()
    assert(t.filter(col("lang") === "mc" &&
      col("source") === "cdc").count() === n)
    assert(t.filter(col("lang") === "mc" &&
      col("source") =!= "cdc").count() === 0L)
    assert(t.count() === docs.count())
  }

  test("a table rebuilt at the same path invalidates the in-JVM " +
    "replay cursor: the new chain's first batches are NOT skipped") {
    val root = graft.Tables.matDir(s"cdc_rebuild_${System.nanoTime}",
      spark, sf0001)
    ManifestPrune.buildLayout(docs, root, nFiles = 4)
    // three batches advance the cursor's floor to v3 / lastBatch 2
    (0L to 2L).foreach { b =>
      upsert(docs.filter(col("doc_id") % 7 === b)
        .withColumn("lang", lit(s"b$b")), b, root)
    }
    assert(ManifestPrune.currentVersion(spark, root) === 3L)
    // DELETE the table and rebuild a fresh chain at the SAME path —
    // the dead chain's cached (floor=3, lastBatch=2) must not make
    // the new stream treat batches 0..2 as replays (silent data loss)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(new java.io.File(root))
    ManifestPrune.buildLayout(docs, root, nFiles = 4)
    upsert(docs.filter(col("doc_id") % 5 === 1)
      .withColumn("lang", lit("fresh")), 0L, root)
    assert(ManifestPrune.currentVersion(spark, root) === 1L)
    assert(ManifestPrune.readCommitted(spark, root, 1L)
      .filter(col("lang") === "fresh").count() ===
      docs.filter(col("doc_id") % 5 === 1).count())
  }

  test("streaming equality deletes: pure-metadata batches, own replay " +
    "cursor, interleave with DV deletes and CDC updates") {
    val root = graft.Tables.matDir(s"eqstream_${System.nanoTime}",
      spark, sf0001)
    ManifestPrune.buildLayout(docs, root, nFiles = 4)
    def eqDelete(mod: Int, rem: Int, id: Long): Unit =
      StreamingPipelines.applySinkBatch(
        docs.filter(col("doc_id") % mod === rem).select("doc_id"), id,
        root, "delete", "doc_id")
    def dataFiles(): Set[String] =
      new java.io.File(root).listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("data"))
        .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath).toSet
    val before = dataFiles()
    eqDelete(5, 1, 0L)
    assert(dataFiles() === before,
      "a streaming eq-delete batch touched data files")
    // replay is a no-op on the tsink: cursor
    eqDelete(5, 1, 0L)
    assert(ManifestPrune.currentVersion(spark, root) === 1L)
    // interleave: a DV delete batch (own del: cursor) then a second
    // eq batch (tsink: cursor advances past the interloper)
    StreamingPipelines.applyDeleteBatch(
      docs.filter(col("doc_id") % 7 === 2).select("doc_id"), 0L, root)
    eqDelete(11, 3, 1L)
    assert(ManifestPrune.currentVersion(spark, root) === 3L)
    assert(ManifestPrune.readCommitted(spark, root, 3L).count() ===
      docs.filter(col("doc_id") % 5 =!= 1 && col("doc_id") % 7 =!= 2 &&
        col("doc_id") % 11 =!= 3).count())
    // the replayed ids stay replayed after the interleaving
    eqDelete(11, 3, 1L)
    assert(ManifestPrune.currentVersion(spark, root) === 3L)
  }

  test("CDC streams into a BRANCH (a branch is a full root) and " +
    "fast-forward publishes the drained stream onto main") {
    val root = graft.Tables.matDir(s"cdc_branch_${System.nanoTime}",
      spark, sf0001)
    ManifestPrune.buildLayout(docs, root, nFiles = 4)
    ManifestPrune.createBranch(spark, root, "ingest", 0L)
    val br = ManifestPrune.branchRoot(root, "ingest")
    // two upsert batches drain onto the branch; main stays at v0
    upsert(upd(7, "s0"), 0L, br)
    upsert(upd(11, "s1"), 1L, br)
    assert(ManifestPrune.currentVersion(spark, root) === 0L)
    assert(ManifestPrune.currentVersion(spark, br) === 2L)
    // replay idempotency holds on the branch's own cursor
    upsert(upd(11, "s1"), 1L, br)
    assert(ManifestPrune.currentVersion(spark, br) === 2L)
    // publish: main's head equals the drained branch state
    val v = ManifestPrune.fastForward(spark, root, "ingest")
    val main = ManifestPrune.readCommitted(spark, root, v)
    assert(main.filter(col("doc_id") % 11 === 0 &&
      col("lang") =!= "s1").count() === 0L)
    assert(main.filter(col("doc_id") % 7 === 0 &&
      col("doc_id") % 11 =!= 0 && col("lang") =!= "s0").count() === 0L)
    assert(main.count() === docs.count())
  }

  test("CDC apply: batches commit versions; replay and crash are safe") {
    // unique per JVM run: identityHashCode suffixes can collide across
    // restarts and _commits markers persist (see CowMergeSpec)
    val root = graft.Tables.matDir(s"cdc_apply_${System.nanoTime}",
      spark, sf0001)
    ManifestPrune.buildLayout(docs, root, nFiles = 8)
    upsert(upd(7, "b0"), 0L, root)
    upsert(upd(11, "b1"), 1L, root)
    assert(ManifestPrune.currentVersion(spark, root) === 2L)
    val after2 = ManifestPrune.readCommitted(spark, root, 2L).collect()
    // REPLAY of committed batch 1: no new version, state unchanged
    upsert(upd(11, "b1"), 1L, root)
    assert(ManifestPrune.currentVersion(spark, root) === 2L)
    // CRASH before publish: writer-unique prepared state exists but the
    // canonical rename never happened — replaying the batch prepares
    // again and commits exactly once (the rename-then-crash window is
    // adoption, pinned in CommitRaceSpec)
    val baseMf = ManifestPrune.manifestOf(root, 2)
    ManifestPrune.morMergeFrom(spark, root, baseMf,
      ManifestPrune.dvOf(root, 2L), upd(13, "b2"), upd(13, "b2").limit(0),
      ManifestPrune.prepareToken())
    assert(ManifestPrune.currentVersion(spark, root) === 2L) // not committed
    upsert(upd(13, "b2"), 2L, root)
    assert(ManifestPrune.currentVersion(spark, root) === 3L)
    val v3 = ManifestPrune.readCommitted(spark, root, 3L)
    assert(v3.filter(col("doc_id") % 13 === 0 &&
      col("lang") =!= "b2").count() === 0)
    assert(v3.count() === after2.length)
  }

  test("DV erasure stream interleaves with CDC on one chain, " +
    "replay- and crash-safe") {
    val root = graft.Tables.matDir(s"del_apply_${System.nanoTime}",
      spark, sf0001)
    ManifestPrune.buildLayout(docs, root, nFiles = 8)
    def del(mod: Int) = docs.filter(col("doc_id") % mod === 0)
      .select("doc_id")
    val dataFilesBefore = new java.io.File(s"$root/data").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap
    // delete batch 0, then a sink batch 0 from a DIFFERENT stream —
    // the two id sequences are incomparable and must keep independent
    // replay cursors
    StreamingPipelines.applyDeleteBatch(del(7), 0L, root)
    assert(ManifestPrune.currentVersion(spark, root) === 1L)
    // the erasure touched no data file (merge-on-read)
    assert(new java.io.File(s"$root/data").listFiles()
      .map(f => f.getName -> f.lastModified()).toMap === dataFilesBefore)
    // the update batch draws from the live rows: an upsert would
    // re-insert an erased key
    val u0 = ManifestPrune.readCommitted(spark, root, 1L)
      .filter(col("doc_id") % 11 === 0).withColumn("lang", lit("u0"))
    upsert(u0, 0L, root)
    assert(ManifestPrune.currentVersion(spark, root) === 2L)
    // REPLAYS of both batch 0s: no new versions even though the
    // current marker carries the OTHER stream's note
    StreamingPipelines.applyDeleteBatch(del(7), 0L, root)
    upsert(u0, 0L, root)
    assert(ManifestPrune.currentVersion(spark, root) === 2L)
    // state: deletes stay hidden through the later upsert, update applied
    val v2 = ManifestPrune.readCommitted(spark, root, 2L)
    assert(v2.filter(col("doc_id") % 7 === 0).count() === 0L)
    assert(v2.filter(col("doc_id") % 11 === 0 && col("doc_id") % 7 =!= 0
      && col("lang") =!= "u0").count() === 0L)
    assert(v2.count() === docs.filter(col("doc_id") % 7 =!= 0).count())
    // CRASH before publish on the delete path: writer-unique prepared
    // sidecar exists but the canonical rename never happened — the
    // replay prepares again and commits exactly once
    ManifestPrune.dvDeleteFrom(spark, root,
      ManifestPrune.manifestOf(root, 2L), ManifestPrune.dvOf(root, 2L),
      del(13), ManifestPrune.prepareToken())
    assert(ManifestPrune.currentVersion(spark, root) === 2L)
    StreamingPipelines.applyDeleteBatch(del(13), 1L, root)
    assert(ManifestPrune.currentVersion(spark, root) === 3L)
    val v3 = ManifestPrune.readCommitted(spark, root, 3L)
    assert(v3.filter(col("doc_id") % 13 === 0).count() === 0L)
    assert(v3.count() === docs.filter(col("doc_id") % 7 =!= 0 &&
      col("doc_id") % 13 =!= 0).count())
  }

  test("applyDeleteBatch drains a key stream through foreachBatch") {
    implicit val sc = spark.sqlContext
    val root = graft.Tables.matDir(s"del_stream_${System.nanoTime}",
      spark, sf0001)
    ManifestPrune.buildLayout(docs, root, nFiles = 4)
    val in = MemoryStream[Long]
    in.addData(1L, 2L, 3L)
    val q = in.toDF().withColumnRenamed("value", "doc_id").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamingPipelines.applyDeleteBatch(b, id, root)
      }
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("del_stream_ck_").toString)
      .start()
    q.processAllAvailable()
    in.addData(10L, 11L)
    q.processAllAvailable()
    q.stop()
    val cur = ManifestPrune.currentVersion(spark, root)
    assert(cur === 2L)
    val live = ManifestPrune.readCommitted(spark, root, cur)
    assert(live.filter(col("doc_id").isin(1L, 2L, 3L, 10L, 11L))
      .count() === 0L)
    assert(live.count() === docs.count() - 5L)
  }

  test("an adopted version's empty note is skipped by replay cursors") {
    val root = graft.Tables.matDir(s"note_${System.nanoTime}",
      spark, sf0001)
    ManifestPrune.buildLayout(docs, root, nFiles = 4)
    // stream writer commits batch 0 (note "del:0")
    StreamingPipelines.applyDeleteBatch(
      docs.filter(col("doc_id") % 23 === 1).select("doc_id"), 0L, root)
    // a crashed anonymous writer's version gets adopted (empty note)
    val tok = ManifestPrune.prepareToken()
    val (mf, _) = ManifestPrune.dvDeleteFrom(spark, root,
      ManifestPrune.manifestOf(root, 1L), ManifestPrune.dvOf(root, 1L),
      docs.filter(col("doc_id") % 29 === 2).select("doc_id"), tok)
    assert(new java.io.File(mf)
      .renameTo(new java.io.File(ManifestPrune.manifestOf(root, 2L))))
    // stream writer's batch 1: publish races the orphan, adopts it,
    // retries, and lands as v3 — the adopted v2's EMPTY note must not
    // truncate the cursor scan (batch 0's note sits below it)
    StreamingPipelines.applyDeleteBatch(
      docs.filter(col("doc_id") % 31 === 3).select("doc_id"), 1L, root)
    assert(ManifestPrune.currentVersion(spark, root) === 3L)
    // and a REPLAY of batch 1 finds its note through the chain
    StreamingPipelines.applyDeleteBatch(
      docs.filter(col("doc_id") % 31 === 3).select("doc_id"), 1L, root)
    assert(ManifestPrune.currentVersion(spark, root) === 3L)
    val t = ManifestPrune.readCommitted(spark, root, 3L)
    assert(t.filter(col("doc_id") % 23 === 1 ||
      col("doc_id") % 29 === 2 || col("doc_id") % 31 === 3).count() === 0L)
  }
}
