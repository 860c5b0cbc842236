package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** changeFeed's per-step semantics at row grain (q_change_feed
  * hash-gates the aggregate view): exact op row sets for each commit
  * kind, pre- vs post-images, the no-op-update drop that makes a
  * compaction emit an EMPTY feed, and feed-vs-state consistency —
  * replaying the feed over the old version must reproduce the new
  * one, the property a downstream CDC consumer actually relies on. */
class ChangeFeedSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sf0001, "documents")

  private def chain(): String = {
    val root = graft.Tables.matDir(s"feed_${System.nanoTime}",
      spark, sf0001)
    ManifestPrune.buildLayout(docs, root, nFiles = 4)
    ManifestPrune.cowMergeCommit(spark, root,
      docs.filter(col("doc_id") % 11 === 0)
        .select(col("doc_id"), lit("zz").as("new_lang")),
      docs.filter(col("doc_id") % 13 === 1)
        .select((col("doc_id") + 20000000L).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars")))
    ManifestPrune.dvDeleteCommit(spark, root,
      docs.filter(col("doc_id") % 7 === 3).select("doc_id"))
    ManifestPrune.compactCommit(spark, root, nFiles = 2)
    root
  }

  test("CoW step emits exact insert/update sets with post-images; " +
    "DV step emits pre-image deletes; compaction emits nothing") {
    val root = chain()
    val s1 = ManifestPrune.changeFeedStep(spark, root, 1L).cache()
    // updates: every doc_id ≡ 0 (mod 11), BOTH images (Delta CDF
    // convention) — post lang = zz, pre lang = the original (never zz)
    val nUpd = docs.filter(col("doc_id") % 11 === 0).count()
    val post = s1.filter(col("op") === "update_postimage")
    val pre = s1.filter(col("op") === "update_preimage")
    assert(post.count() === nUpd && pre.count() === nUpd)
    assert(post.filter(col("lang") =!= "zz").count() === 0L)
    assert(pre.filter(col("lang") === "zz").count() === 0L)
    // inserts: the shifted twins, payload intact
    val ins = s1.filter(col("op") === "insert")
    assert(ins.count() ===
      docs.filter(col("doc_id") % 13 === 1).count())
    assert(ins.filter(col("doc_id") < 20000000L).count() === 0L)
    // no deletes in a pure upsert commit; untouched rows of rewritten
    // files must NOT surface as no-op updates
    assert(s1.filter(col("op") === "delete").count() === 0L)
    assert(s1.count() === 2 * nUpd + ins.count())

    // DV step: pre-image deletes, and ONLY those
    val s2 = ManifestPrune.changeFeedStep(spark, root, 2L).cache()
    assert(s2.filter(col("op") =!= "delete").count() === 0L)
    assert(s2.count() === docs.filter(col("doc_id") % 7 === 3).count())
    // pre-image check: a deleted row that was updated in v1 carries zz
    val updatedDeleted = docs.filter(col("doc_id") % 7 === 3 &&
      col("doc_id") % 11 === 0).count()
    assert(s2.filter(col("lang") === "zz").count() === updatedDeleted)

    // compaction: physical motion, zero change
    assert(ManifestPrune.changeFeedStep(spark, root, 3L).count() === 0L)
  }

  test("a CoW rewrite of DV-carrying files neither re-emits their " +
    "deletes nor resurrects hidden rows in the feed") {
    val root = graft.Tables.matDir(s"feed_dvcow_${System.nanoTime}",
      spark, sf0001)
    ManifestPrune.buildLayout(docs, root, nFiles = 4)
    // v1: hide doc_id ≡ 3 (mod 7) behind deletion vectors
    ManifestPrune.dvDeleteCommit(spark, root,
      docs.filter(col("doc_id") % 7 === 3).select("doc_id"))
    // v2: CoW update touching keys spread over every file — the
    // rewrite materializes the touched files' DVs and DROPS their
    // sidecar entries (the Iceberg rewrite rule), the exact window
    // where a naive feed would re-emit old deletes (sidecar shrank)
    // or resurrect hidden rows (rewrite re-reads the files)
    ManifestPrune.cowMergeCommit(spark, root,
      docs.filter(col("doc_id") % 11 === 0)
        .select(col("doc_id"), lit("zz").as("new_lang")),
      docs.limit(0).select(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars")))
    val s2 = ManifestPrune.changeFeedStep(spark, root, 2L).cache()
    // only live updated keys appear — hidden keys (≡3 mod 7) stay
    // invisible even where both predicates overlap
    assert(s2.filter(col("op") === "delete").count() === 0L)
    assert(s2.filter(col("op") === "insert").count() === 0L)
    val expectUpd = docs.filter(col("doc_id") % 11 === 0 &&
      col("doc_id") % 7 =!= 3).count()
    assert(s2.filter(col("op") === "update_postimage").count()
      === expectUpd)
    assert(s2.filter(col("doc_id") % 7 === 3).count() === 0L)
  }

  test("a restore that rolls back DV deletes emits the resurrected " +
    "rows as inserts, and a feed replica converges across the restore") {
    val root = graft.Tables.matDir(s"feed_restore_${System.nanoTime}",
      spark, sf0001)
    ManifestPrune.buildLayout(docs, root, nFiles = 4)
    // v1: hide doc_id ≡ 3 (mod 7); v2: restore v0 — file set
    // UNCHANGED, sidecar VANISHES, rows un-hidden. A growth-only feed
    // would emit nothing for v2 and every consumer would diverge.
    val hidden = docs.filter(col("doc_id") % 7 === 3).select("doc_id")
    ManifestPrune.dvDeleteCommit(spark, root, hidden)
    ManifestPrune.restoreVersion(spark, root, 0L)
    val s2 = ManifestPrune.changeFeedStep(spark, root, 2L).cache()
    assert(s2.filter(col("op") =!= "insert").count() === 0L)
    assert(s2.filter(col("op") === "insert").select("doc_id")
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq ===
      hidden.orderBy("doc_id").collect().map(_.getLong(0)).toSeq)
    // end-to-end: a replica tailing (0, 2] lands on the restored head
    val dst = graft.Tables.matDir(s"feed_restore_dst_${System.nanoTime}",
      spark, sf0001)
    ManifestPrune.buildLayout(docs, dst, nFiles = 4)
    ManifestPrune.replicateFeed(spark, root, dst, 0L, 2L)
    val rep = ManifestPrune.readCommitted(spark, dst,
      ManifestPrune.currentVersion(spark, dst))
      .orderBy("doc_id").collect().map(_.toSeq)
    val head = ManifestPrune.readCommitted(spark, root, 2L)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(rep === head)
  }

  test("a merge-on-read step pairs masked rows with their post-images " +
    "and drops updates that change nothing") {
    val root = graft.Tables.matDir(s"feed_mor_${System.nanoTime}",
      spark, sf0001)
    ManifestPrune.buildLayout(docs, root, nFiles = 4)
    // every matched key is masked and re-appended; only even keys get
    // a new lang, odd keys keep theirs (an identical payload)
    val matched = col("doc_id") % 9 === 2
    val gone = col("doc_id") % 17 === 4
    ManifestPrune.morMergeCommit(spark, root,
      docs.filter(matched).select(col("doc_id"),
        when(col("doc_id") % 2 === 0, lit("mm"))
          .otherwise(col("lang")).as("lang")),
      docs.filter(col("doc_id") % 31 === 3)
        .withColumn("doc_id", col("doc_id") + 40000000L),
      Some(docs.filter(gone).select("doc_id")))
    val s1 = ManifestPrune.changeFeedStep(spark, root, 1L).cache()
    val changed = docs.filter(matched && col("doc_id") % 2 === 0 && !gone)
    def keys(op: String) = s1.filter(col("op") === op).select("doc_id")
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    def ids(df: org.apache.spark.sql.DataFrame) = df.select("doc_id")
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(keys("update_preimage") === ids(changed))
    assert(keys("update_postimage") === ids(changed))
    assert(s1.filter(col("op") === "update_postimage" &&
      col("lang") =!= "mm").count() === 0L)
    assert(s1.filter(col("op") === "update_preimage" &&
      col("lang") === "mm").count() === 0L)
    assert(keys("delete") === ids(docs.filter(gone)))
    assert(keys("insert").size.toLong ===
      docs.filter(col("doc_id") % 31 === 3).count())
    assert(s1.count() === 2L * changed.count() +
      docs.filter(gone).count() + keys("insert").size)
  }

  test("replaying the feed over v0 reproduces v3 exactly") {
    val root = chain()
    val feed = ManifestPrune.changeFeed(spark, root, 0L, 3L).cache()
    val v0 = ManifestPrune.readCommitted(spark, root, 0L)
    val dels = feed.filter(col("op") === "delete").select("doc_id")
    val upserts = feed
      .filter(col("op").isin("insert", "update_postimage"))
      .drop("op", "version")
    // last-writer-wins replay: upserts replace, deletes remove
    // (ops never collide on a key in this chain, so plain set algebra)
    val replayed = v0
      .join(upserts.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(upserts)
      .join(dels, Seq("doc_id"), "left_anti")
      .orderBy("doc_id").collect().map(_.toSeq)
    val head = ManifestPrune.readCommitted(spark, root, 3L)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(replayed === head)
  }
}
