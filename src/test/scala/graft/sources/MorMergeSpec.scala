package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Merge-on-read upsert (morMergeCommit): the same MERGE INTO
  * semantics as the CoW path but written as DV-mask + delta append.
  * Pins the four contracts that make MoR worth having:
  *   1. result identity — a CoW and a MoR commit of the SAME batch
  *      produce byte-identical table states;
  *   2. no rewrite — every base data file is carried at its old path
  *      and the delta holds exactly the changed rows (the
  *      O(changed rows) write-amplification claim);
  *   3. chained masking — a later MoR commit can hide an earlier
  *      commit's delta row;
  *   4. compaction erases the read-side overhead — no sidecar, same
  *      content.
  * Plus: describeHistory classifies the commit as `mor-merge`, the
  * change feed pairs a masked row with its post-image, and a feed
  * replica converges across MoR commits. */
class MorMergeSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sf0001, "documents")

  private def updates = docs.filter(col("doc_id") % 9 === 2)
    .select(col("doc_id"), lit("mm").as("lang"),
      lit("merged").as("source"))
  private def inserts = docs.filter(col("doc_id") % 31 === 3)
    .select((col("doc_id") + 30000000L).as("doc_id"), col("text"),
      col("lang"), col("source"), col("n_chars"))
  private def deletes = docs.filter(col("doc_id") % 17 === 4)
    .select("doc_id")

  private def freshRoot(tag: String): String = {
    val root = graft.Tables.matDir(s"mor_${tag}_${System.nanoTime}",
      spark, sf0001)
    ManifestPrune.buildLayout(docs, root, nFiles = 4)
    root
  }

  test("MoR commit state is byte-identical to the CoW commit of the " +
    "same MERGE batch") {
    val cow = freshRoot("cow")
    val mor = freshRoot("mor")
    ManifestPrune.mergeIntoCommit(spark, cow, updates, inserts,
      Some(deletes))
    ManifestPrune.morMergeCommit(spark, mor, updates, inserts,
      Some(deletes))
    val a = ManifestPrune.readCommitted(spark, cow, 1L)
      .orderBy("doc_id").collect().map(_.toSeq)
    val b = ManifestPrune.readCommitted(spark, mor, 1L)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(a === b)
  }

  test("no base file is rewritten and the delta holds exactly the " +
    "changed rows") {
    val root = freshRoot("norw")
    val baseFiles = spark.read.parquet(s"$root/manifest")
      .select("file").collect().map(_.getString(0)).toSet
    ManifestPrune.morMergeCommit(spark, root, updates, inserts,
      Some(deletes))
    val v1Files = spark.read
      .parquet(ManifestPrune.manifestOf(root, 1L))
      .select("file").collect().map(_.getString(0)).toSet
    // every base file carried at its old path
    assert(baseFiles.subsetOf(v1Files))
    // delta rows = matched updates' post-images + inserts, nothing else
    val deltaRows = spark.read
      .parquet((v1Files -- baseFiles).toSeq: _*).count()
    val expected = docs.filter(col("doc_id") % 9 === 2 &&
      col("doc_id") % 17 =!= 4).count() + inserts.count()
    assert(deltaRows === expected)
    // sidecar masks matched + deleted rows (the overlap counted once)
    val dv = ManifestPrune.dvOf(root, 1L).get
    assert(spark.read.parquet(dv).count() ===
      docs.filter(col("doc_id") % 9 === 2 ||
        col("doc_id") % 17 === 4).count())
  }

  test("a second MoR commit masks the first commit's delta row and " +
    "describeHistory reports mor-merge") {
    val root = freshRoot("chain")
    ManifestPrune.morMergeCommit(spark, root, updates, inserts,
      Some(deletes))
    ManifestPrune.morMergeCommit(spark, root,
      docs.filter(col("doc_id") % 9 === 2 && col("doc_id") % 2 === 0 &&
          col("doc_id") % 17 =!= 4)
        .select(col("doc_id"), lit("m2").as("lang")),
      docs.limit(0).select(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars")))
    val head = ManifestPrune.readCommitted(spark, root, 2L).cache()
    // the twice-updated keys show the LAST value with v1's other SET
    // column intact (m2 came from a delta row carrying source=merged)
    val twice = head.filter(col("lang") === "m2")
    assert(twice.count() === docs.filter(col("doc_id") % 9 === 2 &&
      col("doc_id") % 2 === 0 && col("doc_id") % 17 =!= 4).count())
    assert(twice.filter(col("source") =!= "merged").count() === 0L)
    // no duplicate keys: the v1 post-image is hidden, not shadowed
    assert(head.groupBy("doc_id").count()
      .filter(col("count") > 1).count() === 0L)
    val kinds = ManifestPrune.describeHistory(spark, root)
      .orderBy("version").select("kind")
      .collect().map(_.getString(0)).toSeq
    assert(kinds === Seq("base", "mor-merge", "mor-merge"))
  }

  test("compaction materializes the masks: no sidecar, same content") {
    val root = freshRoot("compact")
    ManifestPrune.morMergeCommit(spark, root, updates, inserts,
      Some(deletes))
    val before = ManifestPrune.readCommitted(spark, root, 1L)
      .orderBy("doc_id").collect().map(_.toSeq)
    ManifestPrune.compactCommit(spark, root, nFiles = 2)
    assert(ManifestPrune.dvOf(root, 2L).isEmpty)
    val after = ManifestPrune.readCommitted(spark, root, 2L)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(after === before)
  }

  test("the change feed pairs MoR updates into pre/post images") {
    val root = freshRoot("feed")
    ManifestPrune.morMergeCommit(spark, root, updates, inserts,
      Some(deletes))
    val s1 = ManifestPrune.changeFeedStep(spark, root, 1L).cache()
    // a masked old row meets its post-image in the delta file on the
    // key diff: BOTH images, as for a CoW update; masked rows without
    // a post-image are deletes; delta rows without an old row inserts
    val nUpd = docs.filter(col("doc_id") % 9 === 2 &&
      col("doc_id") % 17 =!= 4).count()
    val nDel = docs.filter(col("doc_id") % 17 === 4).count()
    assert(s1.filter(col("op") === "delete").count() === nDel)
    assert(s1.filter(col("op") === "update_preimage").count() === nUpd)
    assert(s1.filter(col("op") === "update_postimage" &&
      col("lang") === "mm").count() === nUpd)
    assert(s1.filter(col("op") === "insert").count() === inserts.count())
    val dst = freshRoot("feeddst")
    ManifestPrune.replicateFeed(spark, root, dst, 0L, 1L)
    val rep = ManifestPrune.readCommitted(spark, dst,
      ManifestPrune.currentVersion(spark, dst))
      .orderBy("doc_id").collect().map(_.toSeq)
    val head = ManifestPrune.readCommitted(spark, root, 1L)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(rep === head)
  }
}
