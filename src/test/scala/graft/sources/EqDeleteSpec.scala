package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Equality deletes (Iceberg v2's key-valued delete kind): the
  * file-level contracts — the commit is PURE METADATA (zero data
  * files written or read), sidecars accumulate by key-set union, the
  * next data-touching commit FOLDS the keys into positional form and
  * drops the pointer, the change feed emits the hidden rows exactly
  * once (and re-emits them as inserts across a RESTORE), vacuum
  * respects referenced sidecars, and branches carry / fast-forward
  * rehomes the sidecar like DVs. (Value correctness of the full
  * delete→fold→delete→compact lifecycle is the q_eq_delete oracle
  * gate.) */
class EqDeleteSpec extends SparkSpec {

  private def docs = Tables.load(spark, sf0001, "documents")

  private def freshChain(tag: String, nFiles: Int = 4): String = {
    val root = Tables.matDir(s"eqspec_${tag}_${System.nanoTime}",
      spark, sf0001)
    ManifestPrune.buildLayout(docs, root, nFiles)
    root
  }

  private def dataFiles(root: String): Set[String] =
    new java.io.File(root).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("data"))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).toSet

  test("an equality delete writes zero data files, keeps the file " +
    "list, hides exactly its keys, and accumulates by union") {
    val root = freshChain("basic")
    val before = dataFiles(root)
    val v1 = ManifestPrune.eqDeleteCommit(spark, root,
      docs.filter(col("doc_id") % 5 === 1).select("doc_id"))
    assert(v1 === 1L)
    assert(dataFiles(root) === before, "an eqdel commit touched data")
    val f0 = spark.read.parquet(s"$root/manifest")
      .select("file").collect().map(_.getString(0)).toSet
    val f1 = spark.read.parquet(ManifestPrune.manifestOf(root, 1L))
      .select("file").collect().map(_.getString(0)).toSet
    assert(f1 === f0)
    val live1 = ManifestPrune.readCommitted(spark, root, 1L)
    assert(live1.filter(col("doc_id") % 5 === 1).count() === 0L)
    assert(live1.count() ===
      docs.filter(col("doc_id") % 5 =!= 1).count())
    // second delete unions into the sidecar
    ManifestPrune.eqDeleteCommit(spark, root,
      docs.filter(col("doc_id") % 7 === 2).select("doc_id"))
    val live2 = ManifestPrune.readCommitted(spark, root, 2L)
    assert(live2.count() === docs.filter(col("doc_id") % 5 =!= 1 &&
      col("doc_id") % 7 =!= 2).count())
    // version 1 still reads with only ITS keys hidden
    assert(ManifestPrune.readCommitted(spark, root, 1L).count() ===
      docs.filter(col("doc_id") % 5 =!= 1).count())
    // metadata-only counts refuse the estimate and say why
    val e = intercept[IllegalArgumentException] {
      ManifestPrune.liveRowCountCommitted(spark, root, 2L)
    }
    assert(e.getMessage.contains("equality deletes"))
    // unknown equality columns refuse at COMMIT time
    val bad = intercept[IllegalArgumentException] {
      ManifestPrune.eqDeleteCommit(spark, root,
        docs.select(col("doc_id").as("nope")))
    }
    assert(bad.getMessage.contains("nope"))
  }

  test("the next data-touching commit folds equality deletes into " +
    "positions: pointer gone, read identical, counts exact again") {
    val root = freshChain("fold")
    ManifestPrune.eqDeleteCommit(spark, root,
      docs.filter(col("doc_id") % 3 === 0).select("doc_id"))
    val expectAfterEq = docs.filter(col("doc_id") % 3 =!= 0)
    ManifestPrune.morMergeCommit(spark, root,
      docs.filter(col("doc_id") % 7 === 1)
        .select(col("doc_id"), lit("zz").as("lang")),
      docs.limit(0).select(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars")))
    assert(ManifestPrune.eqDelOf(root, 2L).isEmpty,
      "the fold must drop the _eqdel pointer")
    assert(ManifestPrune.dvOf(root, 2L).nonEmpty)
    val live = ManifestPrune.readCommitted(spark, root, 2L)
    assert(live.filter(col("doc_id") % 3 === 0).count() === 0L,
      "folding resurrected eq-hidden rows")
    assert(live.count() === expectAfterEq.count())
    assert(live.filter(col("lang") === "zz").count() ===
      docs.filter(col("doc_id") % 7 === 1 &&
        col("doc_id") % 3 =!= 0).count())
    // positional-only sidecar ⇒ manifest arithmetic is exact again
    assert(ManifestPrune.liveRowCountCommitted(spark, root, 2L) ===
      expectAfterEq.count())
  }

  test("the change feed emits eq-hidden rows exactly once: deletes at " +
    "the eqdel commit, NOTHING extra at the fold, inserts on restore") {
    val root = freshChain("feed")
    val keys = docs.filter(col("doc_id") % 5 === 1)
    ManifestPrune.eqDeleteCommit(spark, root, keys.select("doc_id"))
    val step1 = ManifestPrune.changeFeedStep(spark, root, 1L).cache()
    assert(step1.filter(col("op") === "delete").count() === keys.count())
    assert(step1.filter(col("op") =!= "delete").count() === 0L)
    // fold via MoR update on DISJOINT keys: the folded positions must
    // not re-emit as deletes (their delete already streamed at v1)
    ManifestPrune.morMergeCommit(spark, root,
      docs.filter(col("doc_id") % 5 === 2)
        .select(col("doc_id"), lit("ff").as("lang")),
      docs.limit(0).select(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars")))
    val step2 = ManifestPrune.changeFeedStep(spark, root, 2L).cache()
    assert(step2.filter(col("doc_id") % 5 === 1).count() === 0L,
      "the fold re-emitted rows the eqdel commit already deleted")
    // the update's own images are still there, paired
    val nUpd = docs.filter(col("doc_id") % 5 === 2).count()
    assert(step2.filter(col("op") === "update_postimage" &&
      col("lang") === "ff").count() === nUpd)
    assert(step2.filter(col("op") === "update_preimage").count() === nUpd)
    // restore back across the WHOLE thing to v0: every hidden row
    // (eq-hidden then folded, plus the update's masks) resurrects
    val rootR = freshChain("feedrestore")
    ManifestPrune.eqDeleteCommit(spark, rootR, keys.select("doc_id"))
    ManifestPrune.restoreVersion(spark, rootR, 0L)
    val stepR = ManifestPrune.changeFeedStep(spark, rootR, 2L).cache()
    assert(stepR.filter(col("op") === "insert").count() === keys.count())
    assert(stepR.filter(col("op") =!= "insert").count() === 0L)
    assert(ManifestPrune.readCommitted(spark, rootR, 2L).count() ===
      docs.count())
  }

  test("a replica fed the change feed converges across an eqdel " +
    "commit, its fold, and a restore") {
    val src = freshChain("repl")
    ManifestPrune.eqDeleteCommit(spark, src,
      docs.filter(col("doc_id") % 5 === 1).select("doc_id"))
    ManifestPrune.morMergeCommit(spark, src,
      docs.filter(col("doc_id") % 7 === 2)
        .select(col("doc_id"), lit("rr").as("lang")),
      docs.limit(0).select(col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars")))
    ManifestPrune.restoreVersion(spark, src, 1L) // undo the merge
    val dst = graft.Tables.matDir(s"eqspec_repldst_${System.nanoTime}",
      spark, sf0001)
    ManifestPrune.buildLayout(docs, dst, nFiles = 4)
    ManifestPrune.replicateFeed(spark, src, dst, 0L, 3L)
    val srcHead = ManifestPrune.readCommitted(spark, src, 3L)
      .orderBy("doc_id").collect().map(_.toSeq)
    val dstHead = ManifestPrune.readCommitted(spark, dst,
      ManifestPrune.currentVersion(spark, dst))
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(dstHead === srcHead)
  }

  test("vacuum keeps a sidecar any kept version references and " +
    "removes expired ones; dry-run reports the same without deleting") {
    val root = freshChain("vacuum")
    ManifestPrune.eqDeleteCommit(spark, root,
      docs.filter(col("doc_id") % 5 === 1).select("doc_id"))
    ManifestPrune.eqDeleteCommit(spark, root,
      docs.filter(col("doc_id") % 7 === 2).select("doc_id"))
    val keptEq = ManifestPrune.eqDelOf(root, 2L).get
    val expiredEq = ManifestPrune.eqDelOf(root, 1L).get
    val dry = ManifestPrune.expireVersions(spark, root, keepLast = 1,
      graceMs = 0L, dryRun = true)
    assert(new java.io.File(expiredEq).isDirectory,
      "dry-run deleted a sidecar")
    assert(new java.io.File(ManifestPrune.manifestOf(root, 1L))
      .isDirectory, "dry-run deleted a manifest")
    val real = ManifestPrune.expireVersions(spark, root, keepLast = 1,
      graceMs = 0L)
    assert(dry === real, "dry-run stats diverge from the real vacuum")
    assert(new java.io.File(keptEq).isDirectory,
      "vacuum destroyed a sidecar the head still references")
    assert(!new java.io.File(expiredEq).exists(),
      "vacuum leaked an expired version's eq sidecar")
    assert(ManifestPrune.readCommitted(spark, root, 2L).count() ===
      docs.filter(col("doc_id") % 5 =!= 1 &&
        col("doc_id") % 7 =!= 2).count())
  }

  test("the auto-fold policy bounds read amplification: crossing the " +
    "commit-streak threshold folds the backlog into positions") {
    val root = freshChain("fold")
    spark.conf.set("graft.eqdel.autoFoldCommits", "2")
    try {
      val v1 = ManifestPrune.eqDeleteCommit(spark, root,
        docs.filter(col("doc_id") % 5 === 1).select("doc_id"))
      val v2 = ManifestPrune.eqDeleteCommit(spark, root,
        docs.filter(col("doc_id") % 7 === 2).select("doc_id"))
      assert(ManifestPrune.eqDelOf(root, v1).isDefined)
      assert(ManifestPrune.eqDelOf(root, v2).isDefined)
      // live counts are a scan question while keys are unfolded
      intercept[IllegalArgumentException] {
        ManifestPrune.liveRowCountCommitted(spark, root, v2)
      }
      // the third commit crosses autoFoldCommits=2 and FOLDS
      val v3 = ManifestPrune.eqDeleteCommit(spark, root,
        docs.filter(col("doc_id") % 11 === 3).select("doc_id"))
      assert(ManifestPrune.eqDelOf(root, v3).isEmpty,
        "the folding commit must publish no _eqdel pointer")
      assert(ManifestPrune.dvOf(root, v3).isDefined)
      assert(ManifestPrune.commitNote(root, v3) === Some("eqdel-fold"))
      // O(1)-metadata live counts are restored, and they are right
      val expect = docs.filter(col("doc_id") % 5 =!= 1 &&
        col("doc_id") % 7 =!= 2 && col("doc_id") % 11 =!= 3).count()
      assert(ManifestPrune.liveRowCountCommitted(spark, root, v3)
        === expect)
      assert(ManifestPrune.readCommitted(spark, root, v3).count()
        === expect)
      // the streak reset: the next eq-delete is pure metadata again
      val v4 = ManifestPrune.eqDeleteCommit(spark, root,
        docs.filter(col("doc_id") % 13 === 4).select("doc_id"))
      assert(ManifestPrune.eqDelOf(root, v4).isDefined)
      assert(ManifestPrune.describeHistory(spark, root)
        .filter(col("version") === 3L).select("kind").head()
        .getString(0) === "eqdel-fold")
    } finally spark.conf.unset("graft.eqdel.autoFoldCommits")
  }

  test("the auto-fold policy also triggers on accumulated KEY count") {
    val root = freshChain("foldk")
    spark.conf.set("graft.eqdel.autoFoldKeys", "10")
    try {
      // first commit stays unfolded (streak 0, keys <= 10)
      ManifestPrune.eqDeleteCommit(spark, root,
        docs.orderBy("doc_id").limit(5).select("doc_id"))
      assert(ManifestPrune.eqDelOf(root, 1L).isDefined)
      // the accumulated key set crosses 10 -> fold
      val v2 = ManifestPrune.eqDeleteCommit(spark, root,
        docs.orderBy(desc("doc_id")).limit(20).select("doc_id"))
      assert(ManifestPrune.eqDelOf(root, v2).isEmpty)
      assert(ManifestPrune.commitNote(root, v2) === Some("eqdel-fold"))
      assert(ManifestPrune.readCommitted(spark, root, v2).count() ===
        docs.count() - 25)
    } finally spark.conf.unset("graft.eqdel.autoFoldKeys")
  }

  test("describeHistory classifies eq-delete and restore commits") {
    val root = freshChain("hist")
    ManifestPrune.eqDeleteCommit(spark, root,
      docs.filter(col("doc_id") % 5 === 1).select("doc_id"))
    ManifestPrune.restoreVersion(spark, root, 0L)
    val kinds = ManifestPrune.describeHistory(spark, root)
      .select("version", "kind").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(kinds(1L) === "eq-delete")
    assert(kinds(2L) === "restore")
  }

  test("a branch carries the fork's equality deletes; fast-forward " +
    "rehomes a branch-side eq sidecar onto main") {
    val root = freshChain("branch")
    ManifestPrune.eqDeleteCommit(spark, root,
      docs.filter(col("doc_id") % 5 === 1).select("doc_id"))
    val br = ManifestPrune.createBranch(spark, root, "wip", 1L)
    assert(ManifestPrune.readBranch(spark, root, "wip").count() ===
      docs.filter(col("doc_id") % 5 =!= 1).count())
    ManifestPrune.eqDeleteCommit(spark, br,
      docs.filter(col("doc_id") % 7 === 2).select("doc_id"))
    val v = ManifestPrune.fastForward(spark, root, "wip")
    val expect = docs.filter(col("doc_id") % 5 =!= 1 &&
      col("doc_id") % 7 =!= 2)
    assert(ManifestPrune.readCommitted(spark, root, v).count() ===
      expect.count())
    // the rehomed sidecar lives under MAIN's root (branch dirs may
    // be dropped after publish)
    val eq = ManifestPrune.eqDelOf(root, v).get
    assert(new java.io.File(eq).getParentFile.getAbsolutePath ===
      new java.io.File(root).getAbsolutePath)
  }
}
