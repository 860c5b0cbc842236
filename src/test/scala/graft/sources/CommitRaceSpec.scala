package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** The rename-publish commit protocol under ACTUAL concurrency: two
  * writers preparing from the same base in parallel threads must both
  * land (one retries), because prepared state is writer-unique and
  * the canonical-name rename decides the race — the failure mode this
  * exists to prevent is racing writers overwriting each other's
  * prepared dirs BEFORE the commit point. Also pins the
  * rename-then-crash adoption path and loser-garbage expiry. */
class CommitRaceSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sf0001, "documents")

  private def freshRoot(tag: String): String = {
    val root = graft.Tables.matDir(s"race_${tag}_${System.nanoTime}",
      spark, sf0001)
    ManifestPrune.buildLayout(docs, root, nFiles = 4)
    root
  }

  test("two writers racing from one base both land via withCommitRetry") {
    val root = freshRoot("pair")
    val merge = Future(ManifestPrune.withCommitRetry() { () =>
      ManifestPrune.cowMergeCommit(spark, root,
        docs.filter(col("doc_id") % 101 === 0)
          .select(col("doc_id"), lit("rr").as("new_lang")),
        docs.limit(0).select(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars")))
    })
    val erase = Future(ManifestPrune.withCommitRetry() { () =>
      ManifestPrune.dvDeleteCommit(spark, root,
        docs.filter(col("doc_id") % 97 === 5).select("doc_id"))
    })
    val (v1, v2) = (Await.result(merge, 5.minutes),
      Await.result(erase, 5.minutes))
    assert(Set(v1, v2) === Set(1L, 2L), s"got versions $v1, $v2")
    assert(ManifestPrune.currentVersion(spark, root) === 2L)
    val t = ManifestPrune.readCommitted(spark, root, 2L)
    val expect = docs.filter(col("doc_id") % 97 =!= 5)
    assert(t.count() === expect.count())
    assert(t.filter(col("doc_id") % 97 === 5).count() === 0L)
    assert(t.filter(col("doc_id") % 101 === 0 && col("doc_id") % 97 =!= 5
      && col("lang") =!= "rr").count() === 0L)
    // the loser's abandoned first attempt left only u-named garbage,
    // never a half-published canonical version
    assert(!new java.io.File(ManifestPrune.manifestOf(root, 3L)).exists())
  }

  test("a rename-then-crash winner is adopted by the next writer") {
    val root = freshRoot("adopt")
    // crashed writer: prepared + renamed to canonical v1, died before
    // creating its marker
    val tok = ManifestPrune.prepareToken()
    val (mf, _) = ManifestPrune.dvDeleteFrom(spark, root,
      s"$root/manifest", None,
      docs.filter(col("doc_id") % 7 === 3).select("doc_id"), tok)
    assert(new java.io.File(mf)
      .renameTo(new java.io.File(ManifestPrune.manifestOf(root, 1L))))
    assert(ManifestPrune.currentVersion(spark, root) === 0L) // no marker
    // next writer adopts v1 and lands its own delete as v2
    val v = ManifestPrune.withCommitRetry() { () =>
      ManifestPrune.dvDeleteCommit(spark, root,
        docs.filter(col("doc_id") % 11 === 6).select("doc_id"))
    }
    assert(v === 2L)
    assert(ManifestPrune.currentVersion(spark, root) === 2L)
    val t = ManifestPrune.readCommitted(spark, root, 2L)
    // BOTH deletes are in effect: the adopted crashed commit and ours
    assert(t.filter(col("doc_id") % 7 === 3).count() === 0L)
    assert(t.filter(col("doc_id") % 11 === 6).count() === 0L)
    assert(t.count() === docs.filter(col("doc_id") % 7 =!= 3 &&
      col("doc_id") % 11 =!= 6).count())
  }

  test("publish reports IO failures as terminal, not as races") {
    val root = freshRoot("ioerr")
    // a prepared path that does not exist: rename fails and nothing
    // occupies the canonical name — retrying cannot help, so the
    // error must NOT be the retryable ConcurrentModificationException
    val e = intercept[IllegalStateException] {
      ManifestPrune.publish(root, 0L, s"$root/manifest_never_written")
    }
    assert(e.getMessage.contains("non-race"))
    assert(ManifestPrune.currentVersion(spark, root) === 0L)
  }

  test("concurrent SQL INSERTs both land — the catalog's DML paths " +
    "auto-retry a lost CAS like blind appends everywhere") {
    val root = freshRoot("sqlins")
    spark.conf.set("spark.sql.catalog.graft",
      classOf[GraftCatalog].getName)
    val tbl = s"race.t_${System.nanoTime}"
    GraftCatalog.registerTable(tbl, root)
    val a = Future(spark.sql(s"INSERT INTO graft.$tbl VALUES " +
      "(95000001, 'race row a', 'ra', 'race', 10)"))
    val b = Future(spark.sql(s"INSERT INTO graft.$tbl VALUES " +
      "(95000002, 'race row b', 'rb', 'race', 10)"))
    Await.result(a, 120.seconds); Await.result(b, 120.seconds)
    assert(ManifestPrune.currentVersion(spark, root) === 2L)
    val got = spark.sql(s"SELECT count(*) AS n FROM graft.$tbl " +
      "WHERE source = 'race'").collect().head.getLong(0)
    assert(got === 2L, "a lost INSERT race dropped a row")
  }

  test("concurrent graft-table batch appends both land — the format's " +
    "batch write retries a lost CAS like the catalog's INSERT") {
    val root = freshRoot("fmtapp")
    def row(id: Long) = docs.filter(col("doc_id") === 1L)
      .withColumn("doc_id", lit(id)).withColumn("source", lit("race"))
    val a = Future(row(95000011L).write.format("graft-table")
      .mode("append").save(root))
    val b = Future(row(95000012L).write.format("graft-table")
      .mode("append").save(root))
    Await.result(a, 120.seconds); Await.result(b, 120.seconds)
    assert(ManifestPrune.currentVersion(spark, root) === 2L)
    assert(ManifestPrune.readCommitted(spark, root, 2L)
      .filter(col("source") === "race").select("doc_id").collect()
      .map(_.getLong(0)).toSet === Set(95000011L, 95000012L),
      "a lost append race dropped a row")
  }

  test("expiry collects race losers' prepared garbage") {
    val root = freshRoot("gc")
    // a loser: fully prepared, never published
    val tok = ManifestPrune.prepareToken()
    ManifestPrune.dvDeleteFrom(spark, root, s"$root/manifest", None,
      docs.filter(col("doc_id") % 13 === 1).select("doc_id"), tok)
    // a winner on the same chain
    ManifestPrune.dvDeleteCommit(spark, root,
      docs.filter(col("doc_id") % 17 === 2).select("doc_id"))
    ManifestPrune.expireVersions(spark, root, keepLast = 2, graceMs = 0)
    assert(!new java.io.File(s"$root/manifest_$tok").exists(),
      "loser prepared manifest survived expiry")
    assert(!new java.io.File(s"$root/dv_$tok").exists(),
      "loser sidecar survived expiry")
    // the committed version still reads with its delete hidden
    val t = ManifestPrune.readCommitted(spark, root, 1L)
    assert(t.filter(col("doc_id") % 17 === 2).count() === 0L)
    assert(t.count() === docs.filter(col("doc_id") % 17 =!= 2).count())
  }
}
