package graft.streaming

import graft.SparkSpec
import graft.sources.ManifestPrune
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The composed GDPR lifecycle, driven through a REAL streaming query:
  * erasure keys arrive on a MemoryStream, a foreachBatch over
  * applyDeleteBatch lands them as sidecar-only DV versions on the CAS
  * chain, compactCommit materializes the accumulated vectors, and
  * expireVersions physically reclaims every pre-compaction data file —
  * so the erased rows' BYTES are gone, which is the actual
  * right-to-be-forgotten requirement (a hidden row is not an erased
  * row). q_gdpr_erase hash-gates the surviving read; this pins the
  * file-level claims the hash can't see. */
class GdprPipelineSpec extends SparkSpec {

  test("stream deletes → compaction → vacuum: erased bytes reclaimed, " +
    "survivors byte-identical, replay cursor intact across the chain") {
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val docs = graft.Tables.load(spark, sf0001, "documents")
    val root = graft.Tables.matDir(s"gdpr_e2e_${System.nanoTime}",
      spark, sf0001)
    ManifestPrune.buildLayout(docs, root, nFiles = 4)
    val preFiles = new java.io.File(s"$root/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSet
    assert(preFiles.size === 4)

    // two erasure micro-batches through the real stream face
    val doomed1 = docs.filter(col("doc_id") % 13 === 2)
      .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect()
    val doomed2 = docs.filter(col("doc_id") % 17 === 4)
      .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect()
    val in = MemoryStream[Long]
    in.addData(doomed1.toSeq)
    val q = in.toDF().withColumnRenamed("value", "doc_id").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        StreamingPipelines.applyDeleteBatch(b, id, root)
      }
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("gdpr_ck_").toString)
      .start()
    q.processAllAvailable()
    in.addData(doomed2.toSeq)
    q.processAllAvailable()
    q.stop()
    assert(ManifestPrune.currentVersion(spark, root) === 2L)
    // merge-on-read so far: every original data file untouched
    assert(new java.io.File(s"$root/data").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).toSet === preFiles)
    assert(ManifestPrune.dvOf(root, 2L).isDefined)

    val expect = docs.filter(col("doc_id") % 13 =!= 2 &&
      col("doc_id") % 17 =!= 4)
    val survivors = expect.orderBy("doc_id").collect().map(_.toSeq)

    // compaction materializes the vectors; vacuum reclaims history
    val v3 = ManifestPrune.compactCommit(spark, root, nFiles = 2)
    val stats = ManifestPrune.expireVersions(spark, root,
      keepLast = 1, graceMs = 0L)
    // the REAL erasure guarantee: every pre-compaction file that held
    // a doomed row is physically deleted (compaction rewrote ALL
    // files, so the whole pre-set must be gone)
    assert(preFiles.forall(p => !new java.io.File(p).exists()),
      "pre-compaction files (containing erased bytes) must be reclaimed")
    assert(stats.removedDataFiles >= preFiles.size.toLong)
    // head has no sidecar left and reads byte-identical to the oracle set
    assert(ManifestPrune.dvOf(root, v3).isEmpty)
    val after = ManifestPrune.readCommitted(spark, root, v3)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(after === survivors)
    // the erasure stream's replay cursor survives compaction+vacuum:
    // a replay of batch 1 must be a no-op, and a NEW batch must land
    StreamingPipelines.applyDeleteBatch(
      docs.filter(col("doc_id") % 17 === 4).select("doc_id"), 1L, root)
    assert(ManifestPrune.currentVersion(spark, root) === v3)
    StreamingPipelines.applyDeleteBatch(
      docs.filter(col("doc_id") % 29 === 6).select("doc_id"), 2L, root)
    assert(ManifestPrune.currentVersion(spark, root) === v3 + 1)
    val finalRead = ManifestPrune.readCommitted(spark, root, v3 + 1)
    assert(finalRead.count() ===
      expect.filter(col("doc_id") % 29 =!= 6).count())
  }
}
