package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column processing: opaque binary payloads with typed
  * metadata, processed partition-wise in batches.
  *
  * The container has no image/audio codec libraries, so the actual
  * decode is STUBBED ([[StubCodec]]) with a deterministic fake — but
  * everything Spark-side is real and is exactly what a production
  * decode needs: binary columns + metadata struct schema, batched
  * per-partition processing (the JVM-side shape of what Python would do
  * with mapInPandas: amortize per-batch setup like codec init across
  * rows), bounded memory per batch, and repartitioning by payload size
  * so one executor doesn't get all the big blobs.
  */
object MultimodalPipeline {

  /** One media row: payload is opaque bytes, meta is typed. */
  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte],
                      width: Int, height: Int, sample_rate: Int)

  /** Extracted features per media row. */
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
                           sha_head: String, mean_byte: Double,
                           n_frames: Int, feature: Array[Float])

  /** The codec seam. A real deployment swaps this object for JNI/FFmpeg/
    * ImageIO bindings; signature and batch shape stay identical. */
  object StubCodec {
    val FrameBytes = 256

    /** "Decode" = deterministic pseudo-frames: the payload split into
      * fixed-size chunks. Stands in for image tiles / audio frames. */
    def frames(payload: Array[Byte]): Iterator[Array[Byte]] =
      payload.grouped(FrameBytes)

    /** "Feature extraction" = 8-dim byte histogram per payload —
      * deterministic, cheap, and shaped like a real embedding. */
    def features(payload: Array[Byte]): Array[Float] = {
      val hist = new Array[Float](8)
      var i = 0
      while (i < payload.length) {
        hist((payload(i) & 0xff) >>> 5) += 1f
        i += 1
      }
      if (payload.length > 0) {
        var j = 0
        while (j < 8) { hist(j) /= payload.length; j += 1 }
      }
      hist
    }
  }

  /** Build a media frame from the documents table: text bytes stand in
    * for media payloads. Repartitioned to the cluster's default
    * parallelism, hashing (size_band, media_id): the log2 size band
    * keeps each partition's mix of small and large payloads uniform (no
    * partition accumulates a disproportionate share of the big-blob
    * band), and media_id scatters within a band. No literal partition
    * count anywhere — the decode stage scales with the cluster. */
  def mediaFromDocuments(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    val numParts = spark.sparkContext.defaultParallelism
    graft.Tables.load(spark, sfDir, "documents")
      .select(
        col("doc_id").as("media_id"),
        when(col("doc_id") % 2 === 0, "image").otherwise("audio").as("kind"),
        encode(col("text"), "UTF-8").as("payload"),
        (col("n_chars") % 640 + 16).cast(IntegerType).as("width"),
        lit(480).as("height"),
        lit(16000).as("sample_rate"))
      .as[MediaRow]
      .repartition(numParts,
        floor(log(2.0, greatest(length(col("payload")), lit(1)))),
        col("media_id"))
  }

  /** Partition-wise decode + feature extraction. mapPartitions (not a
    * row UDF) so codec setup happens once per partition and rows stream
    * through in bounded batches — the Scala analog of mapInPandas. */
  def decodeAndExtract(media: Dataset[MediaRow],
                       batchSize: Int = 64): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition setup (a real codec would init here, once)
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          val nFrames = StubCodec.frames(r.payload).size
          val feat = StubCodec.features(r.payload)
          md.reset(); md.update(r.payload, 0, math.min(64, r.payload.length))
          val shaHead = md.digest().take(4).map("%02x".format(_)).mkString
          val mean =
            if (r.payload.isEmpty) 0.0
            else {
              var s = 0L; var i = 0
              while (i < r.payload.length) { s += (r.payload(i) & 0xff); i += 1 }
              s.toDouble / r.payload.length
            }
          MediaFeatures(r.media_id, r.kind, r.payload.length.toLong,
            shaHead, mean, nFrames, feat)
        }
      }
    }
  }

  /** End-to-end: documents -> media -> features DataFrame. */
  def run(spark: SparkSession, sfDir: String): DataFrame =
    decodeAndExtract(mediaFromDocuments(spark, sfDir)).toDF()
}
