package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** ZOrder: interleave correctness against an independent reference,
  * and the LAYOUT claim itself — z-order-clustered files bound BOTH
  * dimensions, a linear sort bounds only its own key. */
class ZOrderLayoutSpec extends SparkSpec {

  private def refMorton(x: Long, y: Long, bits: Int): Long =
    (0 until bits).foldLeft(0L) { (acc, i) =>
      acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }

  test("morton expression matches the reference interleave") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.{Row, types => T}
    val rnd = new scala.util.Random(7)
    val pairs = Seq.tabulate(200)(_ =>
      (rnd.nextLong(65536), rnd.nextLong(65536))) ++
      Seq((0L, 0L), (65535L, 65535L), (65535L, 0L), (0L, 65535L))
    val schema = T.StructType(Seq(
      T.StructField("x", T.LongType, nullable = false),
      T.StructField("y", T.LongType, nullable = false)))
    val df = spark.createDataFrame(
      pairs.map { case (x, y) => Row(x, y) }.asJava, schema)
    val got = df.select(col("x"), col("y"),
      ZOrder.morton(col("x"), col("y"), 16).as("z")).collect()
    got.foreach { r =>
      assert(r.getLong(2) === refMorton(r.getLong(0), r.getLong(1), 16),
        s"(${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("z-ordered files bound both dims; a ts sort leaves user unbounded") {
    val ev = Tables.load(spark, sf001, "events")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"))
    val r = ev.agg(min("user_id"), max("user_id"), min("us"), max("us")).head
    val (uMin, uMax, tMin, tMax) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    // normalize both dims into the 8-bit bucket domain [0, 255]
    val b = ev
      .withColumn("ub",
        ((col("user_id") - uMin) * 255L / (uMax - uMin)).cast("long"))
      .withColumn("tb", ((col("us") - tMin) * 255L / (tMax - tMin)).cast("long"))
      .select("event_id", "ub", "tb")

    val dirZ = "target/tmp/zorder_layout_z"
    val dirT = "target/tmp/zorder_layout_t"
    // the z-order layout write: range-partition by the Morton code
    // (equal-count z-curve segments), sort within each file by it
    b.withColumn("__z", ZOrder.morton(ZOrder.bucket(col("ub"), 8),
        ZOrder.bucket(col("tb"), 8), 8))
      .repartitionByRange(16, col("__z")).sortWithinPartitions("__z")
      .drop("__z").write.mode("overwrite").parquet(dirZ)
    b.repartitionByRange(16, col("tb")).sortWithinPartitions("tb")
      .write.mode("overwrite").parquet(dirT)

    def extents(dir: String): Array[(Long, Long)] =
      spark.read.parquet(dir).withColumn("f", input_file_name())
        .groupBy("f")
        .agg((max("ub") - min("ub")).as("du"), (max("tb") - min("tb")).as("dt"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))

    val z = extents(dirZ)
    val t = extents(dirT)
    // linear ts sort: every file's ts extent is tiny, but its USER
    // extent spans essentially the whole domain — two-sided windows
    // prune nothing
    assert(t.map(_._1).min >= 200,
      s"ts-sorted files unexpectedly bound user: ${t.mkString(",")}")
    // z-order: files bound BOTH dimensions, except the few z-curve
    // segments that straddle a major quadrant seam (the curve jumps
    // across the full x domain when a high y bit flips — an inherent,
    // bounded artifact: equal-count range partitions don't align to
    // quadrant boundaries, so at most a couple of the 16 segments
    // cross one). At least 13/16 files must be compact in both dims,
    // and the MEAN extent must sit near the quadrant size (~64-128 of
    // 255) — vs the linear layout's min-200 user extent in EVERY file.
    val compact = z.count { case (du, dt) => du <= 180 && dt <= 180 }
    assert(compact >= 13,
      s"only $compact/16 z-ordered files are compact: ${z.mkString(",")}")
    assert(z.map(_._1).sum / z.length <= 130 &&
      z.map(_._2).sum / z.length <= 130,
      s"z-ordered mean extents too wide: ${z.mkString(",")}")
  }
}
