package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}

/** STORAGE-PARTITIONED JOINS between chain tables (Iceberg SPJ
  * parity): a chain built bucketed on its join key records one
  * bucket id per data file in the manifest, the catalog scan reports
  * `KeyGroupedPartitioning(bucket(N, key))` with each file partition
  * carrying its bucket as the partition key, and the catalog itself
  * resolves the `bucket` function — so a join of two co-bucketed
  * graft tables plans with ZERO Exchange on either side under
  * `spark.sql.sources.v2.bucketing.enabled`. The shuffle is paid once
  * at write time and amortized over every later join: the 100 TB
  * star-schema economics, through plain SQL.
  *
  * The bucket of a key is `pmod(xxhash64(key), N)` — exactly Spark's
  * `xxhash64` (seed 42), so the write path computes it with the
  * codegen'd built-in and [[GraftBucketFunction]] reproduces it
  * digit-for-digit wherever Spark evaluates the transform instead
  * (e.g. the one-side-shuffle SPJ variant). */
object SpjBucket {

  /** Bucket id as a Column — the WRITE-side definition every reader
    * and the V2 function must agree with. */
  def bucketCol(key: String, n: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(col(key)), lit(n.toLong)).cast(IntegerType)

  /** Register `root` as bucketed by `key` into `n` buckets — one
    * immutable root-level object, same CAS discipline as specs. */
  def register(root: String, key: String, n: Int): Unit = {
    val st = ChainStorage.forPath(root)
    require(st.putIfAbsent(s"$root/_spj", s"$key|$n\n"),
      s"bucketing already registered at $root")
  }

  /** The chain's bucketing, when registered: (key, numBuckets). */
  def bucketingOf(root: String): Option[(String, Int)] = {
    val st = ChainStorage.forPath(root)
    if (!st.isFile(s"$root/_spj")) None
    else {
      val parts = st.read(s"$root/_spj").trim.split("\\|")
      Some((parts(0), parts(1).toInt))
    }
  }

  /** Write a fresh BUCKETED layout + its manifest: rows land in
    * hive-style `__bp=K/` bucket directories (each FILE wholly inside
    * one bucket by construction), and the manifest records the
    * per-file `bucket` id beside the usual range stats. One shuffle
    * on the bucket id at write time; never again at join time. */
  def buildBucketedLayout(df: DataFrame, root: String, key: String,
                          nBuckets: Int,
                          statsCol: String = "n_chars"): String = {
    val s = df.sparkSession
    df.withColumn("__bp", bucketCol(key, nBuckets))
      .repartition(nBuckets, col("__bp"))
      .write.partitionBy("__bp").mode("overwrite")
      .parquet(s"$root/data")
    bucketStatsManifest(s, s"$root/data", key, nBuckets, statsCol,
      policy = ManifestPrune.statsPolicyOf(root))
      .write.mode("overwrite").parquet(s"$root/manifest")
    val st = ChainStorage.forPath(root)
    register(root, key, nBuckets)
    st.write(s"$root/_created", s"ts=${st.nowMs()}\n")
    root
  }

  /** The manifest rows of a bucketed data dir: the usual per-file
    * (file, min_key, max_key, n_rows, spec_id) plus the file's
    * `bucket` — derived from the KEY data itself and recorded only
    * when the whole file sits in one bucket (always true for dirs
    * this module wrote; a straddling file would record NULL and the
    * scan would honestly degrade to unknown partitioning). */
  def bucketStatsManifest(s: SparkSession, dataDir: String, key: String,
                          nBuckets: Int, statsCol: String,
                          specId: Int = 0,
                          policy: ManifestPrune.StatsPolicy =
                            ManifestPrune.StatsAll): DataFrame = {
    val df = s.read.parquet(dataDir)
    val (longs, strs) = ManifestPrune.cstatFields(df.schema, policy)
    val dataCols = ((longs ++ strs).map(_.name) :+ statsCol).distinct
    val base = df
      .select(col("_metadata.file_path").as("file") +:
        bucketCol(key, nBuckets).as("__b") +: dataCols.map(col): _*)
      .groupBy("file")
      .agg(min(col(statsCol)).as("min_key"),
        (max(col(statsCol)).as("max_key") +:
          count(lit(1)).as("n_rows") +:
          (count(lit(1)) - count(col(statsCol))).as("n_nulls") +:
          min(col("__b")).as("__bmin") +:
          max(col("__b")).as("__bmax") +:
          ManifestPrune.cstatAggs(longs, strs)): _*)
    ManifestPrune.packCstats(base, longs, strs)
      .withColumn("spec_id", lit(specId))
      .withColumn("bucket",
        when(col("__bmin") === col("__bmax"), col("__bmin")))
      .drop("__bmin", "__bmax")
  }

  /** The scan-side plan: per-file bucket ids of `version`, or None
    * when SPJ cannot be offered (no registration, or any live file
    * without a recorded bucket — e.g. appended by a writer that
    * predates the registration). Order is by file for determinism.
    * Plain Scala over the driver-held manifest rows: no Spark job. */
  def bucketedFiles(s: SparkSession, root: String,
                    version: Long): Option[(Int, Seq[(String, Int)])] =
    bucketingOf(root).flatMap { case (_, n) =>
      val m = ManifestPrune.dirRows(s,
        ManifestPrune.manifestOf(root, version))
      if (!m.has("bucket")) None
      else {
        // a 0-row file (the DDL create placeholder) holds nothing and
        // belongs to no bucket — it is soundly dropped from the plan
        val Seq(iF, iN, iB) =
          Seq("file", "n_rows", "bucket").map(m.schema.fieldIndex)
        val rows = m.rows.filter(r => !r.isNullAt(iN) && r.getLong(iN) > 0)
          .sortBy(_.getString(iF))
        if (rows.exists(_.isNullAt(iB))) None
        else Some((n, rows.map(r => (r.getString(iF), r.getInt(iB)))))
      }
    }
}

/** The catalog-resolved `bucket` function (FunctionCatalog): Spark
  * loads it to give the reported `bucket(N, key)` transform
  * semantics. Bound to (int numBuckets, integral key) → int, it
  * reproduces [[SpjBucket.bucketCol]] exactly: xxhash64 at seed 42,
  * non-negative modulo. */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets, key): pmod(xxhash64(key), numBuckets)"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket expects (numBuckets, key), got $inputType")
    val keyType = inputType.fields(1).dataType
    require(keyType == LongType || keyType == IntegerType,
      s"bucket key must be integral, got $keyType")
    new GraftBoundBucket(keyType)
  }
}

private[sources] class GraftBoundBucket(keyType: DataType)
    extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] =
    Array(IntegerType, keyType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.bucket.xxhash64"
  override def isResultNullable: Boolean = false

  override def produceResult(input: org.apache.spark.sql.catalyst
      .InternalRow): Integer = {
    val n = input.getInt(0)
    // Spark's xxhash64(col) = XxHash64(..., seed = 42), and its
    // HashExpression dispatches Int through the 4-byte hashInt path
    // — hashing an Int via hashLong gives a DIFFERENT value than the
    // write side's bucketCol(xxhash64(key)), silently scattering an
    // int-keyed table's rows across mismatched bucket ids on the
    // shuffle-one-side SPJ path. Mirror the dispatch exactly.
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val h = keyType match {
      case LongType => XXH64.hashLong(input.getLong(1), 42L)
      case _ => XXH64.hashInt(input.getInt(1), 42L)
    }
    (((h % n) + n) % n).toInt
  }
}
