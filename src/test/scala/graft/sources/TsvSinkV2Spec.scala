package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

/** The graft-tsv V2 batch connector: round-trip fidelity, the
  * atomic-commit visibility contract, speculative-duplicate exclusion,
  * abort hygiene — the behaviors that make a sink safe under task
  * retries — read pushdown, and the refusal of streaming reads and
  * writes. */
class TsvSinkV2Spec extends SparkSpec {

  private def tmpDir(): String = {
    val f = java.nio.file.Files.createTempDirectory("tsv_v2_").toFile
    f.deleteOnExit(); f.getAbsolutePath
  }

  test("write + read round-trip through the connector") {
    val out = tmpDir()
    val df = graft.Tables.load(spark, sf0001, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    df.write.format("graft-tsv").mode("overwrite").save(out)

    // visibility contract: _SUCCESS with the row count, no staging dir
    val root = new java.io.File(out)
    val names = root.listFiles().map(_.getName).toSet
    assert(names.contains("_SUCCESS"))
    assert(!names.exists(_.startsWith("_staging")))
    val recorded = scala.io.Source.fromFile(s"$out/_SUCCESS").mkString.trim
    assert(recorded === df.count().toString)

    val back = spark.read.format("graft-tsv").load(out)
      .select(col("c0").cast("long").as("n_nationkey"),
        col("c1").as("n_name"), col("c2").cast("long").as("n_regionkey"))
    val a = df.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("overwrite replaces the previous generation atomically") {
    val out = tmpDir()
    spark.range(10).select(col("id"), (col("id") * 2).as("v"))
      .write.format("graft-tsv").mode("overwrite").save(out)
    spark.range(3).select(col("id"), (col("id") * 7).as("v"))
      .write.format("graft-tsv").mode("overwrite").save(out)
    val back = spark.read.format("graft-tsv").load(out)
    assert(back.count() === 3)
    assert(back.select(sum(col("c1").cast("long"))).collect()
      .head.getLong(0) === 0 + 7 + 14)
  }

  test("append accumulates generations without filename collisions") {
    val out = tmpDir()
    spark.range(10).select(col("id"))
      .write.format("graft-tsv").mode("overwrite").save(out)
    spark.range(100, 103).select(col("id"))
      .write.format("graft-tsv").mode("append").save(out)
    val back = spark.read.format("graft-tsv").load(out)
      .collect().map(_.getString(0).toLong).sorted.toSeq
    assert(back === ((0L to 9L) ++ (100L to 102L)))
    // _SUCCESS records the CUMULATIVE visible count after an append
    val recorded = scala.io.Source.fromFile(s"$out/_SUCCESS").mkString.trim
    assert(recorded === "13")
    // both generations' files coexist — job-unique names, no clobber
    val parts = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.startsWith("part-"))
    assert(parts.length >= 2 && parts.distinct.length === parts.length)
  }

  test("the manifest is the visibility authority: orphans stay invisible") {
    val out = tmpDir()
    spark.range(4).select(col("id"))
      .write.format("graft-tsv").mode("overwrite").save(out)
    // a crashed job's promoted-but-never-manifested file
    val orphan = new java.io.FileWriter(s"$out/part-orphan-00000.tsv")
    orphan.write("999\n"); orphan.close()
    assert(spark.read.format("graft-tsv").load(out).count() === 4)
    // the next commit garbage-collects it
    spark.range(2).select(col("id"))
      .write.format("graft-tsv").mode("overwrite").save(out)
    assert(!new java.io.File(s"$out/part-orphan-00000.tsv").exists())
    assert(spark.read.format("graft-tsv").load(out).count() === 2)
  }

  test("timestamp and date cells serialize as logical values, not internals") {
    val out = tmpDir()
    spark.sql("""SELECT TIMESTAMP'2024-03-05 06:07:08.25' AS ts,
                 DATE'2024-03-05' AS d""")
      .write.format("graft-tsv").mode("overwrite").save(out)
    val row = spark.read.format("graft-tsv").load(out).collect().head
    assert(row.getString(0) === "2024-03-05T06:07:08.250Z")
    assert(row.getString(1) === "2024-03-05")
  }

  test("nulls and tab-free strings survive; empty cells read back null-safe") {
    val out = tmpDir()
    val schema = StructType(Seq(StructField("a", StringType, true),
      StructField("b", LongType, true)))
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row("x", 1L),
      org.apache.spark.sql.Row(null, 2L),
      org.apache.spark.sql.Row("z", null))
    spark.createDataFrame(rows, schema)
      .write.format("graft-tsv").mode("overwrite").save(out)
    val back = spark.read.format("graft-tsv").load(out).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // nulls serialize as empty cells (the tab-text convention)
    assert(back === Set(("x", "1"), ("", "2"), ("z", "")))
  }

  test("cells containing tabs, newlines, and backslashes round-trip") {
    val out = tmpDir()
    val schema = StructType(Seq(StructField("a", StringType, true),
      StructField("b", StringType, true)))
    val dirty = Seq(
      ("tab\there", "plain"),
      ("line\nbreak", "cr\rhere"),
      ("back\\slash", "\\t is not a tab"),
      ("\t\n\\", ""))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    dirty.foreach { case (a, b) =>
      rows.add(org.apache.spark.sql.Row(a, b))
    }
    spark.createDataFrame(rows, schema)
      .write.format("graft-tsv").mode("overwrite").save(out)
    // structural invariant: every physical line has exactly one tab
    val fileLines = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines())
    assert(fileLines.forall(_.count(_ == '\t') == 1),
      "escaping failed: delimiter count drifted")
    val back = spark.read.format("graft-tsv").load(out).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(back === dirty.toSet)
  }

  test("only committed task attempts are promoted (speculative loser)") {
    val out = tmpDir()
    val schema = StructType(Seq(StructField("v", LongType, false)))
    val conf = SparkSpec.session.sparkContext.hadoopConfiguration
    val bw = new TsvBatchWrite(out, schema, "q-test", false,
      new SerializableConfiguration(conf))
    val factory = bw.createBatchWriterFactory(null)
    // two attempts of partition 0 race; both stage their bytes
    val attempt1 = factory.createWriter(0, 100L)
    val attempt2 = factory.createWriter(0, 200L)
    attempt1.write(InternalRow(1L))
    attempt2.write(InternalRow(99L))
    val winner = attempt1.commit()
    attempt2.abort() // the driver aborts the loser
    bw.commit(Array[WriterCommitMessage](winner))
    val back = spark.read.format("graft-tsv").load(out).collect()
    assert(back.map(_.getString(0)).toSeq === Seq("1"))
    // staging fully cleaned
    assert(!new java.io.File(out).listFiles()
      .exists(_.getName.startsWith("_staging")))
  }

  test("job abort leaves the previous table generation untouched") {
    val out = tmpDir()
    spark.range(5).select(col("id"))
      .write.format("graft-tsv").mode("overwrite").save(out)
    val schema = StructType(Seq(StructField("v", LongType, false)))
    val conf = SparkSpec.session.sparkContext.hadoopConfiguration
    val bw = new TsvBatchWrite(out, schema, "q-abort", true,
      new SerializableConfiguration(conf))
    val w = bw.createBatchWriterFactory(null).createWriter(0, 1L)
    w.write(InternalRow(42L))
    val msg = w.commit()
    bw.abort(Array[WriterCommitMessage](msg)) // job fails post-staging
    val back = spark.read.format("graft-tsv").load(out)
    assert(back.count() === 5) // old generation intact, no staging
    assert(!new java.io.File(out).listFiles()
      .exists(_.getName.startsWith("_staging")))
  }

  test("equality filters push into the line reader (and stay exact)") {
    val out = tmpDir()
    graft.Tables.load(spark, sf0001, "nation")
      .select(col("n_name"), col("n_regionkey").cast("string").as("rk"))
      .write.format("graft-tsv").mode("overwrite").save(out)
    val q = spark.read.format("graft-tsv").load(out)
      .filter(col("c1") === "2")
    // plan evidence: the scan description carries the pushed filter
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("c1"),
      s"filter not pushed into the TSV scan:\n$plan")
    // result identical to the unpushed evaluation
    val expect = graft.Tables.load(spark, sf0001, "nation")
      .filter(col("n_regionkey") === 2).select("n_name")
      .collect().map(_.getString(0)).toSet
    assert(q.collect().map(_.getString(0)).toSet === expect)
    // residual (non-equality) predicates still evaluate correctly
    // above the scan
    val like = spark.read.format("graft-tsv").load(out)
      .filter(col("c0").startsWith("NATION_1"))
      .collect().map(_.getString(0)).toSet
    val likeExpect = graft.Tables.load(spark, sf0001, "nation")
      .filter(col("n_name").startsWith("NATION_1")).select("n_name")
      .collect().map(_.getString(0)).toSet
    assert(like === likeExpect && like.nonEmpty)
  }

  test("projection prunes columns at the scan; filters compose with it") {
    val out = tmpDir()
    graft.Tables.load(spark, sf0001, "nation")
      .select(col("n_nationkey").cast("string"), col("n_name"),
        col("n_regionkey").cast("string"))
      .write.format("graft-tsv").mode("overwrite").save(out)
    val q = spark.read.format("graft-tsv").load(out).select("c1")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ReadColumns: [c1]"),
      s"projection did not reach the TSV scan:\n$plan")
    assert(q.collect().map(_.getString(0)).toSet ===
      graft.Tables.load(spark, sf0001, "nation")
        .select("n_name").collect().map(_.getString(0)).toSet)
    // pruned projection + pushed filter together: the filter column
    // need not be in the output
    val both = spark.read.format("graft-tsv").load(out)
      .filter(col("c2") === "2").select("c1")
    val bothPlan = both.queryExecution.executedPlan.toString
    assert(bothPlan.contains("ReadColumns: [c1]") ||
      bothPlan.contains("ReadColumns: [c1, c2]"),
      s"pruning lost under a pushed filter:\n$bothPlan")
    assert(both.collect().map(_.getString(0)).toSet ===
      graft.Tables.load(spark, sf0001, "nation")
        .filter(col("n_regionkey") === 2).select("n_name")
        .collect().map(_.getString(0)).toSet)
  }

  test("a held generation lock fails the racing committer instead of " +
    "silently replacing its manifest") {
    val out = tmpDir()
    spark.range(4).select(col("id"))
      .write.format("graft-tsv").mode("overwrite").save(out)
    // a concurrent committer holds the lock for the next generation
    val cur = TsvSinkV2.currentManifest(
      new Path(out).getFileSystem(
        SparkSpec.session.sparkContext.hadoopConfiguration),
      new Path(out)).get._1
    val lock = new java.io.File(out, f"_manifest-${cur + 1}%010d.lock")
    assert(lock.createNewFile())
    val e = intercept[Exception] {
      spark.range(9).select(col("id"))
        .write.format("graft-tsv").mode("append").save(out)
    }
    def chainMessages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ chainMessages(t.getCause)
    assert(chainMessages(e).exists(_.contains("claimed")),
      s"unexpected failure: $e")
    // the held generation stays unpublished; the table is untouched
    assert(spark.read.format("graft-tsv").load(out).count() === 4)
    lock.delete()
    // with the lock gone the append proceeds (burned gen is skipped)
    spark.range(9, 10).select(col("id"))
      .write.format("graft-tsv").mode("append").save(out)
    assert(spark.read.format("graft-tsv").load(out).count() === 5)
  }

  test("first batch contact with a hand-built dir bootstraps a manifest " +
    "before promoting") {
    val out = tmpDir()
    val fw = new java.io.FileWriter(s"$out/part-legacy.tsv")
    fw.write("41\n42\n"); fw.close()
    // a name shaped like part-<n>-<i>.tsv is plain data too
    val fw3 = new java.io.FileWriter(s"$out/part-3-00000.tsv")
    fw3.write("43\n"); fw3.close()
    spark.range(100, 101).select(col("id"))
      .write.format("graft-tsv").mode("append").save(out)
    val vals = spark.read.format("graft-tsv").load(out)
      .collect().map(_.getString(0).toLong).sorted.toSeq
    assert(vals === Seq(41L, 42L, 43L, 100L))
    assert(new java.io.File(s"$out/part-3-00000.tsv").exists())
    // two generations exist... at most one survives cleanup; the
    // CURRENT one must list legacy + new
    val names = new java.io.File(out).listFiles().map(_.getName)
    assert(names.exists(_.startsWith("_manifest-")))
  }

  test("streaming reads and writes are refused before touching the " +
    "target") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = tmpDir()
    // Spark 4.1 falls back to the V1 streaming path for a V2 table
    // without the streaming capabilities, and that path refuses a
    // provider that is neither a stream source nor a sink
    val read = intercept[UnsupportedOperationException] {
      spark.readStream.format("graft-tsv").load(dir)
    }
    assert(read.getMessage.contains("graft-tsv") &&
      read.getMessage.contains("streamed reading"), read.getMessage)
    val in = MemoryStream[Long](spark, 1)
    in.addData(1L, 2L)
    val write = intercept[UnsupportedOperationException] {
      in.toDF().writeStream.format("graft-tsv")
        .option("checkpointLocation", tmpDir()).start(dir)
    }
    assert(write.getMessage.contains("graft-tsv") &&
      write.getMessage.contains("streamed writing"), write.getMessage)
    assert(new java.io.File(dir).listFiles().isEmpty)
  }

  test("nested and binary columns are rejected at write planning") {
    val out = tmpDir()
    val e = intercept[Exception] {
      spark.range(3).select(array(col("id")).as("a"))
        .write.format("graft-tsv").mode("overwrite").save(out)
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("cannot represent")),
      s"unexpected failure: $e")
    // nothing landed
    assert(!new java.io.File(out).listFiles()
      .exists(_.getName.startsWith("part-")))
  }

  test("DataWriter.abort removes the attempt's staged file") {
    val out = tmpDir()
    val schema = StructType(Seq(StructField("v", LongType, false)))
    val conf = SparkSpec.session.sparkContext.hadoopConfiguration
    val shc = new SerializableConfiguration(conf)
    val w = new TsvDataWriter(
      new Path(s"$out/_staging-x/part-0-1.tsv"), schema, shc)
    w.write(InternalRow(7L))
    w.abort()
    val fs = new Path(out).getFileSystem(conf)
    assert(!fs.exists(new Path(s"$out/_staging-x/part-0-1.tsv")))
  }
}
