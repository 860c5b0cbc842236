package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.WriterCommitMessage
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** The graft-tsv V2 write path: round-trip fidelity, the atomic-commit
  * visibility contract, speculative-duplicate exclusion, and abort
  * hygiene — the behaviors that make a sink safe under task retries. */
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

  test("streaming write lands rows exactly-once through the connector") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val out = tmpDir()
    val ckpt = tmpDir()
    val in = MemoryStream[Long](spark, 1)
    in.addData(1L to 20L: _*)
    val q = in.toDF().selectExpr("value AS v", "value * 10 AS w")
      .writeStream.format("graft-tsv")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val back = spark.read.format("graft-tsv").load(out)
    assert(back.count() === 20)
    assert(back.select(sum(col("c1").cast("long"))).collect()
      .head.getLong(0) === (1L to 20L).map(_ * 10).sum)
    // ledger exists, staging cleaned
    val names = new java.io.File(out).listFiles().map(_.getName)
    assert(names.contains("_epochs"))
    assert(!names.exists(_.startsWith("_staging")))
  }

  test("streaming restart resumes from the checkpoint without duplicates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val out = tmpDir()
    val ckpt = tmpDir()
    val in = MemoryStream[Long](spark, 1)
    def runOnce(): Unit = {
      val q = in.toDF().selectExpr("value AS v")
        .writeStream.format("graft-tsv")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    in.addData(1L to 10L: _*)
    runOnce()
    // restart the QUERY (same checkpoint): already-committed batches
    // must not re-land; only the new data may
    in.addData(11L to 15L: _*)
    runOnce()
    val back = spark.read.format("graft-tsv").load(out)
      .collect().map(_.getString(0).toLong).sorted.toSeq
    assert(back === (1L to 15L))
  }

  test("a replayed epoch promotes nothing (ledger idempotence)") {
    val out = tmpDir()
    val schema = StructType(Seq(StructField("v", LongType, false)))
    val conf = SparkSpec.session.sparkContext.hadoopConfiguration
    val sw = new TsvStreamingWrite(out, schema, "q-stream",
      new SerializableConfiguration(conf))
    val factory = sw.createStreamingWriterFactory(null)
    def runEpoch(epoch: Long, v: Long): Unit = {
      val w = factory.createWriter(0, epoch * 100, epoch)
      w.write(InternalRow(v))
      sw.commit(epoch, Array[WriterCommitMessage](w.commit()))
    }
    runEpoch(7, 1L)
    val before = spark.read.format("graft-tsv").load(out)
      .collect().map(_.getString(0)).sorted.toSeq
    // the engine replays epoch 7 after a crash-between-commit-and-
    // checkpoint: same epoch id, fresh attempt, DIFFERENT data must
    // NOT be double-committed
    runEpoch(7, 99L)
    val after = spark.read.format("graft-tsv").load(out)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(after === before)
    assert(before === Seq("1"))
    // a NEW epoch still lands
    runEpoch(8, 2L)
    val finalRows = spark.read.format("graft-tsv").load(out)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(finalRows === Seq("1", "2"))
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

  test("streaming read consumes the sink's epochs exactly once " +
    "across restarts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = tmpDir()
    val wCkpt = tmpDir()
    val rCkpt = tmpDir()
    val in = MemoryStream[Long](spark, 1)
    def writeOnce(): Unit = {
      val w = in.toDF().selectExpr("value AS v")
        .writeStream.format("graft-tsv")
        .option("path", dir).option("checkpointLocation", wCkpt)
        .outputMode("append").start()
      try w.processAllAvailable() finally w.stop()
    }
    val rOut = tmpDir()
    def readOnce(): Unit = {
      val r = spark.readStream.format("graft-tsv").load(dir)
        .writeStream.format("parquet").option("path", rOut)
        .option("checkpointLocation", rCkpt)
        .outputMode("append").start()
      try r.processAllAvailable() finally r.stop()
    }
    in.addData(1L to 5L: _*)
    writeOnce()
    readOnce()
    assert(spark.read.parquet(rOut).collect()
      .map(_.getString(0).toLong).sorted.toSeq === (1L to 5L))
    // new epochs land; a RESTARTED reader picks up only the delta
    in.addData(6L to 9L: _*)
    writeOnce()
    readOnce()
    val all = spark.read.parquet(rOut).collect()
      .map(_.getString(0).toLong).sorted.toSeq
    assert(all === (1L to 9L), s"duplicates or loss: $all")
  }

  test("maxEpochsPerTrigger rate-limits the streaming read (admission " +
    "control)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = tmpDir()
    val wCkpt = tmpDir()
    val in = MemoryStream[Long](spark, 1)
    // three committed epochs before the reader starts
    (1 to 3).foreach { i =>
      in.addData(i.toLong * 10, i.toLong * 10 + 1)
      val w = in.toDF().selectExpr("value AS v")
        .writeStream.format("graft-tsv")
        .option("path", dir).option("checkpointLocation", wCkpt)
        .outputMode("append").start()
      try w.processAllAvailable() finally w.stop()
    }
    val rCkpt = tmpDir()
    val rOut = tmpDir()
    val r = spark.readStream.format("graft-tsv")
      .option("maxEpochsPerTrigger", "1").load(dir)
      .writeStream.format("parquet").option("path", rOut)
      .option("checkpointLocation", rCkpt)
      .outputMode("append").start()
    try r.processAllAvailable() finally r.stop()
    // every row arrived, and the backlog drained in bounded steps —
    // one epoch per micro-batch, so >= 3 offsets were committed
    val all = spark.read.parquet(rOut).collect()
      .map(_.getString(0).toLong).sorted.toSeq
    assert(all === Seq(10L, 11L, 20L, 21L, 30L, 31L))
    val batches = new java.io.File(s"$rCkpt/offsets").listFiles()
      .count(_.getName.forall(_.isDigit))
    assert(batches >= 3, s"backlog consumed in $batches batches — " +
      "the rate limit did not bound the catch-up step")
  }

  test("epoch replay with fewer partitions removes the dead attempt's " +
    "higher-index files") {
    val out = tmpDir()
    val schema = StructType(Seq(StructField("v", LongType, false)))
    val conf = SparkSpec.session.sparkContext.hadoopConfiguration
    val sw = new TsvStreamingWrite(out, schema, "q-shrink",
      new SerializableConfiguration(conf))
    val factory = sw.createStreamingWriterFactory(null)
    def attempt(epoch: Long, vals: Seq[Long]): Array[WriterCommitMessage] =
      vals.zipWithIndex.map { case (v, pid) =>
        val w = factory.createWriter(pid, epoch * 100 + pid, epoch)
        w.write(InternalRow(v)); w.commit()
      }.toArray
    // crashed 4-partition attempt of epoch 3: promote by hand (what a
    // mid-promote crash leaves behind — files visible, no ledger entry)
    attempt(3, Seq(1L, 2L, 3L, 4L)).zipWithIndex.foreach { case (m, i) =>
      val c = m.asInstanceOf[TsvCommit]
      val fs = new Path(out).getFileSystem(conf)
      fs.rename(new Path(c.stagedFile),
        new Path(out, f"part-3-$i%05d.tsv"))
    }
    // the replay runs with TWO partitions; its commit must remove ALL
    // four stale files, not just the two colliding indexes
    sw.commit(3, attempt(3, Seq(10L, 20L)))
    val vals = spark.read.format("graft-tsv").load(out)
      .collect().map(_.getString(0).toLong).sorted.toSeq
    assert(vals === Seq(10L, 20L), s"stale attempt leaked: $vals")
  }

  test("batch append carries ledgered streaming epochs; truncate " +
    "retires them with the ledger") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = tmpDir()
    // batch generation first
    spark.range(3).select(col("id"))
      .write.format("graft-tsv").mode("overwrite").save(dir)
    // then committed streaming epochs land OUTSIDE the manifest chain
    val in = MemoryStream[Long](spark, 1)
    in.addData(100L, 101L)
    val w = in.toDF().selectExpr("value AS v")
      .writeStream.format("graft-tsv")
      .option("path", dir).option("checkpointLocation", tmpDir())
      .outputMode("append").start()
    try w.processAllAvailable() finally w.stop()
    // an append must keep them — they are committed data under the
    // sink's streaming protocol, not stale-generation garbage
    spark.range(200, 202).select(col("id"))
      .write.format("graft-tsv").mode("append").save(dir)
    val vals = spark.read.format("graft-tsv").load(dir)
      .collect().map(_.getString(0).toLong).sorted.toSeq
    assert(vals === Seq(0L, 1L, 2L, 100L, 101L, 200L, 201L))
    // a truncate replaces everything and retires the epoch ledger
    spark.range(5, 7).select(col("id"))
      .write.format("graft-tsv").mode("overwrite").save(dir)
    assert(spark.read.format("graft-tsv").load(dir)
      .collect().map(_.getString(0).toLong).sorted.toSeq === Seq(5L, 6L))
    assert(!new java.io.File(s"$dir/_epochs").exists())
  }

  test("a migration crashed between delete and rename is neither " +
    "misread as empty nor forgotten by the next commit") {
    val out = tmpDir()
    val schema = StructType(Seq(StructField("v", LongType, false)))
    val conf = SparkSpec.session.sparkContext.hadoopConfiguration
    // crash window: the legacy _epochs FILE was deleted, the COMPLETE
    // marker set still sits under the tmp name — the instant a reader
    // used to see exists()==false and silently return Set.empty,
    // letting a concurrent committer garbage-collect ledgered epochs
    new java.io.File(s"$out/_epochs.migrating").mkdirs()
    new java.io.File(s"$out/_epochs.migrating/e-0").createNewFile()
    new java.io.File(s"$out/_epochs.migrating/e-1").createNewFile()
    val fw = new java.io.FileWriter(s"$out/part-1-00000.tsv")
    fw.write("7\n"); fw.close()
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(conf)
    // the reader falls back to the completed tmp set
    assert(TsvSinkV2.committedEpochs(fs,
      new org.apache.hadoop.fs.Path(out)) === Set(0L, 1L))
    // and the epoch-1 file stays visible to the batch read face
    assert(spark.read.format("graft-tsv").load(out)
      .collect().map(_.getString(0)).toSeq === Seq("7"))
    // the next commit ADOPTS the migrated dir instead of mkdirs-ing
    // an empty one over the history
    val sw = new TsvStreamingWrite(out, schema, "q-adopt",
      new SerializableConfiguration(conf))
    val factory = sw.createStreamingWriterFactory(null)
    val w1 = factory.createWriter(0, 100L, 1L)
    w1.write(InternalRow(99L))
    sw.commit(1L, Array[WriterCommitMessage](w1.commit())) // replay: no-op
    assert(new java.io.File(s"$out/_epochs").isDirectory)
    assert(!new java.io.File(s"$out/_epochs.migrating").exists())
    assert(new java.io.File(s"$out/_epochs/e-0").exists())
    assert(new java.io.File(s"$out/_epochs/e-1").exists())
    assert(spark.read.format("graft-tsv").load(out)
      .collect().map(_.getString(0)).toSeq === Seq("7"))
    val w2 = factory.createWriter(0, 200L, 2L)
    w2.write(InternalRow(8L))
    sw.commit(2L, Array[WriterCommitMessage](w2.commit()))
    assert(spark.read.format("graft-tsv").load(out)
      .collect().map(_.getString(0)).sorted.toSeq === Seq("7", "8"))
  }

  test("a legacy single-file epoch ledger is migrated, history intact") {
    val out = tmpDir()
    val schema = StructType(Seq(StructField("v", LongType, false)))
    val conf = SparkSpec.session.sparkContext.hadoopConfiguration
    // the pre-marker-directory layout: _epochs is a FILE of ids
    val legacy = new java.io.FileWriter(s"$out/_epochs")
    legacy.write("0\n1\n"); legacy.close()
    val fw = new java.io.FileWriter(s"$out/part-0-00000.tsv")
    fw.write("7\n"); fw.close()
    val sw = new TsvStreamingWrite(out, schema, "q-migrate",
      new SerializableConfiguration(conf))
    val factory = sw.createStreamingWriterFactory(null)
    // a REPLAY of ledgered epoch 1 must still be recognized (promote
    // nothing), and the commit must not crash over the legacy file
    val w1 = factory.createWriter(0, 100L, 1L)
    w1.write(InternalRow(99L))
    sw.commit(1L, Array[WriterCommitMessage](w1.commit()))
    assert(new java.io.File(s"$out/_epochs").isDirectory)
    assert(new java.io.File(s"$out/_epochs/e-0").exists())
    assert(new java.io.File(s"$out/_epochs/e-1").exists())
    // epoch 1 was already committed: nothing new promoted
    assert(spark.read.format("graft-tsv").load(out)
      .collect().map(_.getString(0)).toSeq === Seq("7"))
    // a genuinely new epoch still lands
    val w2 = factory.createWriter(0, 200L, 2L)
    w2.write(InternalRow(8L))
    sw.commit(2L, Array[WriterCommitMessage](w2.commit()))
    assert(spark.read.format("graft-tsv").load(out)
      .collect().map(_.getString(0)).sorted.toSeq === Seq("7", "8"))
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
    spark.range(100, 101).select(col("id"))
      .write.format("graft-tsv").mode("append").save(out)
    val vals = spark.read.format("graft-tsv").load(out)
      .collect().map(_.getString(0).toLong).sorted.toSeq
    assert(vals === Seq(41L, 42L, 100L))
    // two generations exist... at most one survives cleanup; the
    // CURRENT one must list legacy + new
    val names = new java.io.File(out).listFiles().map(_.getName)
    assert(names.exists(_.startsWith("_manifest-")))
  }

  test("un-ledgered epoch partials never enter a manifest and are GC'd") {
    val out = tmpDir()
    // a crashed streaming attempt's partial promote (no e-3 marker)
    // next to genuine legacy data
    val p1 = new java.io.FileWriter(s"$out/part-3-00000.tsv")
    p1.write("666\n"); p1.close()
    // age the partial past the in-flight grace window, else cleanup
    // rightly spares it as a possibly-mid-commit streaming epoch
    new java.io.File(s"$out/part-3-00000.tsv")
      .setLastModified(System.currentTimeMillis() - 11L * 60 * 1000)
    val p2 = new java.io.FileWriter(s"$out/part-legacy.tsv")
    p2.write("42\n"); p2.close()
    spark.range(7, 8).select(col("id"))
      .write.format("graft-tsv").mode("append").save(out)
    val vals = spark.read.format("graft-tsv").load(out)
      .collect().map(_.getString(0).toLong).sorted.toSeq
    assert(vals === Seq(7L, 42L), s"partial epoch leaked: $vals")
    // the partial file is garbage-collected, not pinned by a manifest
    assert(!new java.io.File(s"$out/part-3-00000.tsv").exists())
  }

  test("a streaming read on an empty target fails fast instead of " +
    "freezing a zero-column schema") {
    val dir = tmpDir()
    val q = spark.readStream.format("graft-tsv").load(dir)
      .writeStream.format("memory").queryName("tsv_empty")
      .outputMode("append").start()
    val e = intercept[Exception] { q.processAllAvailable() }
    q.stop()
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(e).exists(_.contains("empty graft-tsv")),
      s"unexpected failure: $e")
  }

  test("complete output mode replaces each trigger instead of " +
    "accumulating epochs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val out = tmpDir()
    val ckpt = tmpDir()
    val in = MemoryStream[Long](spark, 1)
    def runOnce(): Unit = {
      val q = in.toDF().groupBy((col("value") % 2).as("k"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("graft-tsv")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("complete").start()
      try q.processAllAvailable() finally q.stop()
    }
    in.addData(1L, 2L, 3L)
    runOnce()
    in.addData(4L, 5L)
    runOnce()
    // the dir holds ONLY the latest aggregate state: two groups,
    // counts 0->2 (2,4), 1->3 (1,3,5) — not the first trigger's rows
    // stacked under it
    val back = spark.read.format("graft-tsv").load(out)
      .collect().map(r => (r.getString(0).toLong, r.getString(1).toLong))
      .sortBy(_._1).toSeq
    assert(back === Seq((0L, 2L), (1L, 3L)), s"accumulated: $back")
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
