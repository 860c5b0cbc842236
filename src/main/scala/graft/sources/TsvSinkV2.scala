package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage, SupportsTruncate}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Tab-separated sink/source as a **DataSource V2 WRITE path** — the
  * missing half of the connector story (graft-xml covers V2 read):
  *
  * {{{
  *   df.write.format("graft-tsv").mode("overwrite").save("/out/t")
  *   spark.read.format("graft-tsv").load("/out/t")   // c0..cn: string
  * }}}
  *
  * The reference's tab-text output (SURVEY W1,
  * `src/mr/CountReference.java:337,352` TextOutputFormat) re-expressed
  * through Spark's connector commit protocol — the part that matters
  * at 1000 executors, where task retries and speculative duplicates
  * are routine:
  *
  *  - each task's [[DataWriter]] streams rows to a STAGED file
  *    (`_staging-<queryId>/part-<partition>-<task>.tsv`) — task
  *    attempts never touch the visible directory;
  *  - `DataWriter.commit()` returns a [[WriterCommitMessage]] naming
  *    the staged file and its row count — a speculative attempt that
  *    loses the race is aborted and its file deleted; only WINNING
  *    messages reach the driver;
  *  - `BatchWrite.commit()` (driver, once, after every task succeeded)
  *    promotes exactly the files named in the messages to
  *    `part-<queryId>-NNNNN.tsv` — names are UNIQUE PER JOB, so an
  *    append never collides with a previous generation's files — then
  *    switches visibility with ONE atomic write: a new
  *    `_manifest-<gen>` (a lock-guarded rename of a fully-written
  *    temp — the generation's `.lock` is exclusive-created first, so
  *    two committers of the same generation cannot silently replace
  *    each other's manifest on POSIX, where a bare file rename
  *    overwrites an existing destination) listing
  *    exactly the visible files and their total row count. Readers
  *    resolve the HIGHEST generation manifest, so a crash anywhere
  *    before the manifest rename leaves the previous generation fully
  *    visible, and a crash anywhere after it leaves the new one —
  *    no reader ever observes a partial write. Stale part files, older
  *    manifests, `_SUCCESS` (kept as an advisory row-count marker; the
  *    manifest is the visibility authority) and staging are cleaned
  *    AFTER the switch;
  *  - `BatchWrite.abort()` deletes the staging dir — a failed query
  *    leaves the target exactly as it was. Every promote-rename is
  *    `require`-checked: a filesystem that reports rename failure by
  *    returning false (HDFS onto an existing destination, a vanished
  *    source) fails the job instead of fabricating a success.
  *
  * Read-back infers an all-string `c0..cn` schema from the first data
  * line (the tab-text convention has no header) and plans one
  * partition per visible file — the files were sized by the writing
  * query's partitioning; in-file line splitting would buy nothing the
  * upstream `spark.sql.files.maxPartitionBytes` didn't already decide.
  * Directories with no manifest (a streaming target, a hand-built
  * dir) fall back to listing `part-*` (minus un-ledgered epoch
  * files).
  *
  * Known single-writer contracts (shared with Spark's own file sink):
  * ONE streaming query per target — the epoch ledger is keyed by
  * epoch id, so two queries with independent epoch counters would
  * mistake each other's ids for replays; and old-generation files are
  * garbage-collected at commit, so a batch reader that planned
  * against generation N can hit FileNotFound if an overwrite lands
  * mid-scan (atomic visibility, no retained read snapshots — a
  * deferred vacuum would buy retention at the cost of unbounded
  * storage).
  */
class TsvSinkV2 extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-tsv"
  // writes hand the DATAFRAME's schema to getTable (a write-only
  // target has nothing to infer from); reads still infer below
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TsvSinkV2.inferFrom(options.get("path"))
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new TsvTable(schema, new CaseInsensitiveStringMap(properties))
}

object TsvSinkV2 {
  /** All-string c0..cn schema from the first line of the first visible
    * file; a single zero-column schema for an empty/missing target
    * (a write-only use never reads it). */
  private[sources] def inferFrom(path: String): StructType = {
    if (path == null) return StructType(Nil)
    val spark = SparkSession.active
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an empty-partition task legitimately commits a zero-byte part
    // file — walk the parts until a data line appears
    val n = visibleFiles(fs, p).iterator.map { f =>
      val in = fs.open(f)
      try new java.io.BufferedReader(
        new java.io.InputStreamReader(in, "UTF-8")).readLine()
      finally in.close()
    }.collectFirst { case line if line != null =>
      line.split("\t", -1).length
    }.getOrElse(0)
    StructType((0 until n).map(i =>
      StructField(s"c$i", StringType, nullable = true)))
  }

  private[sources] def listParts(fs: FileSystem, dir: Path): Seq[Path] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)

  private[sources] val ManifestName = "_manifest-(\\d+)".r
  private[sources] val ManifestLockName = "_manifest-(\\d+)\\.lock".r
  private[sources] val EpochPartName = "part-(\\d+)-\\d+\\.tsv".r

  /** (generation, manifestPath) of the highest-numbered manifest, if
    * any — the batch commit's visibility authority. */
  private[sources] def currentManifest(fs: FileSystem,
                                       dir: Path): Option[(Long, Path)] =
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).toSeq.map(_.getPath).flatMap { p =>
      p.getName match {
        case ManifestName(g) => Some((g.toLong, p))
        case _ => None
      }
    }.sortBy(_._1).lastOption

  /** (total row count, visible file names) recorded by a manifest:
    * first line the count, one file name per following line. */
  private[sources] def readManifest(fs: FileSystem,
                                    m: Path): (Long, Seq[String]) = {
    val in = fs.open(m)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    (lines.head.toLong, lines.tail.filter(_.nonEmpty))
  }

  /** The files a reader must see: the highest manifest's list when one
    * exists (batch commits), else every `part-*` in the directory
    * (streaming targets and hand-built dirs have no manifest) —
    * minus epoch-named files whose epoch the ledger does not record:
    * those are a crashed streaming attempt's half-promoted output,
    * and the batch-read fallback must apply the same ledger filter
    * the streaming read face and the batch carry-forward already do. */
  private[sources] def visibleFiles(fs: FileSystem, dir: Path): Seq[Path] =
    currentManifest(fs, dir) match {
      case Some((_, m)) => readManifest(fs, m)._2.map(new Path(dir, _))
      case None =>
        lazy val ledger = committedEpochs(fs, dir)
        listParts(fs, dir).filter(_.getName match {
          case EpochPartName(e) => ledger.contains(e.toLong)
          case _ => true
        })
    }

  /** Committed epoch ids of a streaming target: the marker-dir layout,
    * with the legacy single-file ledger read transparently (it is
    * migrated in place by the next streaming commit). */
  private[sources] def committedEpochs(fs: FileSystem,
                                       dir: Path): Set[Long] = {
    val ledger = new Path(dir, "_epochs")
    val migrating = new Path(dir, "_epochs.migrating")
    def readMarkers(p: Path): Set[Long] =
      fs.listStatus(p).toSeq.map(_.getPath.getName).collect {
        case n if n.startsWith("e-") => n.drop(2).toLong
      }.toSet
    def once(): Set[Long] =
      if (fs.exists(ledger)) {
        if (fs.getFileStatus(ledger).isFile) {
          val in = fs.open(ledger)
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
            .filter(_.nonEmpty).map(_.toLong).toSet
          finally in.close()
        } else readMarkers(ledger)
      } else if (fs.exists(migrating)) {
        // the legacy-file→marker-dir migration's delete+rename window:
        // `_epochs` is briefly absent while `_epochs.migrating` already
        // holds the COMPLETE marker set (built in full BEFORE the
        // legacy file is deleted). exists()==false here is NOT "no
        // ledger" — returning empty would let a concurrent batch
        // commit treat every ledgered epoch file as un-ledgered, drop
        // it from carryable/visible, and delete committed streaming
        // data in cleanup. Give the rename a moment, then read the
        // completed tmp set directly (correct even if the migrator
        // died mid-swap; the next commit adopts it by rename).
        var i = 0
        while (i < 20 && !fs.exists(ledger) && fs.exists(migrating)) {
          Thread.sleep(25); i += 1
        }
        if (fs.exists(ledger)) once()
        else if (fs.exists(migrating)) readMarkers(migrating)
        else if (fs.exists(ledger)) once()
        else Set.empty
      } else Set.empty
    // a marker file/dir can still vanish between exists() and open()
    // (concurrent migration completing); one retry sees the settled
    // layout
    try once() catch { case _: java.io.FileNotFoundException => once() }
  }
}

private[sources] class TsvTable(userSchema: StructType,
                                options: CaseInsensitiveStringMap)
    extends Table with SupportsWrite with SupportsRead {
  override def name(): String = s"graft-tsv:${options.get("path")}"
  override def schema(): StructType = userSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new TsvWriteBuilder(options.get("path"), info)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new TsvScanBuilder(Option(opts.get("path"))
      .getOrElse(options.get("path")), userSchema,
      Option(opts.get("maxEpochsPerTrigger"))
        .orElse(Option(options.get("maxEpochsPerTrigger")))
        .map(_.toInt))
}

private[sources] class TsvWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }
  override def build(): Write = {
    // tab-text cells are scalar strings; a nested/binary column would
    // silently serialize as a JVM object-identity string — reject it
    // here, where the user sees a clear error before any byte lands
    info.schema().fields.foreach { f =>
      f.dataType match {
        case _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType |
             _: org.apache.spark.sql.types.StructType |
             org.apache.spark.sql.types.BinaryType =>
          throw new UnsupportedOperationException(
            s"graft-tsv cannot represent column '${f.name}' of type " +
              s"${f.dataType.simpleString}: cast or serialize it to a " +
              "scalar (e.g. to_json / base64) before writing")
        case _ => ()
      }
    }
    buildChecked()
  }
  private def buildChecked(): Write = new Write {
    override def toBatch: BatchWrite =
      new TsvBatchWrite(path, info.schema(), info.queryId(), truncateFirst,
        new SerializableConfiguration(
          SparkSession.active.sparkContext.hadoopConfiguration))
    override def toStreaming: StreamingWrite =
      new TsvStreamingWrite(path, info.schema(), info.queryId(),
        new SerializableConfiguration(
          SparkSession.active.sparkContext.hadoopConfiguration),
        truncateEachEpoch = truncateFirst)
  }
}

/** The STREAMING face of the sink — `writeStream.format("graft-tsv")`
  * with the exactly-once contract done at the connector layer instead
  * of inside a foreachBatch body (an overwrite of a per-batch-id
  * directory — the same idea, here behind the standard API): each
  * epoch stages under
  * `_staging-<queryId>/epoch-<id>/`, `commit(epoch, msgs)` promotes
  * the winners to `part-<epoch>-NNNNN.tsv` and then RECORDS the epoch
  * in the `_epochs` ledger — a replayed epoch (failure between commit
  * and checkpoint advance) finds its id in the ledger and discards its
  * staged files instead of promoting duplicates. The ledger is a
  * DIRECTORY of per-epoch marker files (`_epochs/e-<id>`): recording
  * an epoch creates one new empty file and never rewrites prior
  * state, so no crash window can truncate the committed-epoch history
  * (a single rewritten ledger file would forget every prior epoch if
  * the writer died between create and close). */
private[sources] class TsvStreamingWrite(path: String, schema: StructType,
                                         queryId: String,
                                         conf: SerializableConfiguration,
                                         truncateEachEpoch: Boolean = false)
    extends StreamingWrite {
  private def stagingDir(epochId: Long) =
    new Path(path, s"_staging-$queryId/epoch-$epochId")

  /** Remove the epoch's staging subdir, and the per-query staging root
    * once no other epoch is mid-flight under it. */
  private def dropStaging(fs: FileSystem, epochId: Long): Unit = {
    fs.delete(stagingDir(epochId), true)
    val root = new Path(path, s"_staging-$queryId")
    if (fs.exists(root) && fs.listStatus(root).isEmpty)
      fs.delete(root, false)
  }

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new TsvStreamingWriterFactory(path, s"$path/_staging-$queryId",
      schema, conf)

  private def ledgerDir = new Path(path, "_epochs")

  private def committedEpochs(fs: FileSystem): Set[Long] =
    TsvSinkV2.committedEpochs(fs, new Path(path))

  /** A pre-marker-directory target carried `_epochs` as a single
    * rewritten FILE of ids; migrate it to the marker layout (one
    * `e-<id>` file per epoch) so its committed history survives the
    * upgrade instead of being silently forgotten — and so the next
    * commit's mkdirs does not fail over the existing file. */
  private def migrateLegacyLedger(fs: FileSystem): Unit = {
    val tmpExisting = new Path(path, "_epochs.migrating")
    if (!fs.exists(ledgerDir) && fs.exists(tmpExisting)) {
      // a prior migrator died between delete(legacy) and
      // rename(tmp→_epochs): tmp was built COMPLETE before the delete,
      // so adopt it — without this, the mkdirs below would install an
      // EMPTY marker dir and silently forget the committed history
      require(fs.rename(tmpExisting, ledgerDir),
        s"legacy ledger adoption failed: cannot install $ledgerDir")
      return
    }
    if (fs.exists(ledgerDir) && fs.getFileStatus(ledgerDir).isFile) {
      val in = fs.open(ledgerDir)
      val ids =
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().filter(_.nonEmpty).map(_.toLong).toSeq
        finally in.close()
      // build the marker dir COMPLETE under a temp name, then swap:
      // concurrent readers see either the legacy file or the full
      // marker set — never a partially-migrated subset (which a
      // racing batch commit would misread as "epoch uncommitted" and
      // garbage-collect committed files on)
      val tmp = new Path(path, "_epochs.migrating")
      fs.delete(tmp, true)
      fs.mkdirs(tmp)
      ids.foreach(id => fs.create(new Path(tmp, s"e-$id"), true).close())
      require(fs.delete(ledgerDir, false),
        s"legacy ledger migration failed: cannot remove $ledgerDir")
      require(fs.rename(tmp, ledgerDir),
        s"legacy ledger migration failed: cannot install $ledgerDir")
    }
  }

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf.value)
    migrateLegacyLedger(fs)
    if (committedEpochs(fs).contains(epochId)) {
      // epoch replay after a commit-then-crash: the data is already
      // visible — drop this attempt's staged bytes, promote nothing
      dropStaging(fs, epochId)
      return
    }
    // a crash mid-promote replays the epoch before it was recorded:
    // everything already promoted under this epoch id is the dead
    // attempt's output — remove ALL of it first, not just colliding
    // indexes, because the replay may run with FEWER partitions and a
    // same-index-only replace would leave the dead attempt's higher-
    // index files visible as duplicates
    val stalePrefix = s"part-$epochId-"
    TsvSinkV2.listParts(fs, dir)
      .filter(_.getName.startsWith(stalePrefix))
      .foreach(p => require(fs.delete(p, false),
        s"stale replace failed: $p"))
    messages.zipWithIndex.foreach { case (m, i) =>
      val c = m.asInstanceOf[TsvCommit]
      val dst = new Path(dir, f"part-$epochId-$i%05d.tsv")
      require(fs.rename(new Path(c.stagedFile), dst),
        s"promote failed: ${c.stagedFile} -> $dst")
    }
    // ledger record AFTER the renames: only a fully-promoted epoch is
    // recorded; creating the marker touches no prior epoch's state
    fs.mkdirs(ledgerDir)
    fs.create(new Path(ledgerDir, s"e-$epochId"), true).close()
    if (truncateEachEpoch) {
      // Complete output mode: this epoch's state REPLACES the
      // previous one — retire older epochs' files and markers now
      // that the new epoch is promoted and recorded (a crash in
      // between leaves both visible for one replay window; the next
      // commit retires them)
      TsvSinkV2.listParts(fs, dir).foreach { p =>
        p.getName match {
          case TsvSinkV2.EpochPartName(e) if e.toLong != epochId =>
            fs.delete(p, false)
          case _ => ()
        }
      }
      committedEpochs(fs).filter(_ != epochId).foreach(e =>
        fs.delete(new Path(ledgerDir, s"e-$e"), false))
    }
    dropStaging(fs, epochId)
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit = {
    val fs = stagingDir(epochId).getFileSystem(conf.value)
    dropStaging(fs, epochId)
  }
}

private[sources] class TsvStreamingWriterFactory(path: String,
                                                 stagingRoot: String,
                                                 schema: StructType,
                                                 conf: SerializableConfiguration)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new TsvDataWriter(
      new Path(s"$stagingRoot/epoch-$epochId",
        s"part-$partitionId-$taskId.tsv"),
      schema, conf)
}

private[sources] case class TsvCommit(stagedFile: String, rows: Long)
    extends WriterCommitMessage

private[sources] class TsvBatchWrite(path: String, schema: StructType,
                                     queryId: String, truncateFirst: Boolean,
                                     conf: SerializableConfiguration)
    extends BatchWrite {
  private def stagingDir = new Path(path, s"_staging-$queryId")

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new TsvWriterFactory(path, stagingDir.toString, schema, conf)

  /** Locks older than this with no published manifest are a crashed
    * committer's leftovers and may be stolen; younger ones mean a
    * LIVE concurrent committer and must fail this job — losing to a
    * fresh lock is what prevents two same-base appends from silently
    * dropping each other's rows (the lost-update race a bare rename
    * cannot decide on POSIX, where renaming over an existing file
    * silently replaces it). */
  private val StaleLockMs = 10L * 60 * 1000

  /** Publish one manifest generation: exclusive-create the LOCK for
    * the generation number (exactly one committer of a generation can
    * win), then rename the fully-written temp onto the canonical
    * name. The lock is removed after the rename; a crash in between
    * leaves a stale lock the next committer steals after
    * [[StaleLockMs]]. */
  private def publishManifest(fs: FileSystem, dir: Path, gen: Long,
                              total: Long, visible: Seq[String],
                              tmpName: String): Unit = {
    val tmp = new Path(stagingDir, tmpName)
    val mout = fs.create(tmp, true)
    mout.write((total.toString +: visible)
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    mout.close()
    val lock = new Path(dir, f"_manifest-$gen%010d.lock")
    var acquired = fs.createNewFile(lock)
    var spins = 0
    while (!acquired) {
      // a held lock is a live committer unless provably stale; the
      // STEAL is an atomic rename of the stale lock to a name unique
      // to this job (two stealers cannot both win a rename of the
      // same source), after which we claim a fresh lock ourselves
      val age = try {
        Some(System.currentTimeMillis() -
          fs.getFileStatus(lock).getModificationTime)
      } catch {
        // the lock vanished between createNewFile failing and the
        // stat: the holder just FREED it (benign), so loop back and
        // retry the claim — treating this as age=0 would fail the
        // whole job with "claimed by a concurrent committer" when a
        // retry would simply win the now-free lock
        case _: java.io.FileNotFoundException =>
          spins += 1
          require(spins < 100,
            s"generation $gen lock thrashing: freed/re-claimed " +
              s"$spins times without this committer winning")
          None
      }
      age match {
        case None => acquired = fs.createNewFile(lock)
        case Some(a) =>
          require(a > StaleLockMs,
            s"generation $gen already claimed by a concurrent " +
              "committer — re-run this write against the new table state")
          require(fs.rename(lock, new Path(dir,
              s"${lock.getName}.stolen-$queryId")),
            s"stale lock for generation $gen stolen by another committer")
          require(fs.createNewFile(lock),
            s"generation $gen re-claimed while stealing a stale lock")
          acquired = true
      }
    }
    // RE-VALIDATE under the lock: a slower committer that acquired
    // the lock only after the winner published (and freed it) must
    // not rename onto the published manifest — POSIX rename would
    // silently replace it and this job's stale visible set would
    // erase the winner's rows
    val manifest = new Path(dir, f"_manifest-$gen%010d")
    if (fs.exists(manifest)) {
      fs.delete(lock, false)
      throw new IllegalStateException(
        s"generation $gen was published by a concurrent committer " +
          "while this write was preparing — re-run against the new " +
          "table state")
    }
    require(fs.rename(tmp, manifest),
      s"manifest switch failed: $tmp -> $manifest")
    fs.delete(lock, false)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf.value)
    val preExisting = TsvSinkV2.listParts(fs, dir).map(_.getName)
    // epoch-named files carry only while their epoch is in the
    // LEDGER: an epoch-named file without a marker is a crashed
    // streaming attempt's partial promote — baking it into a
    // generation would pin files a later epoch REPLAY legitimately
    // deletes. Anything not epoch-named (legacy hand-built data,
    // manifest-chained batch files) always carries.
    def carryable(names: Seq[String]): Seq[String] = {
      lazy val ledger = TsvSinkV2.committedEpochs(fs, dir)
      names.filter {
        case TsvSinkV2.EpochPartName(e) => ledger.contains(e.toLong)
        case _ => true
      }
    }
    // 0) BOOTSTRAP a manifest-less target (legacy or stream-written
    //    dir): publish a generation with exactly the carryable
    //    PRE-existing files BEFORE anything changes, so readers switch
    //    to manifest authority now — a crash mid-promote below can
    //    then never expose this job's partial output through the
    //    listing fallback, and a later commit can never bake it into
    //    a generation. Pre-existing row count is unknown (best-effort
    //    0) — the FILE LIST is the authority, the count advisory.
    //    An EMPTY target bootstraps too (an empty generation-0): a
    //    first write that dies mid-promote must not expose its
    //    partials through the listing fallback either.
    if (TsvSinkV2.currentManifest(fs, dir).isEmpty)
      publishManifest(fs, dir, 0L, 0L, carryable(preExisting),
        "manifest-boot.tmp")
    // 1) promote the committed task files (losers of speculative
    //    races are not in `messages` and stay in staging until (4)),
    //    under names UNIQUE TO THIS JOB — an append cannot collide
    //    with a previous generation, and the old generation remains
    //    fully intact and visible until the switch in (2). Every
    //    rename is require-checked: HDFS reports failure by returning
    //    false, which must fail the job, not fabricate a success.
    var batchRows = 0L
    val newNames = messages.zipWithIndex.map { case (m, i) =>
      val c = m.asInstanceOf[TsvCommit]
      val dst = new Path(dir, f"part-$queryId-$i%05d.tsv")
      require(fs.rename(new Path(c.stagedFile), dst),
        s"promote failed: ${c.stagedFile} -> $dst")
      batchRows += c.rows
      dst.getName
    }.toSeq
    // 2) visibility switch: one LOCKED atomic manifest publish (see
    //    publishManifest). Readers resolve the highest generation, so
    //    the rename is the only instant at which the visible file set
    //    changes: a crash before it leaves the previous generation
    //    visible, after it the new one. An append also carries
    //    forward files of LEDGER-COMMITTED streaming epochs that
    //    landed since the last batch generation — they are committed
    //    data under the sink's other protocol, not garbage.
    val prev = TsvSinkV2.currentManifest(fs, dir)
    val ledgered = TsvSinkV2.committedEpochs(fs, dir)
    def epochFiles(names: Seq[String]): Seq[String] = names.filter {
      case TsvSinkV2.EpochPartName(e) => ledgered.contains(e.toLong)
      case _ => false
    }
    val (visible, total) =
      if (truncateFirst) (newNames, batchRows)
      else prev match {
        case Some((_, m)) =>
          val (prevRows, prevFiles) = TsvSinkV2.readManifest(fs, m)
          val sinceEpochs =
            epochFiles(preExisting).filterNot(prevFiles.contains)
          (prevFiles ++ sinceEpochs ++ newNames, prevRows + batchRows)
        case None => (carryable(preExisting) ++ newNames, batchRows)
      }
    val gen = prev.map(_._1 + 1).getOrElse(0L)
    publishManifest(fs, dir, gen, total, visible, "manifest.tmp")
    // 3) post-switch housekeeping, all crash-safe to skip (the next
    //    commit collects the same garbage): advisory _SUCCESS marker,
    //    stale part files of older generations, older manifests and
    //    orphaned locks; a TRUNCATE also retires the streaming-epoch
    //    ledger, because its files are gone by contract
    val out = fs.create(new Path(dir, "_SUCCESS"), true)
    out.write(s"$total\n".getBytes("UTF-8"))
    out.close()
    val keep = visible.toSet
    // the ledger is RE-READ here, after the manifest publish: a
    // streaming epoch that committed while this batch ran is neither
    // in the t0 listing nor in `visible`, but its files are committed
    // data — only a TRUNCATE may remove ledgered-epoch files
    val ledgerNow =
      if (truncateFirst) Set.empty[Long]
      else TsvSinkV2.committedEpochs(fs, dir)
    val cutoff = System.currentTimeMillis() - StaleLockMs
    TsvSinkV2.listParts(fs, dir)
      .filterNot(p => keep.contains(p.getName))
      .filterNot(p => p.getName match {
        case TsvSinkV2.EpochPartName(e) =>
          // ledgered epochs are committed data; a YOUNG un-ledgered
          // epoch file may belong to a streaming commit in its
          // promote-then-record window right now — only provably
          // stale partials are garbage (same grace idea as the lock)
          ledgerNow.contains(e.toLong) || (!truncateFirst &&
            fs.getFileStatus(p).getModificationTime > cutoff)
        case _ => false
      })
      .foreach(fs.delete(_, false))
    fs.listStatus(dir).map(_.getPath).foreach { p =>
      p.getName match {
        case TsvSinkV2.ManifestName(g) if g.toLong < gen =>
          fs.delete(p, false)
        case TsvSinkV2.ManifestLockName(g) if g.toLong < gen =>
          fs.delete(p, false)
        case n if n.contains(".lock.stolen-") =>
          fs.delete(p, false) // steal tombstones are garbage once renamed
        case _ => ()
      }
    }
    if (truncateFirst)
      fs.delete(new Path(dir, "_epochs"), true)
    // 4) drop staging (and any orphaned loser files inside it)
    fs.delete(stagingDir, true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = stagingDir.getFileSystem(conf.value)
    fs.delete(stagingDir, true) // target untouched
  }
}

private[sources] class TsvWriterFactory(path: String, stagingDir: String,
                                        schema: StructType,
                                        conf: SerializableConfiguration)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new TsvDataWriter(
      new Path(stagingDir, s"part-$partitionId-$taskId.tsv"),
      schema, conf)
}

private[sources] class TsvDataWriter(file: Path, schema: StructType,
                                     conf: SerializableConfiguration)
    extends DataWriter[InternalRow] {
  private val fs = file.getFileSystem(conf.value)
  private val out = new java.io.BufferedWriter(
    new java.io.OutputStreamWriter(fs.create(file, true), "UTF-8"))
  private var rows = 0L

  private def cell(row: InternalRow, i: Int, dt: DataType): String =
    if (row.isNullAt(i)) ""
    else dt match {
      case StringType =>
        TsvEscape.escape(row.getUTF8String(i).toString)
      case LongType => row.getLong(i).toString
      case IntegerType => row.getInt(i).toString
      case DoubleType => row.getDouble(i).toString
      case BooleanType => row.getBoolean(i).toString
      // temporal internals are raw Long micros / Int days — a bare
      // toString would emit meaningless integers; format the logical
      // value (UTC instant / ISO date) like the csv sink does
      case org.apache.spark.sql.types.TimestampType =>
        java.time.Instant.EPOCH.plus(row.getLong(i),
          java.time.temporal.ChronoUnit.MICROS).toString
      case org.apache.spark.sql.types.DateType =>
        java.time.LocalDate.ofEpochDay(row.getInt(i).toLong).toString
      case other => row.get(i, other).toString
    }

  override def write(row: InternalRow): Unit = {
    val sb = new StringBuilder
    var i = 0
    while (i < schema.length) {
      if (i > 0) sb.append('\t')
      sb.append(cell(row, i, schema(i).dataType))
      i += 1
    }
    sb.append('\n')
    out.write(sb.toString)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    TsvCommit(file.toString, rows)
  }

  override def abort(): Unit = {
    out.close()
    fs.delete(file, false) // this attempt's bytes vanish
  }

  override def close(): Unit = ()
}

/** Cell-level escaping. NOTE the tab-text convention cannot
  * distinguish NULL from the empty string: nulls serialize as empty
  * cells and read back as "" (the reference's TextOutputFormat has
  * the same property) — round-trip fidelity for null-bearing columns
  * needs a richer format (parquet) or an out-of-band null marker.
  *
  * A string cell carrying a literal tab or
  * newline would otherwise shift every later column / split the row
  * (the classic TSV corruption): `\` → `\\`, TAB → `\t`, LF → `\n`,
  * CR → `\r` on write, inverted on read. Delimiter bytes in the FILE
  * are therefore always structural, so the reader's split stays a
  * plain `split('\t')` — no quoting state machine. */
private[sources] object TsvEscape {
  def escape(s: String): String =
    if (s.indexOf('\\') < 0 && s.indexOf('\t') < 0 &&
        s.indexOf('\n') < 0 && s.indexOf('\r') < 0) s
    else {
      val sb = new StringBuilder(s.length + 4)
      var i = 0
      while (i < s.length) {
        s.charAt(i) match {
          case '\\' => sb.append("\\\\")
          case '\t' => sb.append("\\t")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case c => sb.append(c)
        }
        i += 1
      }
      sb.toString
    }

  def unescape(s: String): String =
    if (s.indexOf('\\') < 0) s
    else {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case '\\' => sb.append('\\'); i += 1
            case 't' => sb.append('\t'); i += 1
            case 'n' => sb.append('\n'); i += 1
            case 'r' => sb.append('\r'); i += 1
            case _ => sb.append(c)
          }
        } else sb.append(c)
        i += 1
      }
      sb.toString
    }
}

// ---------------------------------------------------------------- read

/** Read-side planning with EQUALITY filter pushdown
  * (SupportsPushDownFilters) and COLUMN PRUNING
  * (SupportsPushDownRequiredColumns): `c3 = 'click'`-class predicates
  * are evaluated inside the line reader BEFORE a row materializes —
  * non-matching lines cost one string compare instead of a full
  * InternalRow + downstream filter eval — and a projection reaching
  * the scan materializes ONLY the requested cells (the line is split
  * once either way; pruning saves the per-cell unescape + UTF8String
  * allocation for dropped columns, the dominant per-row cost on wide
  * tables). Only exactly-enforceable predicates are accepted
  * (EqualTo / IsNotNull on the string columns); everything else is
  * returned as residual for Spark to re-evaluate above the scan. The
  * accepted set and the pruned schema are echoed in the scan
  * description so a plan test can assert both pushdowns happened. */
private[sources] class TsvScanBuilder(path: String, schema: StructType,
                                      maxEpochsPerTrigger: Option[Int] = None)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
  import org.apache.spark.sql.sources.{EqualTo, Filter, IsNotNull}

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = schema

  private def colIndex(attr: String): Option[Int] =
    schema.fieldNames.indexOf(attr) match {
      case -1 => None
      case i => Some(i)
    }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accept, residual) = filters.partition {
      case EqualTo(attr, v: String) => colIndex(attr).isDefined && v != null
      case IsNotNull(attr) => colIndex(attr).isDefined
      case _ => false
    }
    pushed = accept
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // keep the full-schema field order (projection indexes stay
    // monotone); Spark's required set is always a subset of `schema`
    required = StructType(schema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  override def build(): Scan = {
    val evals: Array[(Int, Option[String])] = pushed.map {
      case EqualTo(attr, v: String) => (colIndex(attr).get, Some(v))
      case IsNotNull(attr) => (colIndex(attr).get, None)
      case f => throw new IllegalStateException(s"unpushable $f")
    }
    // filter indexes address the full line split; projection indexes
    // name the cells that materialize
    val projection = required.fieldNames.map(n => colIndex(n).get)
    new TsvScan(path, required, projection, evals, pushed.mkString(", "),
      maxEpochsPerTrigger, tableHasColumns = schema.fields.nonEmpty)
  }
}

/** STREAMING READ of a graft-tsv directory — the source face that
  * closes the connector loop: the sink's exactly-once epoch ledger
  * (`_epochs/e-<id>` markers, recorded only after an epoch's files
  * are fully promoted) doubles as the SOURCE's offset log. An offset
  * is simply "highest committed epoch consumed"; a micro-batch
  * (start, end] plans exactly the part files of the epochs committed
  * in that window (`part-<epoch>-NNNNN.tsv` — the sink's naming), so
  * the source sees every epoch atomically, exactly once, and never
  * observes a half-promoted epoch (its marker does not exist yet).
  * Restart replays nothing: the consumed watermark lives in the
  * reading query's checkpoint. Batch-written files (no epoch ledger)
  * are not visible to this face — stream-in/stream-out dirs are the
  * contract, the same one the sink's scaladoc states. */
private[sources] case class TsvEpochOffset(epoch: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = epoch.toString
}

private[sources] class TsvMicroBatchStream(path: String,
                                           projection: Array[Int],
                                           filters: Array[(Int, Option[String])],
                                           maxEpochsPerTrigger: Option[Int],
                                           conf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private def fs = new Path(path).getFileSystem(conf.value)

  private def committedEpochs(): Seq[Long] =
    TsvSinkV2.committedEpochs(fs, new Path(path)).toSeq.sorted

  override def initialOffset(): Offset = TsvEpochOffset(-1L)
  override def latestOffset(): Offset =
    TsvEpochOffset(committedEpochs().lastOption.getOrElse(-1L))

  // ---- admission control (backpressure): cap how many committed
  // epochs one micro-batch may consume, so a reader catching up on a
  // long backlog processes it in bounded steps instead of one giant
  // batch (`maxEpochsPerTrigger` read option; default unbounded)
  override def getDefaultReadLimit: ReadLimit =
    maxEpochsPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val start = startOffset.asInstanceOf[TsvEpochOffset].epoch
    val pending = committedEpochs().filter(_ > start)
    val capped = limit match {
      case m: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        pending.take(m.maxFiles())
      case _ => pending
    }
    TsvEpochOffset(capped.lastOption.getOrElse(start))
  }
  override def deserializeOffset(json: String): Offset =
    TsvEpochOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[TsvEpochOffset].epoch
    val hi = end.asInstanceOf[TsvEpochOffset].epoch
    val inWindow = committedEpochs().filter(e => e > lo && e <= hi).toSet
    TsvSinkV2.listParts(fs, new Path(path)).filter { f =>
      f.getName match {
        case TsvSinkV2.EpochPartName(e) => inWindow.contains(e.toLong)
        case _ => false
      }
    }.map(f => TsvFilePartition(f.toString): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TsvReaderFactory(conf, projection, filters)
}

private[sources] case class TsvFilePartition(file: String)
    extends InputPartition

private[sources] class TsvScan(path: String, schema: StructType,
                               projection: Array[Int],
                               filters: Array[(Int, Option[String])],
                               pushedDesc: String,
                               maxEpochsPerTrigger: Option[Int] = None,
                               tableHasColumns: Boolean = true)
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-tsv $path PushedFilters: [$pushedDesc] " +
      s"ReadColumns: [${schema.fieldNames.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(path)
    val fs = p.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    TsvSinkV2.visibleFiles(fs, p)
      .map(f => TsvFilePartition(f.toString): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TsvReaderFactory(
      new SerializableConfiguration(
        SparkSession.active.sparkContext.hadoopConfiguration),
      projection, filters)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // a stream started on an empty/not-yet-written dir would freeze a
    // ZERO-COLUMN inferred schema for the query's lifetime and emit
    // field-less rows for every later epoch — fail loudly instead
    require(tableHasColumns,
      "cannot start a streaming read on an empty graft-tsv target: " +
        "no schema to infer — write the first epoch before starting " +
        "the reader, or supply an explicit .schema(...)")
    new TsvMicroBatchStream(path, projection, filters,
      maxEpochsPerTrigger,
      new SerializableConfiguration(
        SparkSession.active.sparkContext.hadoopConfiguration))
  }
}

private[sources] class TsvReaderFactory(conf: SerializableConfiguration,
                                        projection: Array[Int],
                                        filters: Array[(Int, Option[String])])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val file = new Path(p.asInstanceOf[TsvFilePartition].file)
    val fs = file.getFileSystem(conf.value)
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(file), "UTF-8"))
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      private val proj = projection.toIndexedSeq

      private def passes(parts: Array[String]): Boolean = {
        var k = 0
        while (k < filters.length) {
          val (i, want) = filters(k)
          val cell =
            if (i < parts.length) TsvEscape.unescape(parts(i)) else null
          want match {
            case Some(v) => if (cell != v) return false
            case None => if (cell == null) return false
          }
          k += 1
        }
        true
      }

      override def next(): Boolean = {
        var line = reader.readLine()
        while (line != null) {
          val parts = line.split("\t", -1)
          if (passes(parts)) {
            // only projected cells unescape + allocate
            cur = InternalRow.fromSeq(proj.map(i =>
              if (i < parts.length)
                UTF8String.fromString(TsvEscape.unescape(parts(i)))
              else null))
            return true
          }
          line = reader.readLine()
        }
        false
      }
      override def get(): InternalRow = cur
      override def close(): Unit = reader.close()
    }
  }
}
