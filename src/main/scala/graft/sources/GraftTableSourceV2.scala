package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** STREAMING (and batch) READ of a versioned graft table's CHANGE
  * FEED — `spark.readStream.format("graft-table").load(root)`, the
  * consumption API every real CDC pipeline runs on (Delta's
  * `readChangeFeed` / Iceberg's changelog scan as a source):
  *
  *   - OFFSETS ARE VERSION IDS. The chain's commit markers are the
  *     offset log: an offset is "highest version consumed",
  *     a micro-batch (start, end] is exactly the per-version feeds of
  *     the versions committed in that window, and a reader can never
  *     observe a half-published version (its marker doesn't exist
  *     until the manifest rename won). Restart replays nothing: the
  *     watermark lives in the reading query's checkpoint.
  *   - ADMISSION CONTROL caps versions per micro-batch
  *     (`maxVersionsPerTrigger`), so a consumer catching up on a long
  *     chain backlog takes bounded steps.
  *   - Each version step is SPILLED ONCE to `root/_cdc/<key>/v<N>/`
  *     parquet
  *     (computed by [[ManifestPrune.changeFeedStep]] at plan time,
  *     published by atomic rename so concurrent readers share one
  *     spill), and partitions are the spilled files — the per-step
  *     compute cost is O(the commit's touched files) paid once per
  *     version across ALL consumers, and executors read plain parquet.
  *     The spill is a cache, not truth: deleting `_cdc` is always
  *     safe while the step's manifests are unexpired.
  *
  * Read options: `startingVersion` (first version whose changes are
  * emitted; default 1), `maxVersionsPerTrigger`, `key` (the merge key
  * the feed diffs on; default doc_id), `fromVersion`/`toVersion`
  * (batch-read window, default (0, head]).
  *
  * Rows carry the feed convention: `op` ∈ insert | update_preimage |
  * update_postimage | delete, the table's columns, and `version`. */
class GraftTableSourceV2 extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-table"
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftTableSourceV2.feedSchema(SparkSession.active,
      options.get("path"))
  override def getTable(schema: StructType,
                        partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new GraftTableTable(schema, new CaseInsensitiveStringMap(properties))
}

object GraftTableSourceV2 {

  /** op + the table's current columns + version — the
    * [[ManifestPrune.changeFeedStep]] row shape. */
  def feedSchema(s: SparkSession, root: String): StructType = {
    require(root != null, "graft-table needs .load(<table root>)")
    val cur = ManifestPrune.currentVersion(s, root)
    val cols = ManifestPrune
      .readVersion(s, ManifestPrune.manifestOf(root, cur)).schema
    StructType(StructField("op", StringType, nullable = false) +:
      cols.fields :+
      StructField("version", LongType, nullable = false))
  }

  /** Spill one version step's feed to `root/_cdc/<key>/v<v>/`, once:
    * compute to a writer-unique temp dir, publish through the chain's
    * storage seam ([[ChainStorage.publishDir]] — one atomic rename
    * locally; claim + copy + rider on an object store, with losers of
    * a concurrent race deleting their temp and adopting the winner's
    * spill), marked complete with `_FEED_READY` so a reader never
    * lists a half-written spill. Returns the spilled part files.
    * Idempotent across queries and JVMs. The spill path is keyed by
    * BOTH version and the merge `key` read option: the spilled rows
    * depend on the key (changeFeedStep pairs
    * update_preimage/postimage by it), so two readers diffing on
    * different keys must never adopt each other's spills. The spill
    * PROTOCOL runs entirely on the seam (no java.io) — the parquet
    * bytes themselves are written/read by Spark's Hadoop FS layer,
    * the same split as the chain's own data files — so the streaming
    * source runs wherever the chain does. */
  def spillStep(s: SparkSession, root: String, v: Long,
                key: String): Seq[String] = {
    require(key.nonEmpty && key.forall(c => c.isLetterOrDigit || c == '_'),
      s"merge key must be a plain column name, got '$key'")
    val st = ChainStorage.forPath(root)
    val dir = ensureSpill(st, s"$root/_cdc/$key", v) { tmp =>
      ManifestPrune.changeFeedStep(s, root, v, key)
        .coalesce(2).write.mode("overwrite").parquet(tmp)
    }
    partFiles(st, dir)
  }

  /** The spill-publication protocol alone, compute-agnostic (the
    * contract spec drives it on the object-store fake): ensure
    * `keyDir/v<v>` holds a COMPLETE published spill, computing it via
    * `compute(tmpDir)` when absent. Publication gates on BOTH
    * [[ChainStorage.isPublished]] (under copy-based publication a
    * half-copied dir exists without being truth) and the `_FEED_READY`
    * rider (written INSIDE the prepared dir before publish, so any
    * published spill carries it). Returns the spill dir. */
  private[sources] def ensureSpill(st: ChainStorage, keyDir: String,
                                   v: Long)(compute: String => Unit)
      : String = {
    val dir = s"$keyDir/v$v"
    def complete: Boolean =
      st.isPublished(dir) && st.isFile(s"$dir/_FEED_READY")
    if (!complete) {
      val tmp = s"$keyDir/.tmp_v${v}_${ManifestPrune.prepareToken()}"
      compute(tmp)
      // the marker must exist INSIDE the dir before publication makes
      // it visible, so a competing reader that sees a published dir
      // also sees the marker (publishDir is the publication point)
      st.write(s"$tmp/_FEED_READY", "")
      if (!st.publishDir(tmp, dir)) {
        st.deleteTree(tmp)
        // the winner's publish is atomic (or claim+copy+rider with
        // isPublished gating) and carries the marker; a visible dir
        // that never completes is either an in-flight copy (retry) or
        // corrupt leftovers — fail loudly rather than read it
        require(complete,
          s"feed spill $dir exists without a complete _FEED_READY " +
            "publication — another spiller may be mid-copy (retry), " +
            "or remove the directory")
      }
    }
    dir
  }

  private[sources] def partFiles(st: ChainStorage, dir: String)
      : Seq[String] =
    st.list(dir)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .sorted.map(n => s"$dir/$n")
}

private[sources] class GraftTableTable(userSchema: StructType,
                                       options: CaseInsensitiveStringMap)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"graft-table:${options.get("path")}"
  override def schema(): StructType = userSchema
  /** ACCEPT_ANY_SCHEMA is load-bearing: the READ face's schema is the
    * change-feed row shape (op + columns + version) while write-mode
    * batches carry the table's own columns (append/upsert), just the
    * key (delete), or the feed shape (cdc) — each commit mode
    * validates its own contract against the chain. */
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE,
      // BATCH_WRITE is the dispatch flag DataFrameWriter.save checks;
      // V1_BATCH_WRITE tells the planner the Write is a V1Write bridge
      TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = {
        // scan options override table options
        val merged = new java.util.HashMap[String, String](
          options.asCaseSensitiveMap())
        merged.putAll(opts.asCaseSensitiveMap())
        new GraftTableScan(userSchema, merged)
      }
    }

  /** The WRITE face — `df.write.format("graft-table")` (batch) and
    * `df.writeStream.format("graft-table")` (streaming), both on the
    * PUBLIC connector API. Batch rides the V1Write bridge (the
    * driver-side frame is exactly what the chain's commit functions
    * consume); streaming is a real staged [[GraftStreamingWrite]]:
    * executor tasks spill their rows as parquet under
    * `root/_staging/`, and the epoch COMMIT (driver) folds the staged
    * batch onto the chain through the same `tsink:`-cursor applier as
    * ever — exactly-once under replay, now on the durable API instead
    * of the internal V1 Sink. Modes (option `mode`): append | upsert
    * | delete | cdc (streaming only); `key` names the merge key. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    val merged = new java.util.HashMap[String, String](
      options.asCaseSensitiveMap())
    merged.putAll(info.options().asCaseSensitiveMap())
    val opts = new CaseInsensitiveStringMap(merged)
    val root = Option(opts.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-table write needs a path"))
    val mode = Option(opts.get("mode")).getOrElse("append")
    val key = Option(opts.get("key")).getOrElse("doc_id")
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var replace = false
      override def truncate()
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        replace = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new GraftTableWrite(root, mode, key, replace, info.schema())
    }
  }
}

/** One Write serving both faces: batch through the public V1Write
  * bridge, streaming through [[GraftStreamingWrite]]. */
private[sources] class GraftTableWrite(root: String, mode: String,
                                       key: String, replace: Boolean,
                                       querySchema: StructType)
    extends org.apache.spark.sql.connector.write.V1Write {

  override def toInsertableRelation
      : org.apache.spark.sql.sources.InsertableRelation =
    new org.apache.spark.sql.sources.InsertableRelation {
      override def insert(data: org.apache.spark.sql.DataFrame,
                          overwrite: Boolean): Unit = {
        val s = data.sparkSession
        // every mode re-reads the current version on each attempt, so
        // a lost CAS is retried as the catalog's INSERT does
        ManifestPrune.withCommitRetry() { () =>
          if (replace || overwrite)
            ManifestPrune.replaceCommit(s, root, data)
          else GraftTableWrite.commit(s, root, data, mode, key)
        }
      }
    }

  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
    new GraftStreamingWrite(root, mode, key, querySchema,
      new SerializableConfiguration(
        SparkSession.active.sparkContext.hadoopConfiguration))
}

private[graft] object GraftTableWrite {
  /** Commit `rows` to the chain at `root` as one version in write mode
    * `mode` — the dispatch the batch write and the streaming sink
    * ([[graft.streaming.StreamingPipelines.applySinkBatch]]) share:
    * `append` (insert-only, [[ManifestPrune.appendCommit]]), `upsert`
    * (full-row MERGE by `key`, [[ManifestPrune.upsertCommit]]) or
    * `delete` (key rows → pure-metadata equality delete). The
    * streaming-only `cdc` mode never reaches here. Returns the
    * committed version. */
  def commit(s: SparkSession, root: String,
             rows: org.apache.spark.sql.DataFrame,
             mode: String, key: String): Long = mode match {
    case "append" => ManifestPrune.appendCommit(s, root, rows)
    case "upsert" => ManifestPrune.upsertCommit(s, root, rows, key)
    case "delete" => ManifestPrune.eqDeleteCommit(s, root, rows.select(key))
    case other => throw new IllegalArgumentException(
      s"graft-table write mode must be append|upsert|delete, got " +
        s"'$other' (cdc is a streaming mode)")
  }
}

/** The staged streaming write: each task spills its rows to one
  * parquet file under `root/_staging/<write-uuid>/` via the Group
  * writer (no Spark-internal writer classes), the commit message
  * carries the file path, and the epoch COMMIT reads the staged
  * files back as one DataFrame and folds it onto the chain through
  * [[graft.streaming.StreamingPipelines.applySinkBatch]] — the same
  * per-table `tsink:` (and per-version `cdcv:`) cursors as before,
  * so a replayed epoch commits nothing. Aborts (and successful
  * commits) delete their staged files; a crash between stage and
  * commit leaves only unreferenced garbage under `_staging/`. */
private[sources] class GraftStreamingWrite(root: String, mode: String,
                                           key: String,
                                           schema: StructType,
                                           conf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private val stageDir =
    s"$root/_staging/${java.util.UUID.randomUUID().toString.take(12)}"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    GraftStagingWriterFactory(stageDir, schema, conf)

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.collect {
      case StagedFileMessage(path) if path != null => path
    }
    if (files.nonEmpty) {
      val s = SparkSession.active
      val batch = s.read.schema(schema).parquet(files.toIndexedSeq: _*)
      graft.streaming.StreamingPipelines.applySinkBatch(
        batch, epochId, root, mode, key)
    }
    // the whole stage DIR (files included), not just the files —
    // epochs are sequential, so nothing else is staged here, and the
    // next epoch's lazy writers recreate it; leaving empty dirs
    // accumulates garbage on a long-lived table (a crash before this
    // line is expireVersions' _staging age-collection's job)
    ChainStorage.forPath(root).deleteTree(stageDir)
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    ChainStorage.forPath(root).deleteTree(stageDir)
}

private[sources] case class StagedFileMessage(path: String)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

/** Ships only serializable state to the tasks (the enclosing
  * StreamingWrite must not ride the closure). */
private[sources] case class GraftStagingWriterFactory(
    stageDir: String, schema: StructType, conf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new GraftStagingDataWriter(
      s"$stageDir/e${epochId}_p${partitionId}_t${taskId}_" +
        s"${java.util.UUID.randomUUID().toString.take(8)}.parquet",
      schema, conf)
}

/** Executor-side task writer: rows → one staged Group-parquet file
  * (lazily opened, so an empty task stages nothing). */
private[sources] class GraftStagingDataWriter(path: String,
                                              schema: StructType,
                                              conf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  private var writer: org.apache.parquet.hadoop.ParquetWriter[
    org.apache.parquet.example.data.Group] = _
  private lazy val factory =
    new org.apache.parquet.example.data.simple.SimpleGroupFactory(
      GroupParquet.messageType(schema))

  override def write(row: InternalRow): Unit = {
    if (writer == null)
      writer = GroupParquet.openWriter(path, schema, conf.value)
    writer.write(GroupParquet.toGroup(row, schema, factory))
  }

  override def commit()
      : org.apache.spark.sql.connector.write.WriterCommitMessage = {
    if (writer != null) writer.close()
    StagedFileMessage(if (writer == null) null else path)
  }

  override def abort(): Unit = {
    if (writer != null) {
      writer.close()
      org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"), conf.value)
        .delete(new Path(path), false)
    }
  }

  override def close(): Unit = ()
}

private[sources] class GraftTableScan(schema: StructType,
                                      options: java.util.Map[String, String])
    extends Scan with Batch {
  private def opt(k: String): Option[String] = {
    // CaseInsensitiveStringMap lower-cases keys
    val m = new CaseInsensitiveStringMap(options)
    Option(m.get(k))
  }
  private val root = opt("path").getOrElse(
    throw new IllegalArgumentException("graft-table needs a path"))
  private val key = opt("key").getOrElse("doc_id")

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-table $root key=$key"

  /** Batch read: the feed over (fromVersion, toVersion], default the
    * whole chain — the same rows [[ManifestPrune.changeFeed]]
    * computes, through the shared spill. */
  override def planInputPartitions(): Array[InputPartition] = {
    val s = SparkSession.active
    val lo = opt("fromVersion").map(_.toLong).getOrElse(0L)
    val hi = opt("toVersion").map(_.toLong)
      .getOrElse(ManifestPrune.currentVersion(s, root))
    (lo + 1 to hi).flatMap(v =>
        GraftTableSourceV2.spillStep(s, root, v, key))
      .map(f => FeedFilePartition(f): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FeedParquetReaderFactory(
      new SerializableConfiguration(
        SparkSession.active.sparkContext.hadoopConfiguration), schema)

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftTableMicroBatchStream(root, schema, key,
      opt("startingVersion").map(_.toLong).getOrElse(1L),
      opt("maxVersionsPerTrigger").map(_.toInt),
      new SerializableConfiguration(
        SparkSession.active.sparkContext.hadoopConfiguration))
}

private[sources] case class GraftVersionOffset(v: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = v.toString
}

private[sources] case class FeedFilePartition(file: String)
    extends InputPartition

private[sources] class GraftTableMicroBatchStream(
    root: String, schema: StructType, key: String,
    startingVersion: Long, maxVersionsPerTrigger: Option[Int],
    conf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private def head: Long =
    ManifestPrune.currentVersion(SparkSession.active, root)

  // Trigger.AvailableNow pins the chain head at query start: batches
  // keep honoring maxVersionsPerTrigger and the query stops once the
  // pinned head is consumed (without this, Spark falls back to one
  // giant batch and ignores the read limit)
  private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(head)

  override def initialOffset(): Offset =
    GraftVersionOffset(math.max(0L, startingVersion - 1))
  override def latestOffset(): Offset = GraftVersionOffset(head)
  override def reportLatestOffset(): Offset = GraftVersionOffset(head)

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(startOffset: Offset,
                            limit: ReadLimit): Offset = {
    val start = startOffset.asInstanceOf[GraftVersionOffset].v
    val hi = availableNowCap.getOrElse(head)
    val capped = limit match {
      case m: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
        math.min(hi, start + m.maxFiles())
      case _ => hi
    }
    GraftVersionOffset(math.max(start, capped))
  }

  override def deserializeOffset(json: String): Offset =
    GraftVersionOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[GraftVersionOffset].v
    val hi = end.asInstanceOf[GraftVersionOffset].v
    val s = SparkSession.active
    (lo + 1 to hi).flatMap(v =>
        GraftTableSourceV2.spillStep(s, root, v, key))
      .map(f => FeedFilePartition(f): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FeedParquetReaderFactory(conf, schema)
}

/** STREAMING READ of the table's ROWS through the catalog —
  * `spark.readStream.table("graft.db.t")`, Delta's table-stream
  * semantics re-expressed on the chain's metadata:
  *
  *   - the FIRST micro-batch is the snapshot as of the stream's
  *     start (every file of that version, its DV and equality-delete
  *     sidecars masking executor-side — the same
  *     [[ChainFilePartition]] plan as a batch SELECT);
  *   - every later batch is exactly the files ADDED by pure append
  *     commits — O(the commit's new files) planning per version from
  *     the manifest diff, never a table scan;
  *   - a commit that removes a file or grows a mask (CoW merge, DV /
  *     equality delete, compaction, restore — anything that could
  *     change or hide an already-emitted row) FAILS the stream, the
  *     Delta rule, unless `skipChangeCommits` drops the whole commit
  *     (note: an append that folded pending equality deletes carries
  *     a changed mask and is dropped too — fold before streaming);
  *   - metadata-only versions (spec evolution, eq-delete folds) are
  *     always skipped.
  *
  * Options: `startingVersion` (changes-only from that version — no
  * snapshot batch), `maxVersionsPerTrigger`, `skipChangeCommits`.
  * Offsets are version ids on the commit-marker ledger, exactly like
  * the change-feed stream; the CHANGES (CDF) face of the same table
  * is `readStream.table("graft.db.t.changes")`. */
private[sources] class GraftRowMicroBatchStream(
    root: String, required: StructType,
    startingVersion: Option[Long], maxVersionsPerTrigger: Option[Int],
    skipChangeCommits: Boolean, conf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private def head: Long =
    ManifestPrune.currentVersion(SparkSession.active, root)

  private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(head)

  /** Offset = last consumed version; -1 = snapshot mode's "nothing
    * yet" (the next batch delivers the snapshot at its end offset). */
  override def initialOffset(): Offset = GraftVersionOffset(
    startingVersion.map(v => math.max(0L, v - 1)).getOrElse(-1L))
  override def latestOffset(): Offset = GraftVersionOffset(head)
  override def reportLatestOffset(): Offset = GraftVersionOffset(head)

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(startOffset: Offset,
                            limit: ReadLimit): Offset = {
    val start = startOffset.asInstanceOf[GraftVersionOffset].v
    val hi = availableNowCap.getOrElse(head)
    val capped =
      if (start < 0L) hi // the snapshot is ONE batch, uncapped
      else limit match {
        case m: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
          math.min(hi, start + m.maxFiles())
        case _ => hi
      }
    GraftVersionOffset(math.max(start, capped))
  }

  override def deserializeOffset(json: String): Offset =
    GraftVersionOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[GraftVersionOffset].v
    val hi = end.asInstanceOf[GraftVersionOffset].v
    val s = SparkSession.active
    if (lo < 0L) GraftChainScan.snapshotPartitions(s, root, hi)
    else (lo + 1 to hi).flatMap(appendedFiles(s, _))
      .map(f => ChainFilePartition(f, Seq.empty, Seq.empty)
        : InputPartition).toArray
  }

  /** Files version `v` appended, or empty for a skippable commit;
    * throws on a non-append data change unless `skipChangeCommits`.
    * O(manifest) driver metadata per version — the mask check is
    * pointer equality (append carries sidecar pointers VERBATIM, so
    * any pointer change means masking happened). */
  private def appendedFiles(s: SparkSession, v: Long): Seq[String] = {
    val note = ManifestPrune.commitNote(root, v).getOrElse("")
    if (note.startsWith("spec:") || note.startsWith("schema:") ||
        note.split("\\s+").contains("eqdel-fold")) return Seq.empty
    val maskChanged =
      ManifestPrune.dvOf(root, v) != ManifestPrune.dvOf(root, v - 1) ||
        ManifestPrune.eqDelOf(root, v) != ManifestPrune.eqDelOf(root, v - 1)
    val prev = ManifestPrune.dirRows(s,
      ManifestPrune.manifestOf(root, v - 1)).strings("file")
    val cur = ManifestPrune.dirRows(s,
      ManifestPrune.manifestOf(root, v)).strings("file")
    val (prevSet, curSet) = (prev.toSet, cur.toSet)
    val removedAny = !prevSet.subsetOf(curSet)
    if (maskChanged || removedAny || note.startsWith("restore:")) {
      if (skipChangeCommits) Seq.empty
      else throw new IllegalStateException(
        s"version $v of $root is not a pure append (a rewrite, " +
          "delete, or masked update) — a row stream cannot represent " +
          "it. Read the change feed instead (readStream.table(" +
          "\"<catalog>.db.t.changes\") or format(\"graft-table\")), " +
          "or set skipChangeCommits=true to drop such commits")
    } else ManifestPrune.boundedFiles(s,
      cur.iterator.filterNot(prevSet).distinct,
      s"row-stream append v$v of $root")
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // rename fallback map from the chain HEAD: prior-name lists are
    // cumulative and names never recycle, so the head's map is a
    // superset valid for every version this stream serves
    new ChainReaderFactory(conf, required,
      ManifestPrune.priorNameMap(ManifestPrune.manifestOf(root,
        ManifestPrune.currentVersion(
          org.apache.spark.sql.SparkSession.active, root))))
}

/** Executor-side reader of the spilled feed parquet via
  * parquet-hadoop's Group API ([[GroupParquet]] — no Spark-internal
  * reader classes): fields resolve by name, flat primitives only. */
private[sources] class FeedParquetReaderFactory(
    conf: SerializableConfiguration, schema: StructType)
    extends PartitionReaderFactory {
  import org.apache.parquet.example.data.Group

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val reader = GroupParquet.open(
      p.asInstanceOf[FeedFilePartition].file, conf.value)
    new PartitionReader[InternalRow] {
      private var cur: Group = _
      override def next(): Boolean = { cur = reader.read(); cur != null }
      override def get(): InternalRow = GroupParquet.decode(cur, schema)
      override def close(): Unit = reader.close()
    }
  }
}
