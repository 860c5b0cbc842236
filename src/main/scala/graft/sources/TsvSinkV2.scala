package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage, SupportsTruncate}
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
  * A directory with no manifest (a hand-built dir) falls back to
  * listing every `part-*` file.
  *
  * The connector is batch-only, as the reference's tab-text stages
  * are: the table declares no streaming capability, so Spark refuses
  * `readStream` / `writeStream` on graft-tsv before touching the
  * target.
  *
  * Known single-writer contract (shared with Spark's own file sink):
  * old-generation files are garbage-collected at commit, so a batch
  * reader that planned against generation N can hit FileNotFound if
  * an overwrite lands mid-scan (atomic visibility, no retained read
  * snapshots — a deferred vacuum would buy retention at the cost of
  * unbounded storage).
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
    * exists (batch commits), else every `part-*` in the directory (a
    * hand-built dir has no manifest). */
  private[sources] def visibleFiles(fs: FileSystem, dir: Path): Seq[Path] =
    currentManifest(fs, dir) match {
      case Some((_, m)) => readManifest(fs, m)._2.map(new Path(dir, _))
      case None => listParts(fs, dir)
    }
}

private[sources] class TsvTable(userSchema: StructType,
                                options: CaseInsensitiveStringMap)
    extends Table with SupportsWrite with SupportsRead {
  override def name(): String = s"graft-tsv:${options.get("path")}"
  override def schema(): StructType = userSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.BATCH_READ)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new TsvWriteBuilder(options.get("path"), info)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new TsvScanBuilder(Option(opts.get("path"))
      .getOrElse(options.get("path")), userSchema)
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
    new Write {
      override def toBatch: BatchWrite =
        new TsvBatchWrite(path, info.schema(), info.queryId(), truncateFirst,
          new SerializableConfiguration(
            SparkSession.active.sparkContext.hadoopConfiguration))
    }
  }
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
    // 0) BOOTSTRAP a manifest-less target (a hand-built dir): publish
    //    a generation with exactly the PRE-existing files BEFORE
    //    anything changes, so readers switch to manifest authority now
    //    — a crash mid-promote below can then never expose this job's
    //    partial output through the listing fallback, and a later
    //    commit can never bake it into a generation. Pre-existing row
    //    count is unknown (best-effort 0) — the FILE LIST is the
    //    authority, the count advisory. An EMPTY target bootstraps too
    //    (an empty generation-0): a first write that dies mid-promote
    //    must not expose its partials through the listing fallback
    //    either.
    if (TsvSinkV2.currentManifest(fs, dir).isEmpty)
      publishManifest(fs, dir, 0L, 0L, preExisting, "manifest-boot.tmp")
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
    //    visible, after it the new one.
    val prev = TsvSinkV2.currentManifest(fs, dir)
    val (visible, total) =
      if (truncateFirst) (newNames, batchRows)
      else prev match {
        case Some((_, m)) =>
          val (prevRows, prevFiles) = TsvSinkV2.readManifest(fs, m)
          (prevFiles ++ newNames, prevRows + batchRows)
        case None => (preExisting ++ newNames, batchRows)
      }
    val gen = prev.map(_._1 + 1).getOrElse(0L)
    publishManifest(fs, dir, gen, total, visible, "manifest.tmp")
    // 3) post-switch housekeeping, all crash-safe to skip (the next
    //    commit collects the same garbage): advisory _SUCCESS marker,
    //    part files outside the new manifest, older manifests and
    //    orphaned locks
    val out = fs.create(new Path(dir, "_SUCCESS"), true)
    out.write(s"$total\n".getBytes("UTF-8"))
    out.close()
    val keep = visible.toSet
    TsvSinkV2.listParts(fs, dir)
      .filterNot(p => keep.contains(p.getName))
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
private[sources] class TsvScanBuilder(path: String, schema: StructType)
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
    new TsvScan(path, required, projection, evals, pushed.mkString(", "))
  }
}

private[sources] case class TsvFilePartition(file: String)
    extends InputPartition

private[sources] class TsvScan(path: String, schema: StructType,
                               projection: Array[Int],
                               filters: Array[(Int, Option[String])],
                               pushedDesc: String)
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
