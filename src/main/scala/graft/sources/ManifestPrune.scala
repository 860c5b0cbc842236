package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-manifest scan pruning — the Iceberg/Delta data-skipping
  * pattern as a first-class operator: a write-once CLUSTERED layout
  * (range-partitioned by the skip key, so each file covers a tight
  * key range), a MANIFEST table of per-file min/max stats built once
  * from the layout, and a planner that answers a range predicate by
  * reading ONLY the files whose [min, max] interval overlaps it.
  *
  * This is the file-level complement of what the engine already
  * proves at other granularities (parquet row-group min/max inside a
  * file, hive-partition pruning in the IVF index, Z-order for
  * two-sided ranges): at 100 TB the planner's manifest scan is KBs
  * (one row per file), the file list is driver-held exactly like an
  * Iceberg planner's, and a selective range touches O(matching
  * files), not the table. Results are EXACT — the exact predicate is
  * re-applied after the pruned read, so a file that overlaps but
  * contains no matching row costs I/O, never correctness.
  */
object ManifestPrune {

  /** DRIVER-HELD FILE-LIST BOUND. Planning runs on the driver over
    * the manifest rows held there ([[dirRows]]) and ends in a
    * path-list read (`spark.read.parquet(files: _*)`), so the file
    * list a plan returns must fit on the driver — the same design
    * point as an Iceberg planner, which is comfortable to ~10⁶
    * manifest entries (a 100 TB table at a healthy 128 MB/file is
    * ~8·10⁵ files). The bound is enforced on every list a plan
    * returns, not assumed: a list that exceeds it fails fast at
    * cap + 1 entries with a pointer to [[compactLayout]] instead of
    * building an unbounded plan — at that point the table needs
    * compaction (or an Iceberg-style manifest TREE, which shards the
    * list and prunes at the manifest-file grain before any leaf list
    * materializes). A selective plan over a larger manifest still
    * succeeds: the bound applies to what is planned. Overridable per
    * session via `graft.manifest.maxDriverFiles` (the spec's
    * adversarial-count lever). */
  private def maxDriverFiles(s: SparkSession): Long =
    s.conf.getOption("graft.manifest.maxDriverFiles")
      .map(_.toLong).getOrElse(1000000L)
      // clamp so cap+1 can neither overflow (limit(0) would silently
      // return EMPTY plans) nor exceed the Int limit() takes (which
      // would disable the fail-fast guard entirely)
      .max(1L).min(Int.MaxValue - 1L)

  /** Take a driver-held file list (or its manifest rows) under the
    * bound: at most cap + 1 entries are ever materialized, and cap + 1
    * fails. */
  private[sources] def boundedFiles[T](s: SparkSession,
                                       files: Iterator[T],
                                       what: String): Seq[T] = {
    val cap = maxDriverFiles(s)
    val got = files.take((cap + 1).toInt).toVector
    if (got.length > cap)
      throw new IllegalStateException(
        s"$what exceeds graft.manifest.maxDriverFiles=$cap files — " +
          "compact the layout (ManifestPrune.compactLayout) or raise " +
          "the bound")
    got
  }

  /** Collect a one-string-column frame of file paths under the bound;
    * the collect itself is capped at bound+1 rows, so an oversized
    * plan costs one truncated scan, never an unbounded collect. Over
    * a [[localFrame]] the collect runs no Spark job. */
  private[sources] def collectFileList(s: SparkSession,
                              files: org.apache.spark.sql.DataFrame,
                              what: String): Seq[String] =
    boundedFiles(s, files.limit((maxDriverFiles(s) + 1).toInt)
      .collect().iterator.map(_.getString(0)), what)

  // ------------------------------------------- snapshot metadata cache
  /** Planner-side SNAPSHOT METADATA CACHE (Iceberg's manifest-cache
    * stance): every protocol-owned parquet dir — `manifest*`, `dv_*`
    * and equality-delete sidecars — is immutable once written, so its
    * planning facts are read ON THE DRIVER, once, and held here:
    *   - its schema, from one part file's footer ([[footerSchema]] —
    *     what Spark's inference task reads, without the job);
    *   - its row count, from the footers' row-group counts;
    *   - its rows, decoded through parquet-hadoop ([[dirRows]]).
    * Planning a table read — file lists, range and column-stats
    * pruning, live counts, history, change-feed file sets, the vacuum
    * keep-set — is then Scala over the rows, or Catalyst over a
    * [[localFrame]], and runs no Spark job. Data files are still read
    * and written by Spark; query RESULTS are never cached.
    *
    * The cache is SELF-VALIDATING, never trust-based: every hit
    * re-lists the directory (one metadata RPC, no job) and compares
    * the child-name set the entry was computed under. The protocol
    * never rewrites a published file in place — every parquet
    * (over)write mints fresh part-file names — so an unchanged listing
    * proves unchanged bytes, and a recompacted/overwritten dir
    * invalidates itself without any write-site coupling. The held
    * state is bounded by the retained snapshots: [[expireVersions]]
    * drops the entries of every dir it deletes. */
  private case class DirFacts(listing: Seq[String],
      vals: scala.collection.concurrent.TrieMap[String, Any])
  private val dirFacts =
    new java.util.concurrent.ConcurrentHashMap[String, DirFacts]()

  private[sources] def dirFact[T](dir: String, key: String)
                                 (compute: => T): T = {
    val listing = ChainStorage.forPath(dir).list(dir).sorted
    // one atomic swap: callers that see the same listing share one
    // entry instead of replacing each other's facts
    val entry = dirFacts.compute(dir, (_, cur) =>
      if (cur != null && cur.listing == listing) cur
      else DirFacts(listing,
        scala.collection.concurrent.TrieMap.empty[String, Any]))
    entry.vals.getOrElseUpdate(key, compute).asInstanceOf[T]
  }

  /** Dirs with cached facts (for specs of the cache's bound). */
  private[sources] def cachedDirs: Set[String] = {
    import scala.jdk.CollectionConverters._
    dirFacts.keySet.asScala.toSet
  }

  /** Forget the cached facts of every dir under `root` that no longer
    * exists — what keeps the cache bounded once vacuum deletes. */
  private def forgetDeletedUnder(root: String): Unit = {
    val st = ChainStorage.forPath(root)
    dirFacts.keySet.removeIf(d => d.startsWith(s"$root/") && !st.isDir(d))
  }

  /** A dir's parquet part files, sorted — Spark's rule: names
    * starting with `_` or `.` are metadata, not data. `None` when the
    * dir holds sub-directories (a hive-partitioned layout, whose
    * schema includes the partition columns Spark infers). */
  private def partFiles(s: SparkSession, dir: String): Option[Seq[String]] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val kids = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .listStatus(p).toSeq
      .filterNot(k => k.getPath.getName.startsWith("_") ||
        k.getPath.getName.startsWith("."))
    if (kids.exists(_.isDirectory)) None
    else Some(kids.map(_.getPath.toString).sorted)
  }

  /** The Spark schema of one parquet file, from its footer alone. */
  private[sources] def fileSchema(s: SparkSession, file: String)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet._
    val conf = s.sparkContext.hadoopConfiguration
    @annotation.nowarn("cat=deprecation")
    val footer = new org.apache.parquet.hadoop.Footer(
      new org.apache.hadoop.fs.Path(file), GroupParquet.footer(file, conf))
    nullable(ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(s.sessionState.conf)))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
  }

  /** Spark reads every file-source column as nullable. */
  private def nullable(t: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    t match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = nullable(f.dataType), nullable = true)))
      case m: MapType => m.copy(valueType = nullable(m.valueType),
        valueContainsNull = true)
      case a: ArrayType => a.copy(elementType = nullable(a.elementType),
        containsNull = true)
      case other => other
    }
  }

  /** A protocol-owned dir's schema, read from its first part file's
    * footer on the driver (no inference job) and held as a snapshot
    * fact. A partitioned dir falls back to Spark's inference. */
  private[sources] def footerSchema(s: SparkSession, dir: String)
      : org.apache.spark.sql.types.StructType =
    dirFact(dir, "schema") {
      partFiles(s, dir).flatMap(_.headOption) match {
        case Some(first) => fileSchema(s, first)
        case None => s.read.parquet(dir).schema
      }
    }

  /** Read a (small, protocol-owned) parquet dir with its schema served
    * from the snapshot cache: planning the read runs no job. The DATA
    * read itself stays in the query plan — only the schema is a
    * snapshot fact. */
  private[sources] def immutableParquet(s: SparkSession,
                                        dir: String): DataFrame =
    s.read.schema(footerSchema(s, dir)).parquet(dir)

  /** A protocol-owned dir's rows, held on the driver: schema plus rows
    * in part-file order. */
  private[sources] case class DirRows(
      schema: org.apache.spark.sql.types.StructType,
      rows: IndexedSeq[org.apache.spark.sql.Row]) {
    def has(c: String): Boolean = schema.fieldNames.contains(c)
    def strings(c: String): IndexedSeq[String] = {
      val i = schema.fieldIndex(c)
      rows.map(_.getString(i))
    }
    def longs(c: String): IndexedSeq[Long] = {
      val i = schema.fieldIndex(c)
      rows.map(r => if (r.isNullAt(i)) 0L else r.getLong(i))
    }
  }

  /** Columns [[dirRows]] leaves on disk: the per-file NDV sketches are
    * KBs per row and only the NDV estimate reads them, through
    * [[sketchRows]]. */
  private val DiskOnlyCols = Set("cstats_hll")

  /** `sch`'s columns of a protocol-owned dir's rows, in part-file
    * order, decoded on the driver through parquet-hadoop. */
  private def readDir(s: SparkSession, dir: String,
                      sch: org.apache.spark.sql.types.StructType)
      : IndexedSeq[org.apache.spark.sql.Row] = {
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(sch)
    GroupParquet.readRows(partFiles(s, dir).getOrElse(
        throw new IllegalStateException(s"$dir is partitioned")),
      sch, s.sparkContext.hadoopConfiguration)
      .map(r => toRow(r).asInstanceOf[org.apache.spark.sql.Row])
  }

  /** The rows of a protocol-owned parquet dir (every column but
    * [[DiskOnlyCols]]), held as a snapshot fact — a manifest costs one
    * footer and a few column chunks per part file, no Spark job. */
  private[sources] def dirRows(s: SparkSession, dir: String): DirRows =
    dirFact(dir, "rows") {
      val sch = org.apache.spark.sql.types.StructType(
        footerSchema(s, dir).fields.filterNot(f => DiskOnlyCols(f.name)))
      DirRows(sch, readDir(s, dir, sch))
    }

  /** A manifest's per-file NDV sketches (`cstats_hll`: column name ->
    * sketch bytes, null where a row has none), aligned with
    * [[dirRows]]' rows and held under their own fact key, so only the
    * NDV estimate pays for them. Empty when the manifest predates the
    * column. */
  private[sources] def sketchRows(s: SparkSession, dir: String)
      : IndexedSeq[scala.collection.Map[String, Array[Byte]]] =
    dirFact(dir, "hll") {
      val sch = org.apache.spark.sql.types.StructType(
        footerSchema(s, dir).fields.filter(f => DiskOnlyCols(f.name)))
      if (sch.isEmpty) IndexedSeq.empty
      else readDir(s, dir, sch).map(
        _.getAs[scala.collection.Map[String, Array[Byte]]](0))
    }

  /** [[dirRows]] as a DataFrame over a LocalRelation: filter, project
    * and limit over it collect on the driver with no Spark job, so a
    * planner keeps its Catalyst expressions without paying a scan. */
  private[sources] def localFrame(s: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val m = dirRows(s, dir)
    s.createDataFrame(m.rows.asJava, m.schema)
  }

  /** Row count of a protocol-owned dir from its footers' row-group
    * counts — a DV sidecar's cardinality, a manifest's file count. */
  private def footerCount(s: SparkSession, dir: String): Long =
    dirFact(dir, "count") {
      partFiles(s, dir).getOrElse(Seq.empty).map(f =>
        GroupParquet.footer(f, s.sparkContext.hadoopConfiguration)
          .getBlocks.stream().mapToLong(_.getRowCount).sum()).sum
    }

  /** Cardinality of a published DV sidecar — a snapshot fact (the
    * number Iceberg keeps as a manifest's position-delete count). */
  private[sources] def dvHiddenCount(s: SparkSession,
                                     dv: String): Long =
    footerCount(s, dv)

  /** Per-file hidden-row counts of a DV sidecar, from its driver-held
    * rows (the `n_rows - hidden` live-count arithmetic of the LIMIT
    * and TOP-N planners); empty without one. */
  private[sources] def dvHiddenByFile(s: SparkSession,
                                      dv: Option[String]): Map[String, Long] =
    dv.fold(Map.empty[String, Long])(d =>
      dirRows(s, d).strings("file").groupMapReduce(identity)(_ => 1L)(_ + _))

  /** The file list a manifest names, under the driver bound. */
  private[sources] def versionFiles(s: SparkSession, manifestDir: String,
                                    what: String): Seq[String] =
    boundedFiles(s, dirRows(s, manifestDir).strings("file").iterator, what)

  /** Sum of a manifest's per-file physical row counts. */
  private def physicalRows(s: SparkSession, manifestDir: String): Long =
    dirRows(s, manifestDir).longs("n_rows").sum

  /** Write the clustered documents layout + its manifest once per
    * (session, sf dir); returns the layout root. `data/` holds the
    * range-partitioned files, `manifest/` one row per file:
    * (file, min_key, max_key, n_rows). */
  def ensureLayout(s: SparkSession, d: String): String =
    graft.Tables.once("ManifestPrune.layoutCache", s, d) {
      buildLayout(graft.Tables.load(s, d, "documents"),
        graft.Tables.matDir("manifest_docs", s, d), nFiles = 8)
    }

  /** Plan a range scan: the manifest names the files whose stats
    * interval overlaps [lo, hi]. Driver-held list, one row per file —
    * the same bounded state an Iceberg planner keeps. */
  def planFiles(s: SparkSession, root: String, lo: Long,
                hi: Long): Seq[String] =
    planOverlapping(s, dirRows(s, s"$root/manifest"), lo, hi,
      s"range plan [$lo, $hi]")

  /** Files of manifest rows whose integral [min_key, max_key] overlaps
    * [lo, hi] (null stats never overlap), under the driver bound. */
  private def planOverlapping(s: SparkSession, m: DirRows, lo: Long,
                              hi: Long, what: String,
                              fileCol: String = "file"): Seq[String] = {
    val (iF, iLo, iHi) = (m.schema.fieldIndex(fileCol),
      m.schema.fieldIndex("min_key"), m.schema.fieldIndex("max_key"))
    boundedFiles(s, m.rows.iterator.filter(overlaps(_, iLo, iHi, lo, hi))
      .map(_.getString(iF)), what)
  }

  /** Does a manifest row's integral [min_key, max_key] overlap
    * [lo, hi]? Null stats (a 0-row placeholder file) never do — the
    * SQL comparison's answer. */
  private def overlaps(r: org.apache.spark.sql.Row, iLo: Int, iHi: Int,
                       lo: Long, hi: Long): Boolean =
    !r.isNullAt(iLo) && !r.isNullAt(iHi) &&
      r.getAs[Number](iLo).longValue <= hi &&
      r.getAs[Number](iHi).longValue >= lo

  /** Total file count in the layout (for the pruning assertion). */
  def totalFiles(s: SparkSession, root: String): Long =
    footerCount(s, s"$root/manifest")

  /** The pruned range read: only planned files are opened; the exact
    * predicate is re-applied so overlap-but-no-match files cannot
    * leak rows. Returns an empty-schema'd frame when nothing
    * overlaps. */
  def readRange(s: SparkSession, root: String, lo: Long,
                hi: Long): DataFrame = {
    val files = planFiles(s, root, lo, hi)
    val base =
      if (files.isEmpty)
        immutableParquet(s, s"$root/data").limit(0)
      else readFiles(s, s"$root/manifest", files)
    base.filter(col("n_chars") >= lo && col("n_chars") <= hi)
  }

  // ------------------------------------------------- manifest tree

  /** TWO-LEVEL MANIFEST TREE — the scale path past the flat
    * driver-held list (what [[maxDriverFiles]] fails fast toward):
    * Iceberg's manifest-list design. The flat manifest's rows are
    * range-sharded by `min_key` into SHARD manifests (each a parquet
    * of per-file stats), and a tiny MANIFEST LIST records one row per
    * shard: (shard path, shard min_key, shard max_key, n_files).
    * Planning a range predicate then prunes TWICE: the manifest list
    * (shard-count rows — KBs even at 10⁸ files) names the shards
    * whose key interval overlaps, and only THOSE shard manifests are
    * read to name files. Driver memory holds overlapping shards'
    * rows, never the full file list: a selective query over a
    * 10⁸-file table reads a handful of shard manifests; a full scan
    * still pays the full list, which is the honest cost of planning a
    * full scan. Shards are key-ranged (not hashed) so shard pruning
    * inherits the layout's clustering. */
  def buildManifestTree(s: SparkSession, root: String,
                        flatManifest: String, nShards: Int): String = {
    val treeDir = s"$root/manifest_tree"
    val shards = immutableParquet(s, flatManifest)
      .repartitionByRange(nShards, col("min_key"), col("file"))
    shards.write.mode("overwrite").parquet(s"$treeDir/shards")
    s.read.parquet(s"$treeDir/shards")
      .groupBy(col("_metadata.file_path").as("shard"))
      .agg(min(col("min_key")).as("min_key"),
        max(col("max_key")).as("max_key"),
        count(lit(1)).as("n_files"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$treeDir/list")
    treeDir
  }

  /** Shard-pruned range plan through the tree: read the manifest list
    * (shard-count rows), keep overlapping shards, then read ONLY
    * those shard manifests for the file list. The driver bound
    * applies to what is actually planned — the overlapping subset —
    * so a selective predicate stays plannable at any table size. */
  def planFilesTree(s: SparkSession, treeDir: String, lo: Long,
                    hi: Long): Seq[String] = {
    val shardPaths = planOverlapping(s, dirRows(s, s"$treeDir/list"),
      lo, hi, s"manifest-list shard plan [$lo, $hi]", fileCol = "shard")
    if (shardPaths.isEmpty) Seq.empty
    else collectFileList(s,
      s.read.parquet(shardPaths: _*)
        .filter(col("min_key") <= hi && col("max_key") >= lo)
        .select("file"),
      s"sharded file plan [$lo, $hi]")
  }

  /** [[readRange]] through the manifest tree: same exactness contract
    * (predicate re-applied after the pruned read). */
  def readRangeTree(s: SparkSession, root: String, treeDir: String,
                    lo: Long, hi: Long): DataFrame = {
    val files = planFilesTree(s, treeDir, lo, hi)
    val base =
      if (files.isEmpty) immutableParquet(s, s"$root/data").limit(0)
      else readFiles(s, s"$root/manifest", files)
    base.filter(col("n_chars") >= lo && col("n_chars") <= hi)
  }

  /** COMPACTION — the maintenance sibling of the pruned scan: many
    * small files (the steady state of incremental ingest) are
    * rewritten into `nFiles` range-clustered files WITH a rebuilt
    * manifest, into a new versioned directory pair — the live layout
    * is never mutated in place, so concurrent readers of the old
    * data/manifest keep a consistent view (swap-by-path, the same
    * commit idea as the MV version pointer). Clustering is preserved
    * (repartitionByRange on the same key), so post-compaction skipping
    * is at least as selective per file. Returns the new layout's
    * (dataDir, manifestDir). */
  def compactLayout(s: SparkSession, root: String,
                    nFiles: Int): (String, String) = {
    val dataDir = s"$root/data_compact_$nFiles"
    val mfDir = s"$root/manifest_compact_$nFiles"
    immutableParquet(s, s"$root/data")
      .repartitionByRange(nFiles, col("n_chars"), col("doc_id"))
      .write.mode("overwrite").parquet(dataDir)
    statsManifest(s, dataDir, policy = statsPolicyOf(root))
      .write.mode("overwrite").parquet(mfDir)
    (dataDir, mfDir)
  }

  /** COPY-ON-WRITE MERGE — the lakehouse write path that completes the
    * manifest family (prune = read, compact = maintenance, merge =
    * mutation): fold an upsert batch into the layout by rewriting ONLY
    * the files that contain a matched key, exactly what Delta/Hudi
    * CoW MERGE does. Steps, all Iceberg-planner-shaped:
    *   1. plan: join the batch's keys against the layout once to find
    *      the HIT files — a driver-held file list (KBs: one row per
    *      touched file, never per row);
    *   2. rewrite: re-read only the hit files, apply the update
    *      (coalesce of the batch's new value over the old), append the
    *      insert rows, write to a NEW versioned data dir;
    *   3. commit: a NEW manifest referencing untouched files AT THEIR
    *      OLD PATHS plus the rewritten files — swap-by-path, so
    *      concurrent readers of the old manifest keep a consistent
    *      pre-merge view and nothing is mutated in place.
    * At 100 TB the cost is proportional to the TOUCHED data (hit
    * files + batch), not the table — the entire point of CoW over
    * rewrite-the-world. Caller contract (as in a real MERGE ... WHEN
    * MATCHED THEN UPDATE / WHEN NOT MATCHED THEN INSERT): `updates`
    * carries (doc_id, new_lang) for existing keys, `inserts` carries
    * full new rows with keys absent from the table. Returns
    * (dataV2Dir, manifestV2Dir). */
  def cowMerge(s: SparkSession, root: String, updates: DataFrame,
               inserts: DataFrame, version: String): (String, String) =
    cowMergeFrom(s, root, s"$root/manifest", updates, inserts, version)

  /** The MERGE plan copy-on-write ([[cowMergeFrom]]) and merge-on-read
    * ([[morMergeFrom]]) share; they differ only in how they commit it.
    *   - SET resolution: every non-key column of `updates` overwrites
    *     the matched row's column, a NULL update value keeps the old
    *     one (coalesce semantics), and the legacy `new_lang` spelling
    *     keeps meaning SET lang.
    *   - The hit-file plan: one join of the matched keys (updates ∪
    *     deletes) against the base version's key column collects the
    *     files holding one — a driver-held list under
    *     `graft.manifest.maxDriverFiles`, one row per touched file.
    *   - The hit read: ONLY those files, base deletion vectors applied,
    *     so a merge never resurrects a row the base already hides.
    *     Every matched row lives in a hit file, so this read serves
    *     both the CoW rewrite and MoR's masks and post-images: the base
    *     version is scanned once, by the plan.
    * Accumulated equality deletes fold into positional form first
    * ([[foldEqDel]]); `effDv` is the base DV after that fold. */
  private final class MergePlan(s: SparkSession, root: String,
                                baseManifest: String,
                                baseDv: Option[String], updates: DataFrame,
                                deletes: Option[DataFrame],
                                version: String, key: String) {
    val effDv: Option[String] =
      foldEqDel(s, root, baseManifest, baseDv, version)
    private val table = readVersionWithDv(s, baseManifest, effDv)
    val tableCols: Seq[String] = table.columns.toSeq
    private val upd =
      if (updates.columns.contains("new_lang"))
        updates.withColumnRenamed("new_lang", "lang")
      else updates
    private val setCols = upd.columns.filterNot(_ == key).toSeq
    require(setCols.nonEmpty,
      "MERGE updates carry no SET columns (only the key)")
    require(setCols.forall(tableCols.contains),
      s"MERGE SET columns ${setCols.filterNot(tableCols.contains)
        .mkString(", ")} do not exist in the table")
    /** The keys of every matched row: updated or deleted. */
    val matched: DataFrame =
      deletes.fold(upd.select(key))(d => upd.select(key)
        .unionByName(d.select(key)))
    val hitFiles: Seq[String] = collectFileList(s,
      table
        .select(col("_metadata.file_path").as("file"), col(key))
        .join(matched, key)
        .select("file").distinct(),
      "MERGE hit-file plan")
    /** The hit files' live rows. */
    val hit: DataFrame =
      if (hitFiles.isEmpty) table.limit(0)
      else applyDv(s, readFiles(s, baseManifest, hitFiles), effDv)
    /** `rows` without the deleted keys, matched updates' SET columns
      * applied: a `left` join keeps unmatched rows (the CoW rewrite),
      * an `inner` one only the post-images (MoR). */
    def updated(rows: DataFrame, how: String): DataFrame = {
      val live = deletes.fold(rows)(d =>
        rows.join(d.select(key), Seq(key), "left_anti"))
      val prefixed = setCols.foldLeft(upd) { (d, c) =>
        d.withColumnRenamed(c, s"__u_$c")
      }
      setCols.foldLeft(live.join(prefixed, Seq(key), how)) { (d, c) =>
        d.withColumn(c, coalesce(col(s"__u_$c"), col(c)))
      }.select(tableCols.map(col): _*)
    }
  }

  /** [[cowMerge]] against an arbitrary committed base manifest (the
    * commit-protocol entry point merges against the current one).
    * `deletes` (optional, key rows) completes the MERGE triad — WHEN
    * MATCHED THEN DELETE: deleted keys' files count as hit files and
    * the rewrite drops their rows (an anti-join inside the rewritten
    * subset only — copy-on-write deletion, the eager complement of
    * Delta/Iceberg deletion vectors, which defer the same anti-join
    * to read time). Planning is [[MergePlan]]'s. */
  def cowMergeFrom(s: SparkSession, root: String, baseManifest: String,
                   updates: DataFrame, inserts: DataFrame,
                   version: String,
                   deletes: Option[DataFrame] = None,
                   baseDv: Option[String] = None,
                   key: String = "doc_id"): (String, String) = {
    val dataV2 = s"$root/data_$version"
    val mfV2 = s"$root/manifest_$version"
    // 1. plan: which files hold a matched key? (driver-held, file-grain)
    val plan = new MergePlan(s, root, baseManifest, baseDv, updates,
      deletes, version, key)
    val hitFiles = plan.hitFiles
    // 2. rewrite hit files with updates applied and deletes dropped,
    //    then append inserts
    val mergedRows = plan.updated(plan.hit, "left").unionByName(inserts)
    // a merge that empties EVERY hit file (and the untouched set)
    // would write a file-less parquet dir and an unreadable version —
    // refuse up front with a usable message (an empty table is
    // expressed by truncation, not by a merge)
    require(hitFiles.isEmpty || mergedRows.limit(1).count() > 0 ||
        dirRows(s, baseManifest).strings("file")
          .exists(f => !hitFiles.contains(f)),
      "this merge would delete every live row — an empty table " +
        "cannot be represented by a merged version; truncate instead")
    mergedRows.write.mode("overwrite").parquet(dataV2)
    // CHECK constraints over exactly the newly written rows (untouched
    // files were validated when written; a violation aborts BEFORE the
    // manifest exists, leaving only prepared garbage for expiry)
    enforceConstraints(root, s.read.parquet(dataV2))
    // 3. commit: new manifest = untouched old rows + fresh v2 stats
    // (both sides carry _metadata.file_path URIs, so plain equality
    // works; an empty hit list keeps every old row). Base DV entries
    // for UNTOUCHED files carry forward into this version's DV
    // sidecar; entries for rewritten files are dropped — the rewrite
    // materialized those deletes (the Iceberg rewrite-drops-its-
    // position-deletes rule).
    val untouchedFile = !col("file").isInCollection(hitFiles)
    val untouched = immutableParquet(s, baseManifest).filter(untouchedFile)
    val spec = specOfManifest(root, baseManifest)
    val v2Stats = statsManifest(s, dataV2, spec.statsCol, spec.id,
      statsPolicyOf(root))
    untouched.unionByName(v2Stats, allowMissingColumns = true)
      .write.mode("overwrite").parquet(mfV2)
    carrySpecPointer(root, baseManifest, mfV2)
    plan.effDv.foreach { dv =>
      val carried = immutableParquet(s, dv).filter(untouchedFile)
      if (carried.limit(1).count() > 0) {
        carried.write.mode("overwrite").parquet(s"$root/dv_$version")
        writeDvPointer(root, mfV2, s"$root/dv_$version")
      }
    }
    (dataV2, mfV2)
  }

  // ------------------------------------------------ deletion vectors

  /** Each row of `frame` with its POSITION in columns `file` and `pos`:
    * the parquet file it lives in and its ordinal there
    * (`_metadata.row_index`, stable for an immutable file) — the
    * coordinates a deletion-vector sidecar records. Every DV writer
    * and reader takes positions from here. */
  private def positions(frame: DataFrame, file: String = "file",
                        pos: String = "pos"): DataFrame =
    frame.withColumn(file, col("_metadata.file_path"))
      .withColumn(pos, col("_metadata.row_index"))

  /** A sidecar's rows ∪ `rows`, deduplicated: how every DV and
    * equality-delete sidecar grows. Version N's sidecar holds
    * everything hidden as of N, so a reader needs only its own
    * version's sidecar, never the chain. */
  private def accumulate(s: SparkSession, sidecar: Option[String],
                         rows: DataFrame): DataFrame =
    sidecar.fold(rows)(immutableParquet(s, _).unionByName(rows))
      .distinct()

  /** Write DV sidecar `dir`: `baseDv` grown by the `(file, pos)` of
    * `hidden`'s rows. Every commit that masks rows lands its sidecar
    * here. Returns `dir`. */
  private def writeDv(s: SparkSession, baseDv: Option[String],
                      hidden: DataFrame, dir: String): String = {
    accumulate(s, baseDv, hidden.select("file", "pos"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  /** MERGE-ON-READ DELETE via positional DELETION VECTORS — the lazy
    * complement of [[cowMergeFrom]]'s eager row rewrite: a DELETE
    * touches NO data file. Instead the deleted rows' [[positions]] are
    * recorded in a sidecar table of `(file, pos)` rows, and the read
    * path hides them with a positional anti-join
    * ([[readVersionWithDv]]).
    *
    * Why this matters at 100 TB: frequent small deletes (GDPR erasure
    * over a petabyte corpus) under copy-on-write rewrite ~every file
    * over time; under deletion vectors each delete costs one
    * distributed position-planning join + a sidecar write
    * proportional to the DELETED rows, and the data files are never
    * touched until a compaction or CoW merge materializes the
    * deletes (a rewrite drops the rewritten files' DV entries). The
    * sidecar accumulates ([[writeDv]]).
    *
    * Returns (manifestDir, dvDir) for the new version; the manifest
    * is a copy of the base (same file list, same stats — `n_rows`
    * stays the PHYSICAL count, live = n_rows − dv hits, as in
    * Iceberg). */
  def dvDeleteFrom(s: SparkSession, root: String, baseManifest: String,
                   baseDv: Option[String], deletes: DataFrame,
                   version: String,
                   key: String = "doc_id"): (String, String) = {
    val mfV = s"$root/manifest_$version"
    // accumulated equality deletes fold into this version's sidecar
    val effDv = foldEqDel(s, root, baseManifest, baseDv, version)
    // plan: positions of doomed rows, a distributed join on the key —
    // never a driver-side row list (only FILES are ever driver-held
    // in this layer, and a DV delete holds none at all)
    val dvV = writeDv(s, effDv,
      positions(readVersionWithDv(s, baseManifest, effDv))
        .join(deletes.select(key), key),
      s"$root/dv_$version")
    // manifest: identical file list — the no-rewrite contract; the
    // sidecar reference rides inside it so one rename publishes both
    prepareManifest(s, root, baseManifest, None, mfV)
    writeDvPointer(root, mfV, dvV)
    (mfV, dvV)
  }

  /** The delta write every row-adding commit shares: `rows`, in the
    * base version's column order, land in `dataDir` with their
    * manifest stats, then the table's CHECK constraints run over
    * exactly the written rows (a violation aborts BEFORE any manifest
    * exists, leaving only prepared garbage for expiry). A registered
    * SPJ bucketing ([[SpjBucket]]) is preserved when the rows carry the
    * bucket key: files split per bucket id, ids recorded in the stats —
    * so append/replace/MERGE/upsert all keep the
    * storage-partitioned-join surface alive. An empty row set takes
    * the plain path (a bucket-partitioned write of zero rows emits no
    * file at all, which would break downstream schema reads). Returns
    * the delta's stats rows. */
  private def writeDelta(s: SparkSession, root: String,
                         baseManifest: String, newRows: DataFrame,
                         dataDir: String): DataFrame = {
    // schema-only read: footers, not data
    val cols = readVersion(s, baseManifest).schema.fieldNames.toSeq
    val rows = newRows.select(cols.map(col): _*)
    val spec = specOfManifest(root, baseManifest)
    val stats = SpjBucket.bucketingOf(root)
      .filter { case (k, _) => cols.contains(k) }
      .filter(_ => rows.limit(1).count() > 0) match {
      case Some((key, n)) =>
        rows.withColumn("__bp", SpjBucket.bucketCol(key, n))
          .write.partitionBy("__bp").mode("overwrite").parquet(dataDir)
        SpjBucket.bucketStatsManifest(s, dataDir, key, n,
          spec.statsCol, spec.id, statsPolicyOf(root))
      case None =>
        rows.write.mode("overwrite").parquet(dataDir)
        statsManifest(s, dataDir, spec.statsCol, spec.id,
          statsPolicyOf(root))
    }
    enforceConstraints(root,
      s.read.parquet(dataDir).select(cols.map(col): _*))
    stats
  }

  /** Prepare manifest `mfV`: the base manifest's file rows plus
    * `added` stats rows, with the base's clustering-spec pointer — the
    * manifest of every commit that keeps all of the base's files. */
  private def prepareManifest(s: SparkSession, root: String,
                              baseManifest: String,
                              added: Option[DataFrame],
                              mfV: String): Unit = {
    val base = immutableParquet(s, baseManifest)
    added.fold(base)(base.unionByName(_, allowMissingColumns = true))
      .write.mode("overwrite").parquet(mfV)
    carrySpecPointer(root, baseManifest, mfV)
  }

  /** MERGE-ON-READ upsert — the write-amplification complement of
    * [[cowMergeFrom]] (Iceberg v2 delete-plus-insert / Delta deletion
    * vectors applied to UPDATE, not just DELETE): a matched key's OLD
    * row is hidden behind a DV sidecar entry and its post-image is
    * APPENDED to a new delta file, so the commit writes
    * O(updated + inserted rows) — never a hit-FILE rewrite. This is
    * the path a streaming CDC feed of small scattered updates needs
    * at 100 TB: CoW rewrites a whole file per touched key per batch;
    * MoR writes exactly the changed rows and lets [[compactCommit]]
    * materialize the masks once per maintenance window. The read-side
    * cost (positional anti-join against a growing sidecar) is the
    * same one DV deletes already pay, erased by the same compaction.
    *
    * Semantics are IDENTICAL to [[cowMergeFrom]] (MorMergeSpec pins
    * CoW-vs-MoR result equality): WHEN MATCHED THEN UPDATE SET over
    * every non-key `updates` column (NULL keeps the old value), WHEN
    * NOT MATCHED THEN INSERT, WHEN MATCHED by `deletes` keys THEN
    * DELETE (mask only, no post-image). Both merges plan through
    * [[MergePlan]]: one key join over the base picks the hit files,
    * and the masks and the post-images both come from reading ONLY
    * those files — reading matched rows is unavoidable for coalesce
    * semantics, but nothing is rewritten. The hit-file list is
    * driver-held, so it falls under `graft.manifest.maxDriverFiles`
    * exactly as CoW's does. */
  def morMergeFrom(s: SparkSession, root: String, baseManifest: String,
                   baseDv: Option[String], updates: DataFrame,
                   inserts: DataFrame, version: String,
                   deletes: Option[DataFrame] = None,
                   key: String = "doc_id"): (String, String) = {
    val mfV = s"$root/manifest_$version"
    val plan = new MergePlan(s, root, baseManifest, baseDv, updates,
      deletes, version, key)
    // 1. post-images: the hit rows of matched UPDATE keys, SET columns
    // coalesced over them (deleted keys get none), plus the inserts
    val deltaStats = writeDelta(s, root, baseManifest,
      plan.updated(plan.hit, "inner")
        .unionByName(inserts.select(plan.tableCols.map(col): _*)),
      s"$root/data_$version")
    // 2. mask: the positions of every matched (updated or deleted)
    // live row, from the same hit-file read
    val dvV = writeDv(s, plan.effDv,
      positions(plan.hit).join(plan.matched, Seq(key), "left_semi"),
      s"$root/dv_$version")
    // 3. commit: carried base files + the delta file's stats; the
    // grown sidecar rides inside the prepared manifest so one rename
    // publishes both (the dvDeleteFrom publication rule)
    prepareManifest(s, root, baseManifest, Some(deltaStats), mfV)
    writeDvPointer(root, mfV, dvV)
    (mfV, dvV)
  }

  /** Hide DV-recorded positions ([[byPosition]], anti). */
  private[sources] def applyDv(s: SparkSession, data: DataFrame,
                      dvDir: Option[String]): DataFrame = dvDir match {
    case None => data
    case Some(dv) => byPosition(data, immutableParquet(s, dv), "left_anti")
  }

  /** `data`'s rows whose position is (`left_semi`) or is not
    * (`left_anti`) among `dv`'s `(file, pos)` rows. The DV side is
    * sized by deleted rows, the join key is uniform (file path ×
    * ordinal), and the scan side needs no sort — a plain shuffled join
    * at any scale (broadcast when the sidecar is small enough for AQE
    * to notice). */
  private def byPosition(data: DataFrame, dv: DataFrame,
                         how: String): DataFrame =
    positions(data, "__file", "__pos")
      .join(dv, col("__file") === col("file") && col("__pos") === col("pos"),
        how)
      .drop("__file", "__pos")

  /** [[readVersion]] with a deletion-vector sidecar applied. */
  def readVersionWithDv(s: SparkSession, manifestDir: String,
                        dvDir: Option[String]): DataFrame =
    applyDv(s, readVersion(s, manifestDir), dvDir)

  /** Live row count under a DV sidecar without touching data files:
    * manifest physical counts minus DV hits — the planner-side
    * arithmetic a DV design buys (Iceberg's `live = n_rows −
    * position_deletes`). */
  def liveRowCount(s: SparkSession, manifestDir: String,
                   dvDir: Option[String]): Long = {
    val physical = physicalRows(s, manifestDir)
    val hidden = dvDir.map(dvHiddenCount(s, _)).getOrElse(0L)
    physical - hidden
  }

  /** OPTIMISTIC CONCURRENCY for the swap-by-path commit — the ACID
    * piece that turns the versioned manifests into a real table
    * protocol (what Delta's `_delta_log/N.json` PUT-if-absent and
    * Iceberg's metadata-pointer CAS do): writers prepare data +
    * manifest under version N+1, then COMMIT by atomically creating
    * the commit marker `_commits/N+1` — exactly one writer can create
    * it, so two merges racing from the same base cannot both publish;
    * the loser gets a ConcurrentModificationException and must retry
    * on the new base (re-plan its hit files — its rewrite may be
    * stale). `currentVersion` follows the highest committed marker,
    * so readers always see a complete, winner-consistent view and
    * never a half-published one. Uncommitted prepared directories are
    * garbage, never truth — the crash-safety property the MV version
    * pointer established for the streaming leg. */
  def currentVersion(s: SparkSession, root: String): Long =
    ChainStorage.forPath(root).list(s"$root/_commits")
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
      .foldLeft(0L)(math.max)

  /** Last path segment — pointer files hold sibling dir NAMES, never
    * full paths, so chains stay relocatable. */
  private def baseName(path: String): String =
    path.stripSuffix("/").substring(
      path.stripSuffix("/").lastIndexOf('/') + 1)

  /** Manifest dir of a committed version (0 = the base layout; the
    * `c` prefix keeps protocol versions apart from ad-hoc
    * [[cowMerge]] suffixes). */
  def manifestOf(root: String, version: Long): String =
    if (version == 0L) s"$root/manifest" else s"$root/manifest_c$version"

  /** DV sidecar dir of a committed version, when one exists (purely
    * CoW versions have none): the one named by the `_dv` pointer file
    * INSIDE the manifest dir (written by [[dvDeleteFrom]]/
    * [[cowMergeFrom]] before the manifest is published, so the atomic
    * manifest rename publishes the sidecar reference with it — the
    * property the concurrent-writer protocol needs). A base layout's
    * version 0 has none ([[buildLayout]] never writes one), but a
    * BRANCH's version 0 is a byte-copy of its fork version's manifest
    * ([[createBranch]]) and must keep hiding the fork's deleted rows,
    * so version 0 checks the pointer too. */
  def dvOf(root: String, version: Long): Option[String] = {
    if (version < 0L) return None
    val st = ChainStorage.forPath(root)
    val ptr = s"${manifestOf(root, version)}/_dv"
    if (st.isFile(ptr)) {
      val named = s"$root/${st.read(ptr).trim}"
      // a pointer whose target vanished must FAIL the read, not
      // silently degrade to "no sidecar" — that would resurrect every
      // row the version's deletion vectors hide
      if (!st.isDir(named))
        throw new IllegalStateException(
          s"version $version's DV sidecar $named is " +
            "missing — the table metadata is corrupt (was it vacuumed " +
            "by an external process?)")
      Some(named)
    } else None
  }

  /** Record the sidecar reference inside a PREPARED manifest dir, so
    * publishing the manifest (one atomic rename) publishes the DV
    * reference with it. */
  private def writeDvPointer(root: String, manifestDir: String,
                             dvDir: String): Unit =
    ChainStorage.forPath(root).write(s"$manifestDir/_dv",
      baseName(dvDir) + "\n")

  // ------------------------------------------------ equality deletes

  /** Equality-delete sidecar dir of a committed version, when one
    * exists — Iceberg v2 EQUALITY DELETES: the sidecar holds KEY
    * VALUES (whatever columns [[eqDeleteCommit]] recorded), not
    * positions, so the delete commit costs O(deleted keys) with ZERO
    * data reads — no position-planning join, the one cost even
    * positional DVs must pay. Resolution is pointer-only: `_eqdel`
    * inside the manifest dir, published by the same atomic rename as
    * the manifest. A dangling pointer fails the read (the [[dvOf]]
    * rule: silent degradation would resurrect deleted rows). */
  def eqDelOf(root: String, version: Long): Option[String] = {
    if (version < 0L) return None
    val st = ChainStorage.forPath(root)
    val ptr = s"${manifestOf(root, version)}/_eqdel"
    if (!st.isFile(ptr)) return None
    val named = s"$root/${st.read(ptr).trim}"
    if (!st.isDir(named))
      throw new IllegalStateException(
        s"version $version's equality-delete sidecar $named " +
          "is missing — the table metadata is corrupt (was it " +
          "vacuumed by an external process?)")
    Some(named)
  }

  private def writeEqDelPointer(manifestDir: String,
                                eqDir: String): Unit =
    ChainStorage.forPath(manifestDir).write(s"$manifestDir/_eqdel",
      baseName(eqDir) + "\n")

  /** Hide rows matching an equality-delete sidecar: anti-join on the
    * sidecar's OWN column set, so single and composite equality keys
    * both work without a schema contract beyond "these columns exist
    * in the table". The sidecar is sized by deleted keys — at scale
    * the anti-join broadcasts until a fold or compaction erases it. */
  private[sources] def applyEqDel(s: SparkSession, data: DataFrame,
                         eqDir: Option[String]): DataFrame = eqDir match {
    case None => data
    case Some(eq) =>
      val keys = immutableParquet(s, eq)
      data.join(keys, keys.columns.toIndexedSeq, "left_anti")
  }

  /** DELETE WHERE (keys) as a PURE-METADATA commit — the cheapest
    * delete the chain offers: write the key rows (∪ any accumulated
    * ones) and a manifest byte-copy, scan NOTHING. Positional DV
    * deletes ([[dvDeleteCommit]]) pay a position-planning join over
    * the key's files at commit time; an equality delete moves that
    * whole cost to readers — each committed read anti-joins on the
    * accumulated keys — until the next data-touching commit
    * ([[foldEqDel]]) or compaction materializes them away. That is
    * the right trade for a 100 TB GDPR queue: the erasure SLA is met
    * by a bytes-sized commit, and the scan is paid once in
    * maintenance, not once per erased key. `keys`' column set defines
    * the equality columns and must stay consistent across the
    * sidecar's lifetime (commits union into it). */
  def eqDeleteCommit(s: SparkSession, root: String,
                     keys: DataFrame): Long = {
    val base = currentVersion(s, root)
    // fail at COMMIT, not at the first read a week later: every
    // equality column must exist in the table
    val tableCols = readVersion(s, manifestOf(root, base))
      .schema.fieldNames.toSet
    require(keys.columns.forall(tableCols.contains),
      s"equality-delete columns ${keys.columns.filterNot(tableCols
        .contains).mkString(", ")} do not exist in the table")
    val tok = prepareToken()
    val merged = accumulate(s, eqDelOf(root, base), keys)
    // AUTO-FOLD POLICY — read amplification bounded by policy, not
    // operator discipline: every committed read pays an anti-join on
    // the accumulated keys until a data-touching commit folds them,
    // so a chain receiving ONLY eq-delete commits (a pure erasure
    // queue) would grow that cost without bound. When the accumulated
    // key count or the unfolded-commit streak crosses its threshold,
    // THIS commit folds instead: one position-planning scan (the cost
    // every positional delete pays once) converts the whole backlog
    // into DV positions and the published version carries no `_eqdel`
    // pointer — O(1)-metadata live counts and join-free reads are
    // restored. Thresholds per session: `graft.eqdel.autoFoldKeys`
    // (default 100000 accumulated keys) and
    // `graft.eqdel.autoFoldCommits` (default 64 consecutive unfolded
    // eq-delete commits).
    val maxKeys = s.conf.getOption("graft.eqdel.autoFoldKeys")
      .map(_.toLong).getOrElse(100000L)
    val maxCommits = s.conf.getOption("graft.eqdel.autoFoldCommits")
      .map(_.toLong).getOrElse(64L)
    val streak = unfoldedEqDelStreak(root, base, maxCommits)
    // counting the KEY set costs a keys-sized job, never a table scan
    if (streak + 1 > maxCommits || merged.count() > maxKeys) {
      val baseManifest = manifestOf(root, base)
      val dvV = foldKeys(s, baseManifest, dvOf(root, base), merged,
        s"$root/dv_$tok")
      val prepared = s"$root/manifest_$tok"
      copyDirFlat(root, baseManifest, prepared)
      ChainStorage.forPath(root).deleteFile(s"$prepared/_eqdel")
      writeDvPointer(root, prepared, dvV)
      val v = publish(root, base, prepared)
      noteCommit(root, v, "eqdel-fold")
      return v
    }
    val eqDir = s"$root/eqdel_$tok"
    merged.write.mode("overwrite").parquet(eqDir)
    val prepared = s"$root/manifest_$tok"
    copyDirFlat(root, manifestOf(root, base), prepared)
    writeEqDelPointer(prepared, eqDir)
    val v = publish(root, base, prepared)
    noteCommit(root, v, "eqdel")
    v
  }

  /** Consecutive head versions still carrying an `_eqdel` pointer —
    * the unfolded streak the auto-fold policy bounds. Capped at
    * `stopAt` (the walk never needs to look further). */
  private def unfoldedEqDelStreak(root: String, base: Long,
                                  stopAt: Long): Long = {
    var v = base
    var n = 0L
    while (v >= 0 && n <= stopAt &&
        scala.util.Try(eqDelOf(root, v)).toOption.flatten.isDefined) {
      n += 1; v -= 1
    }
    n
  }

  /** Fold a base version's equality deletes into POSITIONAL form so
    * the *From planners (which speak (file, pos)) keep one sidecar
    * language: returns `baseDv` unchanged when the base manifest
    * carries no `_eqdel` pointer, else writes `dv_<version>f` =
    * baseDv ∪ the eq-matching live rows' positions and returns that.
    * Because the planners' prepared manifests never carry an
    * `_eqdel` pointer, the fold is ALSO how equality deletes get
    * materialized away (Iceberg's convert-on-rewrite rule): the
    * deferred planning join is paid ONCE, at the next data-touching
    * commit, never again. */
  private def foldEqDel(s: SparkSession, root: String,
                        baseManifest: String, baseDv: Option[String],
                        version: String): Option[String] = {
    val st = ChainStorage.forPath(root)
    val ptr = s"$baseManifest/_eqdel"
    if (!st.isFile(ptr)) return baseDv
    val eqDir = s"$root/${st.read(ptr).trim}"
    if (!st.isDir(eqDir))
      throw new IllegalStateException(
        s"base manifest $baseManifest's equality-delete sidecar " +
          s"$eqDir is missing")
    Some(foldKeys(s, baseManifest, baseDv, immutableParquet(s, eqDir),
      s"$root/dv_${version}f"))
  }

  /** Write DV sidecar `dir`: `baseDv` grown by the positions of the
    * base version's live rows matching equality-delete `keys` — the
    * one position-planning scan that turns key-valued deletes into
    * positional ones ([[foldEqDel]] and [[eqDeleteCommit]]'s
    * auto-fold). The position columns are named apart from the
    * table's, which the key columns may share. Returns `dir`. */
  private def foldKeys(s: SparkSession, baseManifest: String,
                       baseDv: Option[String], keys: DataFrame,
                       dir: String): String =
    writeDv(s, baseDv,
      positions(readVersionWithDv(s, baseManifest, baseDv), "__file",
        "__pos")
        .join(keys, keys.columns.toIndexedSeq, "left_semi")
        .select(col("__file").as("file"), col("__pos").as("pos")),
      dir)

  /** [[liveRowCount]] resolved through a committed version's
    * sidecars — and HONEST about when metadata cannot answer: under
    * an un-folded equality delete the live count is a data question
    * (how many rows match the keys?), so this throws rather than
    * estimate (Iceberg has the same rule: eq-deletes make scan
    * metrics estimates). Compact or commit any data change to
    * restore O(1) counts. */
  def liveRowCountCommitted(s: SparkSession, root: String,
                            version: Long): Long = {
    require(eqDelOf(root, version).isEmpty,
      s"version $version carries equality deletes — live counts " +
        "need a scan until a data-touching commit or compaction " +
        "folds them into positions")
    liveRowCount(s, manifestOf(root, version), dvOf(root, version))
  }

  /** Read the table at a committed version, deletion vectors and
    * equality deletes applied — the one entry point that is correct
    * whether the version chain contains CoW merges, DV deletes,
    * equality deletes, or all three. */
  def readCommitted(s: SparkSession, root: String,
                    version: Long): DataFrame =
    applyEqDel(s,
      readVersionWithDv(s, manifestOf(root, version),
        dvOf(root, version)),
      eqDelOf(root, version))

  /** Commit wall-clock time of a version, from PROTOCOL CONTENT the
    * chain durably keeps — never filesystem mtimes (which object
    * stores don't have and HDFS renames don't honor as a timeline):
    * [[tryCommit]] stamps `ts=<millis>` INSIDE the commit marker at
    * the CAS, strictly monotonic by construction (each commit's ts is
    * max(now, predecessor's ts + 1), so two commits inside one clock
    * tick still order correctly — no mtime-granularity nudging).
    * Markers are created by the publish winner and RETAINED by expiry
    * forever, so the timeline outlives the versions themselves.
    * Version 0 — which has no marker — reads the `_created` stamp
    * [[buildLayout]] writes. None when the version was never
    * committed. [[noteCommit]] preserves the ts line when it attaches
    * a note. Legacy artifacts without an embedded ts (pre-seam chains
    * on local disk) fall back to the old mtime reading. */
  def commitTimeMs(root: String, version: Long): Option[Long] = {
    val st = ChainStorage.forPath(root)
    if (version == 0L) {
      if (st.isFile(s"$root/_created"))
        parseTs(st.read(s"$root/_created"))
          .orElse(Some(st.modifiedMs(s"$root/_created")))
      else if (st.isDir(manifestOf(root, 0L)))
        Some(st.modifiedMs(manifestOf(root, 0L)))
      else None
    } else {
      val mp = markerPath(root, version)
      if (!st.isFile(mp)) None
      else parseTs(st.read(mp)).orElse(Some(st.modifiedMs(mp)))
    }
  }

  /** The `ts=<millis>` line of a marker/stamp, when present. */
  private def parseTs(content: String): Option[Long] =
    content.linesIterator.find(_.startsWith("ts="))
      .flatMap(l => scala.util.Try(l.stripPrefix("ts=").trim.toLong)
        .toOption)

  /** Resolve "the table as of wall-clock T": the HIGHEST version
    * whose commit time is <= tsMillis — Iceberg/Delta
    * `TIMESTAMP AS OF` semantics (a reader at T sees the last state
    * published before or at T). Fails with a clear error, never a
    * wrong answer, in the two boundary cases: T before table
    * creation, and T resolving to a version whose manifests
    * [[expireVersions]] already destroyed (the retained markers keep
    * the timeline, so expiry is DETECTED, not misread as an older or
    * newer state — the retention contract every time-travel user must
    * size `keepLast` against). */
  def versionAsOf(s: SparkSession, root: String, tsMillis: Long): Long = {
    val cur = currentVersion(s, root)
    val timeline = (0L to cur)
      .flatMap(v => commitTimeMs(root, v).map(v -> _))
    require(timeline.nonEmpty, s"no committed versions under $root")
    val eligible = timeline.filter(_._2 <= tsMillis)
    if (eligible.isEmpty) {
      // v0 carries no marker — once its manifest dir is expired its
      // commit time is unrecorded, so a timestamp between v0's and
      // v1's commits is indistinguishable from "before creation" on
      // the timeline alone. If retained markers exist (v >= 1), the
      // honest diagnosis is the expired-version one, not
      // "precedes creation" (the expiry-is-DETECTED contract).
      if (!timeline.exists(_._1 == 0L))
        throw new IllegalStateException(
          s"as-of $tsMillis resolves at or before version 0, whose " +
            "manifests were expired by vacuum (its commit time is " +
            s"unrecorded); earliest still-timed commit is " +
            s"v${timeline.head._1} at ${timeline.head._2} — raise " +
            "expireVersions' keepLast to cover the travel window")
      require(eligible.nonEmpty,
        s"as-of $tsMillis precedes the table's creation " +
          s"(earliest commit ${timeline.head._2}) — nothing to read")
    }
    val v = eligible.map(_._1).max
    val st = ChainStorage.forPath(root)
    if (!st.isPublished(manifestOf(root, v))) {
      val earliest = (0L to cur).find(w =>
        st.isPublished(manifestOf(root, w)))
      throw new IllegalStateException(
        s"version $v (as of $tsMillis) was expired by vacuum; " +
          s"earliest still-readable version is ${earliest.getOrElse(cur)}" +
          " — raise expireVersions' keepLast to cover the travel window")
    }
    v
  }

  /** Time-travel read: the table as of wall-clock `tsMillis`,
    * deletion vectors applied — completes the version/time/diff read
    * triad over one chain ([[readCommitted]] = version,
    * this = time, q_version_diff = diff). */
  def readAsOf(s: SparkSession, root: String, tsMillis: Long): DataFrame =
    readCommitted(s, root, versionAsOf(s, root, tsMillis))

  /** CHANGE FEED of one version step (v−1 → v) — the PRODUCE side of
    * CDC (Delta's table_changes / Iceberg's changelog scan), closing
    * the loop with the apply side, the graft-table sink's cdc mode
    * ([[graft.streaming.StreamingPipelines.applySinkBatch]]): emits `(version, op, <row>)` rows with op ∈
    * insert|update_preimage|update_postimage|delete (the Delta CDF
    * `_change_type` convention — an updated key yields BOTH images,
    * which is what lets a consumer maintain aggregates incrementally:
    * subtract the pre-image, add the post-image); delete carries the
    * pre-image.
    *
    * The chain's swap-by-path structure makes this FILE-GRAIN — cost
    * is O(files touched by the commit), never O(table), and planning
    * it runs no Spark job (manifests and sidecars are driver-held):
    *   - removed/added file sets come from the two manifests alone;
    *   - the OLD side is the removed files' live rows plus the rows
    *     the DV sidecar newly hides on CARRIED files; the NEW side is
    *     the added files' rows plus the rows a shrunk sidecar un-hides
    *     (read by positional join, only affected files);
    *   - the two sides full-outer-join on `key`: only-new → insert,
    *     only-old → delete, both with a changed payload → update —
    *     so a merge-on-read update (old row masked, post-image in a
    *     delta file) yields both images — and both with an IDENTICAL
    *     payload are dropped, which is exactly why a pure compaction
    *     or Z-order rewrite emits an EMPTY feed (physical motion is
    *     not change).
    *
    * Assumes `key` is unique per version (the table-layer contract
    * everywhere else — CoW merge joins on it). */
  def changeFeedStep(s: SparkSession, root: String, v: Long,
                     key: String = "doc_id"): DataFrame = {
    require(v >= 1, s"version step needs v >= 1, got $v")
    val m0 = manifestOf(root, v - 1)
    val m1 = manifestOf(root, v)
    val d0 = dvOf(root, v - 1)
    val d1 = dvOf(root, v)
    val e0 = eqDelOf(root, v - 1)
    val e1 = eqDelOf(root, v)
    val f0 = dirRows(s, m0).strings("file")
    val f1 = dirRows(s, m1).strings("file")
    val (set0, set1) = (f0.toSet, f1.toSet)
    val removed = boundedFiles(s, f0.iterator.filterNot(set1).distinct,
      s"change-feed removed files of v$v")
    val added = boundedFiles(s, f1.iterator.filterNot(set0).distinct,
      s"change-feed added files of v$v")
    // template for empty frames + the payload column list
    val schemaRow = readVersion(s, m1).limit(0)
    val cols = schemaRow.columns.toIndexedSeq
    val payloadCols = cols.filterNot(_ == key)
    // "live" means visible under BOTH sidecar kinds of the respective
    // side — rows an equality delete already hid must not re-emit
    // when a later commit folds them into positions or rewrites their
    // file away (the consumer saw their delete at the eqdel commit)
    def readLive(mf: String, files: Seq[String], dv: Option[String],
                 eq: Option[String]): DataFrame =
      if (files.isEmpty) schemaRow
      else applyEqDel(s, applyDv(s, readFiles(s, mf, files), dv), eq)
        .select(cols.map(col): _*)
    // 1. DV delta on carried files, BOTH directions. Growth (in d1,
    // not d0) hides rows: the old side. Shrink (in d0, not d1) UN-hides
    // rows: the new side — the restoreVersion case: rolling back a
    // DV-delete commit leaves the file set unchanged while the
    // sidecar shrinks (or vanishes entirely), and a feed that only
    // watched growth would emit nothing for the resurrected rows,
    // silently diverging every consumer tailing across the restore.
    // Restricting positions to carried files makes the
    // vanished-sidecar ambiguity safe: a REWRITE that drops its DVs
    // also replaces the files (nothing carried → empty delta), while a
    // restore keeps the files (carried → full shrink emitted).
    val carried = set0 intersect set1
    def dvPositions(dv: Option[String]): Set[(String, Long)] =
      dv.map { d =>
        val m = dirRows(s, d)
        m.strings("file").zip(m.longs("pos")).toSet
      }.getOrElse(Set.empty)
    def dvSide(mf: String, tag: String, delta: Set[(String, Long)],
               eq: Option[String]): DataFrame = {
      // `eq` screens out rows the respective side's equality deletes
      // already hide: a FOLD grows the DV by exactly the eq-hidden
      // positions (their deletes were emitted at the eqdel commit),
      // and rolling a fold back re-hides the resurrected positions
      // behind the restored eq sidecar — both must emit NOTHING.
      val onCarried = delta.filter(p => carried(p._1)).toSeq
      val files = boundedFiles(s, onCarried.iterator.map(_._1).distinct,
        s"change-feed DV-$tag files of v$v")
      if (files.isEmpty) schemaRow
      else {
        applyEqDel(s, byPosition(readFiles(s, mf, files),
          s.createDataFrame(onCarried).toDF("file", "pos"), "left_semi")
          .select(cols.map(col): _*), eq)
      }
    }
    val (p0, p1) = (dvPositions(d0), dvPositions(d1))
    val dvHidden = dvSide(m1, "grow", p1 -- p0, e0)
    val dvShown = dvSide(m0, "shrink", p0 -- p1, e1)
    // 1c. equality-delete delta, both directions (the DV rule applied
    // to key-valued sidecars). Growth hides live rows → deletes;
    // shrink — a RESTORE rolling back an eqdel commit — un-hides
    // them → inserts. A key's row set is read at THIS version's
    // files+DV (an eqdel commit touches neither), which costs a scan
    // of the table, not of the delta — the read-side price equality
    // deletes defer by design; feed consumers on eqdel-heavy chains
    // should compact first. A grow key is by definition absent from
    // e0 (and shrink from e1), so no further cross-screen is needed.
    def eqRows(dir: Option[String]): Option[DataFrame] =
      dir.map(immutableParquet(s, _))
    val (eqGrowKeys, eqShrinkKeys): (Option[DataFrame], Option[DataFrame]) =
      if (e0 == e1) (None, None)
      else {
        val g = (eqRows(e0), eqRows(e1)) match {
          case (_, None) => None
          case (None, Some(b)) => Some(b)
          case (Some(a), Some(b)) => Some(b.except(a))
        }
        val sh = (eqRows(e0), eqRows(e1)) match {
          case (None, _) => None
          case (Some(a), None) => Some(a)
          case (Some(a), Some(b)) => Some(a.except(b))
        }
        (g, sh)
      }
    def eqSideRows(keysOpt: Option[DataFrame]): DataFrame =
      keysOpt match {
        case None => schemaRow
        case Some(keys) =>
          readVersionWithDv(s, m1, d1)
            .join(keys, keys.columns.toIndexedSeq, "left_semi")
            .select(cols.map(col): _*)
      }
    val eqDeletes = eqSideRows(eqGrowKeys)
    val eqInserts = eqSideRows(eqShrinkKeys)
    // 2. old-vs-new key diff (bounded by the commit's own files and
    // sidecar delta)
    val oldS = readLive(m0, removed, d0, e0).unionByName(dvHidden)
      .select(col(key).as("__k"),
        struct(payloadCols.map(col): _*).as("__old"))
    val newS = readLive(m1, added, d1, e1).unionByName(dvShown)
      .select(col(key).as("__k"),
        struct(payloadCols.map(col): _*).as("__new"))
    val joined = oldS.join(newS, Seq("__k"), "full_outer")
    def emit(opName: String, img: String) = joined
      .filter(opName match {
        case "insert" => col("__old").isNull && col("__new").isNotNull
        case "delete" => col("__new").isNull && col("__old").isNotNull
        case _ => col("__old").isNotNull && col("__new").isNotNull &&
          !(col("__old") <=> col("__new"))
      })
      .select(lit(opName).as("op") +: col("__k").as(key) +:
        payloadCols.map(c => col(s"$img.$c").as(c)): _*)
    val keyDiff = emit("insert", "__new")
      .unionByName(emit("update_preimage", "__old"))
      .unionByName(emit("update_postimage", "__new"))
      .unionByName(emit("delete", "__old"))
    eqDeletes.withColumn("op", lit("delete"))
      .select("op", cols: _*)
      .unionByName(eqInserts.withColumn("op", lit("insert"))
        .select("op", cols: _*))
      .unionByName(keyDiff)
      .withColumn("version", lit(v))
  }

  /** Change feed over a version RANGE (fromV, toV]: the union of the
    * per-step feeds, each stamped with its version. Driver cost is
    * O(steps) metadata reads; data cost stays the sum of the steps'
    * touched files. An incremental consumer tails the chain with
    * `changeFeed(s, root, lastSeen, currentVersion(s, root))`. */
  def changeFeed(s: SparkSession, root: String, fromV: Long, toV: Long,
                 key: String = "doc_id"): DataFrame = {
    require(0 <= fromV && fromV < toV,
      s"need 0 <= fromV < toV, got ($fromV, $toV]")
    (fromV + 1 to toV).map(v => changeFeedStep(s, root, v, key))
      .reduce(_ unionByName _)
  }

  // ------------------------------------------------ CHECK constraints

  /** Register a named CHECK constraint (Delta `ADD CONSTRAINT`
    * analogue): a SQL boolean expression every row of every LATER
    * commit's NEWLY WRITTEN data must satisfy. Enforcement is at the
    * cheapest correct point — the rewritten/inserted files of a CoW
    * merge (untouched files were validated when THEY were written,
    * and a DV delete writes no rows) — so the cost is O(new rows) per
    * commit, never a table scan. Existing data is NOT retro-checked
    * (Delta's rule: adding a constraint validates the table; here the
    * caller opts in via [[validateConstraints]] when wanted). */
  def addConstraint(root: String, name: String, sqlExpr: String): Unit = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit ||
      c == '.' || c == '_' || c == '-'),
      s"constraint name must be [A-Za-z0-9._-]+, got '$name'")
    require(ChainStorage.forPath(root)
        .putIfAbsent(s"$root/_constraints/$name", sqlExpr),
      s"constraint '$name' already exists; drop it first")
  }

  def dropConstraint(root: String, name: String): Boolean =
    ChainStorage.forPath(root).deleteFile(s"$root/_constraints/$name")

  def listConstraints(root: String): Map[String, String] = {
    val st = ChainStorage.forPath(root)
    val dir = s"$root/_constraints"
    st.list(dir).filter(n => st.isFile(s"$dir/$n"))
      .map(n => n -> st.read(s"$dir/$n")).toMap
  }

  /** Enforce every registered constraint over `rows`; throws naming
    * the violated constraint and a sample offending row. `rows` is
    * built only when a constraint is registered. */
  private[sources] def enforceConstraints(root: String,
                                          rows: => DataFrame): Unit =
    listConstraints(root).toSeq.sortBy(_._1).foreach { case (name, e) =>
      val bad = rows.filter(!expr(e)).limit(1).collect()
      if (bad.nonEmpty)
        throw new IllegalStateException(
          s"CHECK constraint '$name' ($e) violated by written row: " +
            bad.head.toString)
    }

  /** Full-table validation (the opt-in retro-check when a constraint
    * is added over existing data). */
  def validateConstraints(s: SparkSession, root: String,
                          version: Long): Unit =
    enforceConstraints(root, readCommitted(s, root, version))

  /** TABLE HISTORY (Iceberg snapshot-summary / Delta DESCRIBE HISTORY
    * analogue): one row per still-readable version with the planner
    * arithmetic a operator dashboard needs — physical row count
    * (manifest sums, no data read), DV-hidden count, live count, and
    * the commit KIND inferred from the chain itself: `base` (v0),
    * `dv-delete` (identical file set, sidecar grew) or `rewrite`
    * (file set changed: CoW merge / compaction / Z-order). Commit
    * wall-clock and marker note ride along for operators; they are
    * excluded from oracle gates (timestamps are nondeterministic).
    * Cost: O(versions) driver-held manifest reads — no Spark job,
    * never a data scan. */
  def describeHistory(s: SparkSession, root: String): DataFrame = {
    import s.implicits._
    val cur = currentVersion(s, root)
    // file SETS compare directly: every retained manifest's rows are
    // driver-held snapshot facts, so a history read runs no job
    var prevFiles: Option[Set[String]] = None
    var prevHidden = 0L
    val st = ChainStorage.forPath(root)
    val rows = (0L to cur).flatMap { v =>
      val mf = manifestOf(root, v)
      if (!st.isPublished(mf)) { prevFiles = None; None }
      else {
        val list = dirRows(s, mf).strings("file")
        val files = list.toSet
        val physical = physicalRows(s, mf)
        val hidden = dvOf(root, v)
          .map(dvHiddenCount(s, _)).getOrElse(0L)
        // kind from the chain shape alone: identical file set =
        // dv-delete; file set grown WITHOUT dropping a carried file =
        // the merge-on-read family (mor-merge when the sidecar also
        // grew — masked updates; append when it did not); anything
        // that replaced files = rewrite (CoW merge / compaction /
        // Z-order)
        val note0 = commitNote(root, v).getOrElse("")
        // notes are whitespace-separated tokens: a sink-cursor token
        // (tsink:<id>) can ride NEXT TO the kind token (eqdel), so the
        // classifier matches token-wise, not on the whole string
        val noteToks = note0.split("\\s+").toSet
        val kind = prevFiles match {
          case _ if v == 0L => "base"
          case None => "base"
          case _ if note0.startsWith("restore:") => "restore"
          case Some(prev) if files == prev =>
            if (note0.startsWith("spec:")) "evolve-spec"
            else if (note0.startsWith("schema:")) "evolve-schema"
            else if (noteToks.contains("eqdel-fold")) "eqdel-fold"
            else if (noteToks.contains("eqdel") ||
              noteToks.exists(_.startsWith("eqdel:")))
              "eq-delete"
            else "dv-delete"
          case Some(prev) if prev.subsetOf(files) =>
            if (hidden > prevHidden) "mor-merge" else "append"
          case _ => "rewrite"
        }
        prevFiles = Some(files)
        prevHidden = hidden
        Some((v, kind, list.size.toLong, physical, hidden,
          physical - hidden, commitTimeMs(root, v).getOrElse(0L), note0))
      }
    }
    rows.toDF("version", "kind", "n_files", "physical_rows",
      "hidden_rows", "live_rows", "committed_at_ms", "note")
  }

  /** REPLICATE a feed range onto a second chain — the feed as a
    * replication transport (Delta's CDF-driven mirror): each source
    * step's images are applied to the replica as delete-then-insert
    * (pre-image keys and delete keys via one DV-delete commit;
    * post-images and inserts via one insert-only CoW commit), so
    * replication works for ANY column change, costs O(changed rows)
    * per step, and the replica's own chain stays a first-class
    * versioned table (taggable, travel-able, vacuum-able). The
    * replica converges to the source HEAD state; its version numbers
    * are its own. */
  def replicateFeed(s: SparkSession, srcRoot: String, dstRoot: String,
                    fromV: Long, toV: Long,
                    key: String = "doc_id"): Unit =
    (fromV + 1 to toV).foreach { v =>
      applyImages(s, dstRoot, changeFeedStep(s, srcRoot, v, key), key)
    }

  /** Apply ONE feed step's images to a chain: pre-image/delete keys
    * as a DV-delete commit, insert/post-image rows as an insert-only
    * CoW commit (an update therefore lands as delete+insert) — the
    * shared applier behind [[replicateFeed]] and [[rebaseBranch]]. */
  private[graft] def applyImages(s: SparkSession, dstRoot: String,
                          step0: DataFrame, key: String): Unit = {
    val step = step0.localCheckpoint()
    val dels = step
      .filter(col("op").isin("delete", "update_preimage"))
      .select(key)
    if (dels.limit(1).count() > 0) dvDeleteCommit(s, dstRoot, dels, key)
    val ins = step
      .filter(col("op").isin("insert", "update_postimage"))
      .drop("op", "version")
    if (ins.limit(1).count() > 0)
      // the empty updates frame is derived from the INSERT schema
      // (any non-key column satisfies cowMergeFrom's SET contract),
      // so the applier works for any key and any table shape — no
      // hardcoded lang column
      cowMergeCommit(s, dstRoot, ins.limit(0), ins, key)
  }

  /** PUBLISH a prepared version: one atomic directory rename of the
    * writer-unique prepared manifest onto the canonical
    * `manifest_c<next>` name decides the race — exactly one of any
    * number of concurrently-preparing writers can win, because
    * rename-to-a-fresh-name is atomic and fails when the destination
    * exists. (The previous protocol prepared under the
    * version-DETERMINISTIC name, so two writers racing from one base
    * overwrote each other's prepared dirs BEFORE the CAS — the race
    * was only safe when serialized.) The marker is then created by
    * the rename winner for [[currentVersion]] discovery; a crash in
    * the window between rename and marker is recovered by the NEXT
    * writer, which finds the published manifest without its marker
    * and ADOPTS it (creates the marker) before retrying on top — a
    * fully-renamed manifest is complete by construction, so adoption
    * publishes nothing partial. Losers' prepared dirs are
    * unreferenced garbage for [[expireVersions]]. */
  private[graft] def publish(root: String, base: Long,
                             preparedManifest: String): Long = {
    val st = ChainStorage.forPath(root)
    val next = base + 1
    val canonical = manifestOf(root, next)
    if (st.publishDir(preparedManifest, canonical)) {
      require(tryCommit(root, next) ||
        st.isFile(markerPath(root, next)),
        s"marker write failed for committed version $next")
      next
    } else if (st.isPublished(canonical)) {
      if (!st.isFile(markerPath(root, next)))
        tryCommit(root, next) // adopt a publish-then-crash winner
      throw new java.util.ConcurrentModificationException(
        s"version $next already published by another writer " +
          s"(base was $base); re-plan against the new base")
    } else if (st.isPending(canonical)) {
      // an object-store publish is claim + copy + completeness rider:
      // another writer holds the claim and its copy is in flight —
      // a race, retryable like any lost CAS (never adopt: the marker
      // must not exist before the manifest is complete)
      throw new java.util.ConcurrentModificationException(
        s"version $next is being published by another writer " +
          s"(base was $base); re-plan against the new base")
    } else {
      // publish failed but nothing occupies the canonical name: this
      // is an IO/environment failure (EXDEV, permissions, vanished
      // prepared dir), not a race — retrying the same commit would
      // fail identically, so do not dress it as one
      throw new IllegalStateException(
        s"manifest publish failed for non-race reasons: " +
          s"$preparedManifest -> $canonical")
    }
  }

  /** Retries of a lost CAS before [[withCommitRetry]] gives up. */
  private val CommitRetries = 5

  /** Retry loop for optimistic commits: re-run `attempt` (which must
    * re-read the current version each time — all the *Commit methods
    * do) until it publishes, at most [[CommitRetries]] times after the
    * first try. */
  def withCommitRetry[T]()(attempt: () => T): T = {
    var tries = 0
    while (true) {
      try return attempt()
      catch {
        case e: java.util.ConcurrentModificationException =>
          tries += 1
          if (tries > CommitRetries) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private[graft] def prepareToken(): String =
    "u" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  /** [[cowMerge]] under the commit protocol: merges against the
    * CURRENT committed version (deletion vectors applied and carried
    * forward for untouched files), prepares under a writer-unique
    * name, and publishes atomically. Throws
    * ConcurrentModificationException if another writer published
    * first (caller retries against the new base — see
    * [[withCommitRetry]]). Returns the committed version number. */
  def cowMergeCommit(s: SparkSession, root: String, updates: DataFrame,
                     inserts: DataFrame,
                     key: String = "doc_id"): Long =
    mergeIntoCommit(s, root, updates, inserts, None, key)

  /** The full MERGE INTO face on the version chain: one committed
    * version applying WHEN MATCHED THEN UPDATE SET (every non-key
    * column of `updates` — any columns, not just lang), WHEN NOT
    * MATCHED THEN INSERT (`inserts`), and WHEN MATCHED [by `deletes`
    * keys] THEN DELETE, all in a single file-grain CoW rewrite with
    * the usual CAS publish. */
  def mergeIntoCommit(s: SparkSession, root: String, updates: DataFrame,
                      inserts: DataFrame,
                      deletes: Option[DataFrame] = None,
                      key: String = "doc_id"): Long = {
    val base = currentVersion(s, root)
    val tok = prepareToken()
    val (_, mf) = cowMergeFrom(s, root, manifestOf(root, base), updates,
      inserts, tok, deletes = deletes, baseDv = dvOf(root, base),
      key = key)
    publish(root, base, mf)
  }

  /** COMPACTION under the commit protocol — the maintenance step that
    * closes the deletion-vector lifecycle (delete cheaply → vectors
    * accumulate → compaction materializes them all at once): the
    * CURRENT version's LIVE rows (DVs applied) are rewritten into
    * `nFiles` range-clustered files and published as the next version
    * with NO sidecar and restored clustering. Whole-table rewrite is
    * the honest cost — it is paid ONCE per maintenance window instead
    * of per delete, which is the entire economics of merge-on-read.
    * Returns the committed version. */
  def compactCommit(s: SparkSession, root: String, nFiles: Int): Long = {
    val base = currentVersion(s, root)
    val tok = prepareToken()
    val dataDir = s"$root/data_$tok"
    // compaction is where an evolved clustering spec physically lands:
    // the rewrite clusters and stats by the CURRENT spec's columns —
    // and a bucketed chain stays bucketed (files split per bucket id,
    // range-clustered within), so the SPJ surface survives compaction
    val spec = specOfVersion(root, base)
    val live = readCommitted(s, root, base)
    SpjBucket.bucketingOf(root)
      .filter { case (k, _) => live.columns.contains(k) } match {
      case Some((key, n)) =>
        live.withColumn("__bp", SpjBucket.bucketCol(key, n))
          .repartitionByRange(nFiles,
            (col("__bp") +: spec.clusterCols.map(col)): _*)
          .write.partitionBy("__bp").mode("overwrite").parquet(dataDir)
        SpjBucket.bucketStatsManifest(s, dataDir, key, n,
          spec.statsCol, spec.id, statsPolicyOf(root))
          .write.mode("overwrite").parquet(s"$root/manifest_$tok")
      case None =>
        live.repartitionByRange(nFiles, spec.clusterCols.map(col): _*)
          .write.mode("overwrite").parquet(dataDir)
        statsManifest(s, dataDir, spec.statsCol, spec.id,
          statsPolicyOf(root))
          .write.mode("overwrite").parquet(s"$root/manifest_$tok")
    }
    carrySpecPointer(root, manifestOf(root, base), s"$root/manifest_$tok")
    publish(root, base, s"$root/manifest_$tok")
  }

  /** GROUP-CONSTANT REWRITE: recluster the chain so every data file
    * holds exactly ONE value of `groupCol` — the layout that arms
    * [[ChainSkip.planGroupAgg]]'s metadata-only GROUP BY on an
    * existing table. Constancy is guaranteed by CONSTRUCTION, not by
    * sampling: the write partitions by a derived `__gp` path key
    * (md5 of the value, so arbitrary strings stay path-safe; the
    * REAL column remains in the file data, only the key rides the
    * directory name — the same trick bucketed compaction plays with
    * `__bp`), so a file physically cannot mix groups. File sizing is
    * skew-natural: range-partitioning on (__gp, cluster cols) spreads
    * a giant group over many tasks, each of which writes its own
    * single-group file — no single-reducer hot spot at any group
    * skew. An md5 collision would merely merge two groups into one
    * DIRECTORY (files still single-group unless the values collide
    * within one task's range); if constancy is ever lost the GROUP
    * BY plan simply refuses — correctness never depends on it.
    * Like compaction this materializes DVs/eq-deletes; unlike it the
    * declared clustering spec is unchanged (min/max stats still its
    * column). Declared SPJ bucketing does not compose yet — refused
    * loudly rather than silently dropping the bucket layout. */
  def rewriteGroupedCommit(s: SparkSession, root: String,
                           groupCol: String, nFiles: Int): Long = {
    require(SpjBucket.bucketingOf(root).isEmpty,
      s"rewrite_grouped does not compose with declared bucketing " +
        s"yet — drop the bucket property first")
    val base = currentVersion(s, root)
    val tok = prepareToken()
    val dataDir = s"$root/data_$tok"
    val spec = specOfVersion(root, base)
    val live = readCommitted(s, root, base)
    require(live.columns.contains(groupCol),
      s"no such column to group by: $groupCol")
    live.withColumn("__gp", md5(col(groupCol).cast("string")))
      .repartitionByRange(nFiles,
        (col("__gp") +: spec.clusterCols.map(col)): _*)
      .write.partitionBy("__gp").mode("overwrite").parquet(dataDir)
    statsManifest(s, dataDir, spec.statsCol, spec.id,
      statsPolicyOf(root))
      .write.mode("overwrite").parquet(s"$root/manifest_$tok")
    carrySpecPointer(root, manifestOf(root, base),
      s"$root/manifest_$tok")
    publish(root, base, s"$root/manifest_$tok")
  }

  /** [[dvDeleteFrom]] under the commit protocol: records the delete
    * against the CURRENT committed version and publishes the next one
    * through the same rename-publish — merge-on-read and copy-on-write
    * commits interleave freely on one version chain. */
  def dvDeleteCommit(s: SparkSession, root: String,
                     deletes: DataFrame,
                     key: String = "doc_id"): Long = {
    val base = currentVersion(s, root)
    val tok = prepareToken()
    val (mf, _) = dvDeleteFrom(s, root, manifestOf(root, base),
      dvOf(root, base), deletes, tok, key)
    publish(root, base, mf)
  }

  /** [[morMergeFrom]] under the commit protocol — the merge-on-read
    * sibling of [[mergeIntoCommit]]: same MERGE INTO semantics, same
    * CAS publish, O(changed rows) write amplification instead of
    * O(hit files). Returns the committed version number. */
  def morMergeCommit(s: SparkSession, root: String, updates: DataFrame,
                     inserts: DataFrame,
                     deletes: Option[DataFrame] = None,
                     key: String = "doc_id"): Long = {
    val base = currentVersion(s, root)
    val tok = prepareToken()
    val (mf, _) = morMergeFrom(s, root, manifestOf(root, base),
      dvOf(root, base), updates, inserts, tok, deletes, key)
    publish(root, base, mf)
  }

  /** INSERT-only APPEND as a committed version — the O(new rows)
    * write a streaming sink's append mode needs: the batch lands as
    * one delta file set, the manifest is base ∪ delta stats, the DV
    * sidecar pointer carries VERBATIM (no existing file is touched,
    * nothing is masked — pure growth), and CHECK constraints run
    * over exactly the new rows. Accumulated EQUALITY deletes are
    * folded first (the every-data-commit rule): carrying them would
    * silently hide any appended row that reuses a deleted key —
    * Iceberg avoids that trap with per-file sequence numbers; this
    * chain keeps the one-fold-language rule instead, and the fold
    * costs nothing on the common (no-eqdel) append path. */
  def appendCommit(s: SparkSession, root: String,
                   rows: DataFrame): Long = {
    val base = currentVersion(s, root)
    val tok = prepareToken()
    val baseManifest = manifestOf(root, base)
    val effDv = foldEqDel(s, root, baseManifest, dvOf(root, base), tok)
    // a bucketed chain's appends stay bucketed (each delta file
    // wholly inside one bucket, its id in the manifest), so the
    // storage-partitioned-join surface survives SQL INSERTs
    val deltaStats = writeDelta(s, root, baseManifest, rows,
      s"$root/data_$tok")
    val mfV = s"$root/manifest_$tok"
    prepareManifest(s, root, baseManifest, Some(deltaStats), mfV)
    effDv.foreach(dv => writeDvPointer(root, mfV, dv))
    publish(root, base, mfV)
  }

  /** TRUE UPSERT of a full-row batch (the streaming sink's upsert
    * mode): matched keys take the batch row as their post-image
    * through the merge-on-read path (old row DV-masked, new row in
    * the delta — O(changed rows)), unmatched keys insert. One
    * committed version per call. */
  def upsertCommit(s: SparkSession, root: String, batch: DataFrame,
                   key: String = "doc_id"): Long = {
    val base = currentVersion(s, root)
    val tok = prepareToken()
    val existing = readCommitted(s, root, base).select(key)
    val inserts = batch.join(existing, Seq(key), "left_anti")
    val (mf, _) = morMergeFrom(s, root, manifestOf(root, base),
      dvOf(root, base), batch, inserts, tok, None, key)
    publish(root, base, mf)
  }

  /** DELETE WHERE <predicate> as a merge-on-read commit — the SQL
    * face's delete primitive ([[GraftCatalogTable]] routes
    * `DELETE FROM graft.db.t WHERE …` here): the positions of every
    * LIVE row matching `cond` join the DV sidecar, no data file is
    * touched. Generalizes [[dvDeleteCommit]] from key-join planning
    * to arbitrary predicate planning; one table scan at commit (the
    * position-planning read every positional delete pays), sidecar
    * growth O(matching rows). */
  def dvDeleteWhereCommit(s: SparkSession, root: String,
                          cond: org.apache.spark.sql.Column,
                          planKeys: Map[String, Seq[Long]] = Map.empty)
      : Long = {
    val base = currentVersion(s, root)
    val tok = prepareToken()
    val baseManifest = manifestOf(root, base)
    val effDv = foldEqDel(s, root, baseManifest, dvOf(root, base), tok)
    // GDPR-scale point deletes: when the condition implies a finite
    // key set on a bloom-indexed column (planKeys — the SQL face
    // extracts it from the pushed predicates), the position-planning
    // scan reads only the sketch-matched files instead of the table
    // (false negatives impossible, so every doomed row's file is in
    // the plan); the FULL condition still decides each row. A version
    // without an index for the key column plans the whole table.
    val indexedKeys = BloomIndex.indexOf(root, base)
      .flatMap(BloomIndex.indexedColumn)
      .flatMap(c => planKeys.get(c).filter(_.nonEmpty))
    val scanBase = indexedKeys.map { ks =>
      val files = BloomIndex.planFiles(s, root, base, ks)
      if (files.isEmpty)
        readVersion(s, baseManifest).limit(0)
      else applyDv(s, readFiles(s, baseManifest, files), effDv)
    }.getOrElse(readVersionWithDv(s, baseManifest, effDv))
    val dvV = writeDv(s, effDv, positions(scanBase.filter(cond)),
      s"$root/dv_$tok")
    val mfV = s"$root/manifest_$tok"
    prepareManifest(s, root, baseManifest, None, mfV)
    writeDvPointer(root, mfV, dvV)
    publish(root, base, mfV)
  }

  /** REPLACE the table's contents with `rows` as one committed
    * version (INSERT OVERWRITE / the SQL face's truncate-and-load):
    * the new manifest references ONLY the fresh delta — old files
    * become unreferenced by the new head (still readable via time
    * travel until expiry, the swap-by-path rule). Refuses an empty
    * batch: an all-rows delete is expressed by [[dvDeleteWhereCommit]]
    * (the chain cannot represent a file-less version). */
  def replaceCommit(s: SparkSession, root: String,
                    rows: DataFrame): Long = {
    val base = currentVersion(s, root)
    val tok = prepareToken()
    val baseManifest = manifestOf(root, base)
    require(rows.limit(1).count() > 0,
      "INSERT OVERWRITE with zero rows — an empty table cannot be " +
        "represented by a replaced version; DELETE WHERE true instead")
    val newStats = writeDelta(s, root, baseManifest, rows,
      s"$root/data_$tok")
    val mfV = s"$root/manifest_$tok"
    newStats.write.mode("overwrite").parquet(mfV)
    carrySpecPointer(root, baseManifest, mfV)
    val v = publish(root, base, mfV)
    noteCommit(root, v, "replace")
    v
  }

  /** ONE row-level-operation commit (the SQL MERGE INTO / UPDATE
    * landing, [[GraftDeltaWrite]]): already-planned delete POSITIONS
    * fold into the DV sidecar and post-image/insert rows land as one
    * delta file — morMergeFrom's economics with the planning done by
    * Spark's row-level rewrite. `expectedBase` is the snapshot the
    * command's scan read; a chain that advanced since fails with the
    * retryable conflict (positions reference the old version's files
    * — committing them on a new base could mask the wrong rows). */
  def deltaCommit(s: SparkSession, root: String, expectedBase: Long,
                  positions: Option[DataFrame],
                  newRows: Option[DataFrame], note: String): Long = {
    val base = currentVersion(s, root)
    if (base != expectedBase)
      throw new java.util.ConcurrentModificationException(
        s"table advanced (v$expectedBase -> v$base) during the " +
          "row-level operation; re-run the command")
    val tok = prepareToken()
    val baseManifest = manifestOf(root, base)
    val effDv = foldEqDel(s, root, baseManifest, dvOf(root, base), tok)
    val mfV = s"$root/manifest_$tok"
    val stats = newRows.filter(_.limit(1).count() > 0)
      .map(writeDelta(s, root, baseManifest, _, s"$root/data_$tok"))
    prepareManifest(s, root, baseManifest, stats, mfV)
    // no new position keeps the (folded) base sidecar as it is
    positions.filter(_.limit(1).count() > 0)
      .map(writeDv(s, effDv, _, s"$root/dv_$tok")).orElse(effDv)
      .foreach(writeDvPointer(root, mfV, _))
    val v = publish(root, base, mfV)
    noteCommit(root, v, note)
    v
  }

  /** The CAS primitive: atomic PUT-if-absent of the commit marker
    * ([[ChainStorage.putIfAbsent]] — exactly one writer of `version`
    * succeeds; conditional PUT on object stores, createNewFile
    * locally). The marker CONTENT carries the commit timestamp
    * (`ts=<millis>`), stamped strictly monotonic — max(now,
    * predecessor + 1) — so the time-travel timeline is protocol
    * content, independent of filesystem mtime existence or
    * granularity. */
  def tryCommit(root: String, version: Long): Boolean = {
    val st = ChainStorage.forPath(root)
    val ts = math.max(st.nowMs(),
      commitTimeMs(root, version - 1).getOrElse(0L) + 1)
    st.putIfAbsent(markerPath(root, version), s"ts=$ts\n")
  }

  def markerPath(root: String, version: Long): String =
    s"$root/_commits/$version"

  /** Attach a note (e.g. the source batch id) to a committed marker —
    * written AFTER the CAS; the marker's existence is the commit, the
    * note is idempotency metadata for the writer that owns it. The
    * embedded `ts=` line is PRESERVED (the timeline lives in the
    * marker). */
  def noteCommit(root: String, version: Long, note: String): Unit = {
    val st = ChainStorage.forPath(root)
    val mp = markerPath(root, version)
    val ts = if (st.isFile(mp)) parseTs(st.read(mp)) else None
    st.write(mp, ts.map(t => s"ts=$t\n").getOrElse("") + note)
  }

  def commitNote(root: String, version: Long): Option[String] = {
    val st = ChainStorage.forPath(root)
    val mp = markerPath(root, version)
    if (st.isFile(mp)) {
      val c = st.read(mp).linesIterator
        .filterNot(_.startsWith("ts=")).mkString("\n").trim
      if (c.nonEmpty) Some(c) else None
    } else None
  }

  // -------------------------------------- clustering-spec evolution

  /** A clustering specification: `statsCol` is the skip column whose
    * min/max the manifest records per file, `clusterCols` the
    * repartitionByRange keys maintenance rewrites use. Spec 0 is the
    * implicit default every chain starts under. */
  case class ClusterSpec(id: Int, statsCol: String,
                         clusterCols: Seq[String])

  val DefaultSpec: ClusterSpec =
    ClusterSpec(0, "n_chars", Seq("n_chars", "doc_id"))

  /** All registered specs of a chain (spec 0 always present). */
  def listSpecs(root: String): Map[Int, ClusterSpec] = {
    val st = ChainStorage.forPath(root)
    val dir = s"$root/_specs"
    val extra = st.list(dir).filter(n => st.isFile(s"$dir/$n")).map { n =>
      val id = n.toInt
      val parts = st.read(s"$dir/$n").trim.split("\\|")
      id -> ClusterSpec(id, parts(0),
        parts(1).split(",").toSeq.filter(_.nonEmpty))
    }.toMap
    extra + (0 -> DefaultSpec)
  }

  /** The spec a committed manifest's NEW files are written under: the
    * `_spec` pointer inside the manifest dir (carried forward by
    * every writer, copied whole by restore/branch), default spec 0. */
  def specOfManifest(root: String, manifestDir: String): ClusterSpec = {
    val st = ChainStorage.forPath(root)
    val p = s"$manifestDir/_spec"
    if (!st.isFile(p)) DefaultSpec
    else listSpecs(root)(st.read(p).trim.toInt)
  }

  /** Spec of a committed version. */
  def specOfVersion(root: String, version: Long): ClusterSpec =
    specOfManifest(root, manifestOf(root, version))

  private def writeSpecPointer(manifestDir: String, id: Int): Unit =
    ChainStorage.forPath(manifestDir).write(s"$manifestDir/_spec",
      s"$id\n")

  /** Carry the base version's spec AND declared-schema pointers into
    * a freshly-written manifest dir — the writer-side half of "the
    * current spec/schema applies until evolved". One carry point
    * serves every commit path. */
  private def carrySpecPointer(root: String, baseManifest: String,
                               newManifest: String): Unit = {
    val st = ChainStorage.forPath(root)
    if (st.isFile(s"$baseManifest/_spec"))
      st.write(s"$newManifest/_spec", st.read(s"$baseManifest/_spec"))
    if (st.isFile(s"$baseManifest/_schema"))
      st.write(s"$newManifest/_schema",
        st.read(s"$baseManifest/_schema"))
  }

  // ---------------------------------------------- declared schema

  /** The DECLARED schema of a committed manifest, when the chain has
    * evolved one (ALTER TABLE ADD COLUMN): the `_schema` pointer
    * inside the manifest dir names a `_schemas/<id>` registry object
    * holding the full StructType JSON — Iceberg's schema-in-metadata
    * stance, so resolution is O(1) metadata and NEVER a footer sweep
    * (mergeSchema over a 100 TB table's footers is the trap this
    * avoids). Absent pointer = the files' own footer schema, the
    * pre-evolution behavior. The root is the manifest dir's parent
    * (manifest dirs are always direct children of the chain root). */
  def schemaOfManifest(manifestDir: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    val root = manifestDir.substring(0, manifestDir.lastIndexOf('/'))
    val st = ChainStorage.forPath(root)
    val p = s"$manifestDir/_schema"
    if (!st.isFile(p)) None
    // line 1 = the StructType JSON; line 2 (optional) = the chain's
    // cumulative RETIRED column names (see registerSchema)
    else Some(org.apache.spark.sql.types.DataType
      .fromJson(st.read(s"$root/_schemas/${st.read(p).trim}")
        .linesIterator.next())
      .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** Schema of a committed version WITHOUT resolving a multi-file
    * relation: the declared schema when the chain has one (O(1)
    * metadata — Iceberg's schema-in-metadata stance; DDL-created
    * chains carry it from birth), otherwise ONE data file's footer
    * (every chain writer pins column order to the table's, so any
    * file's footer IS the table's schema). `loadTable` resolution
    * therefore never lists or existence-checks the version's file
    * set — at 100k files the difference between O(1) and a driver
    * sweep per query. */
  def schemaOfVersion(s: SparkSession, root: String, version: Long)
      : org.apache.spark.sql.types.StructType = {
    val mf = manifestOf(root, version)
    schemaOfManifest(mf).getOrElse(dataSchema(s, mf))
  }

  /** The footer schema of a manifest's first data file (by path) — a
    * snapshot fact: every chain writer pins column order to the
    * table's, so any file's footer IS the table's schema, which is
    * also what Spark's own inference reads (one part file's footer). */
  private def dataSchema(s: SparkSession, manifestDir: String)
      : org.apache.spark.sql.types.StructType =
    dirFact(manifestDir, "dataSchema") {
      val files = dirRows(s, manifestDir).strings("file")
      require(files.nonEmpty, s"manifest $manifestDir names no file")
      fileSchema(s, files.min)
    }



  /** Metadata key carrying a renamed column's PRIOR physical names,
    * newest first — files written before rename N still hold the
    * column under names earlier in this list, and every read path
    * resolves by first-present name (coalesce semantics). */
  val PriorNamesKey = "graft.priorNames"

  /** The prior physical names of a (possibly renamed) declared field,
    * newest first; empty for never-renamed columns. */
  def priorNamesOf(f: org.apache.spark.sql.types.StructField)
      : Seq[String] =
    if (f.metadata.contains(PriorNamesKey))
      f.metadata.getStringArray(PriorNamesKey).toIndexedSeq
    else Seq.empty

  /** logical name → prior physical names (newest first) for every
    * renamed column of a manifest's declared schema — the executor-
    * side by-name decode's fallback order. Empty when the version
    * has no renames. */
  def priorNameMap(manifestDir: String): Map[String, Seq[String]] =
    schemaOfManifest(manifestDir).map(_.fields.iterator
      .map(f => f.name -> priorNamesOf(f))
      .filter(_._2.nonEmpty).toMap).getOrElse(Map.empty)

  /** Every column name this chain has EVER used — declared, prior
    * (pre-rename), and retired (dropped): the no-recycling set. ADD
    * and RENAME targets must avoid it, because old data files still
    * carry values under those names and a by-name read of a recycled
    * name would surface STALE data instead of nulls (the hazard
    * Iceberg prevents with field ids; this layer prevents it by
    * prohibition). */
  def historicalNames(root: String,
                      declared: org.apache.spark.sql.types.StructType)
      : Set[String] = {
    val st = ChainStorage.forPath(root)
    val retired = st.list(s"$root/_schemas")
      .filter(_.forall(_.isDigit)).map(_.toInt).sorted.lastOption
      .toSeq.flatMap { id =>
        st.read(s"$root/_schemas/$id").linesIterator.drop(1)
          .toSeq.headOption.toSeq.flatMap(_.split(","))
          .map(_.trim).filter(_.nonEmpty)
      }
    (declared.fields.flatMap(f => f.name +: priorNamesOf(f)) ++
      retired).map(_.toLowerCase).toSet
  }

  /** Register an evolved declared schema + publish it as a METADATA-
    * ONLY commit (same file set, a `_schema` pointer): the shared
    * tail of ADD/DROP/RENAME COLUMN. `retiring` extends the chain's
    * cumulative retired-name set (carried as line 2 of the registry
    * object so no-recycling survives any sequence of evolutions). */
  private def registerSchemaCommit(
      s: SparkSession, root: String, base: Long,
      declared: org.apache.spark.sql.types.StructType,
      evolved: org.apache.spark.sql.types.StructType,
      retiring: Seq[String]): Long = {
    val st = ChainStorage.forPath(root)
    val cumulative = (historicalNames(root, declared) ++
      retiring.map(_.toLowerCase)).toSeq.sorted
    val id = (st.list(s"$root/_schemas")
      .filter(_.forall(_.isDigit)).map(_.toInt) :+ 0).max + 1
    require(st.putIfAbsent(s"$root/_schemas/$id",
        evolved.json + "\n" + cumulative.mkString(",") + "\n"),
      s"schema id $id already registered (race)")
    val tok = prepareToken()
    val prepared = s"$root/manifest_$tok"
    copyDirFlat(root, manifestOf(root, base), prepared)
    st.write(s"$prepared/_schema", s"$id\n")
    val v = publish(root, base, prepared)
    noteCommit(root, v, s"schema:$id")
    v
  }

  /** Column names a chain-level change must not touch: the clustering
    * spec's columns, anything a CHECK constraint references
    * (conservative word-boundary match on the expression text), and
    * the key columns of LIVE equality-delete sidecars (whose erasure
    * semantics match data columns BY NAME — fold them first). */
  private def protectedColumnReasons(root: String, base: Long,
                                     name: String): Seq[String] = {
    val inEqDel = eqDelOf(root, base).toSeq.flatMap { eq =>
      val cols = footerSchema(SparkSession.active, eq).fieldNames
      if (cols.exists(_.equalsIgnoreCase(name)))
        Seq(s"live equality-delete sidecar keys on '$name' — fold " +
          "the deletes first (compactCommit, or any data-touching " +
          "commit under the auto-fold policy)")
      else Seq.empty
    }
    inEqDel ++ protectedBySpecOrConstraint(root, base, name)
  }

  private def protectedBySpecOrConstraint(root: String, base: Long,
                                          name: String): Seq[String] = {
    val spec = specOfVersion(root, base)
    val inSpec =
      if ((spec.statsCol +: spec.clusterCols)
          .exists(_.equalsIgnoreCase(name)))
        Seq(s"clustering spec ${spec.id} uses '$name' — evolve the " +
          "spec first (evolveClustering)")
      else Seq.empty
    val rx = ("(?i)\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
    val inConstraints = listConstraints(root).collect {
      case (n, expr) if rx.findFirstIn(expr).isDefined =>
        s"constraint '$n' references '$name' — drop it first"
    }
    inSpec ++ inConstraints.toSeq
  }

  /** ALTER TABLE DROP COLUMN as a METADATA-ONLY commit: the declared
    * schema loses the fields; no file is touched — by-name reads
    * simply stop projecting the physical column (Delta's
    * drop-without-rewrite economics). The dropped names (and any
    * prior names they carried) join the retired set, so they can
    * never be re-added — old files still hold their VALUES, and a
    * recycled name would resurrect them as stale data. Spec and
    * constraint columns are protected. Returns the committed
    * version. */
  def dropColumns(s: SparkSession, root: String,
                  names: Seq[String]): Long = {
    val base = currentVersion(s, root)
    val declared = schemaOfManifest(manifestOf(root, base))
      .getOrElse(readVersion(s, manifestOf(root, base)).schema)
    val missing = names.filterNot(n =>
      declared.fieldNames.exists(_.equalsIgnoreCase(n)))
    require(missing.isEmpty,
      s"cannot drop missing column(s) ${missing.mkString(", ")}")
    require(names.length < declared.fields.length,
      "cannot drop every column of the table")
    val blocked = names.flatMap(protectedColumnReasons(root, base, _))
    require(blocked.isEmpty, blocked.mkString("; "))
    val lower = names.map(_.toLowerCase).toSet
    val (goneF, keptF) = declared.fields.partition(
      f => lower.contains(f.name.toLowerCase))
    registerSchemaCommit(s, root, base, declared,
      org.apache.spark.sql.types.StructType(keptF),
      goneF.toSeq.flatMap(f => f.name +: priorNamesOf(f)))
  }

  /** ALTER TABLE RENAME COLUMN as a METADATA-ONLY commit: the
    * declared field takes the new name and records the old one in
    * its [[PriorNamesKey]] metadata (newest first), so reads resolve
    * rows from files of EVERY generation — post-rename files carry
    * the new physical name, older files one of the priors, and the
    * read coalesces by first-present name. The new name must never
    * have been used on this chain (no-recycling, same stale-data
    * hazard as DROP). Returns the committed version. */
  def renameColumn(s: SparkSession, root: String,
                   from: String, to: String): Long = {
    val base = currentVersion(s, root)
    val declared = schemaOfManifest(manifestOf(root, base))
      .getOrElse(readVersion(s, manifestOf(root, base)).schema)
    require(declared.fieldNames.exists(_.equalsIgnoreCase(from)),
      s"no column '$from' to rename")
    require(to.nonEmpty && to.head.isLetter &&
      to.forall(c => c.isLetterOrDigit || c == '_'),
      s"invalid column name '$to'")
    require(!historicalNames(root, declared)
        .contains(to.toLowerCase),
      s"column name '$to' was already used on this chain (names are " +
        "never recycled: old data files still hold values under " +
        "historical names, and a by-name read of a recycled name " +
        "would surface stale data)")
    val blocked = protectedColumnReasons(root, base, from)
    require(blocked.isEmpty, blocked.mkString("; "))
    val evolved = org.apache.spark.sql.types.StructType(
      declared.fields.map { f =>
        if (!f.name.equalsIgnoreCase(from)) f
        else f.copy(name = to,
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putStringArray(PriorNamesKey,
              (f.name +: priorNamesOf(f)).toArray)
            .build())
      })
    registerSchemaCommit(s, root, base, declared, evolved,
      retiring = Seq(from))
  }

  /** ALTER TABLE ADD COLUMN as a METADATA-ONLY commit (Delta/Iceberg
    * add-nullable-column semantics): the widened schema registers
    * under `_schemas/<id>`, the new version publishes the SAME file
    * set with a `_schema` pointer, and from then on every read
    * resolves the declared schema — rows in files written before the
    * evolution surface the new columns as NULL (the executor decode
    * is by-name, [[GroupParquet.fieldValue]] → null when absent; the
    * driver read pins the declared schema so Spark's parquet reader
    * null-fills). New columns must be nullable — existing rows have
    * no value to give them. Returns the committed version. */
  def addColumns(s: SparkSession, root: String,
                 newCols: org.apache.spark.sql.types.StructType): Long = {
    val base = currentVersion(s, root)
    val baseManifest = manifestOf(root, base)
    val declared = schemaOfManifest(baseManifest)
      .getOrElse(readVersion(s, baseManifest).schema)
    val dup = newCols.fieldNames.filter(n =>
      historicalNames(root, declared).contains(n.toLowerCase))
    require(dup.isEmpty,
      s"column(s) ${dup.mkString(", ")} already exist (or once " +
        "existed) on this chain — names are never recycled: old data " +
        "files still hold values under historical names, and a " +
        "by-name read of a recycled name would surface stale data " +
        "instead of the NULLs an added column owes pre-evolution rows")
    require(newCols.fields.forall(_.nullable),
      "added columns must be nullable — existing rows predate them " +
        s"(non-nullable: ${newCols.fields.filterNot(_.nullable)
          .map(_.name).mkString(", ")})")
    registerSchemaCommit(s, root, base, declared,
      org.apache.spark.sql.types.StructType(
        declared.fields ++ newCols.fields),
      retiring = Seq.empty)
  }

  /** EVOLVE the chain's clustering spec — Iceberg partition-spec
    * evolution as a commit kind: registers the new spec and publishes
    * a METADATA-ONLY version (identical file set, a `_spec` pointer
    * inside the manifest) from which point NEW files cluster and
    * stat by the new columns while EXISTING files stay readable —
    * and prunable on their own recorded column — under the spec they
    * were written with ([[readRangeCommitted]] consults the per-file
    * `spec_id` tag). No data moves at evolution time; the next
    * [[compactCommit]] is what physically re-clusters, which is
    * exactly Iceberg's "rewrite to apply the new spec" economics.
    * Returns the committed version. */
  def evolveClustering(s: SparkSession, root: String, statsCol: String,
                       clusterCols: Seq[String]): Long = {
    val base = currentVersion(s, root)
    val cols = readVersion(s, manifestOf(root, base)).columns.toSet
    require((statsCol +: clusterCols).forall(cols.contains),
      s"spec columns ${(statsCol +: clusterCols).filterNot(cols.contains)
        .mkString(", ")} do not exist in the table")
    val st = ChainStorage.forPath(root)
    val id = listSpecs(root).keys.max + 1
    require(st.putIfAbsent(s"$root/_specs/$id",
        s"$statsCol|${clusterCols.mkString(",")}\n"),
      s"spec id $id already registered (race)")
    val tok = prepareToken()
    val prepared = s"$root/manifest_$tok"
    copyDirFlat(root, manifestOf(root, base), prepared)
    writeSpecPointer(prepared, id)
    val v = publish(root, base, prepared)
    noteCommit(root, v, s"spec:$id")
    v
  }

  /** Range-pruned read of a COMMITTED version on `colName`, correct
    * across spec evolution: a file prunes by its manifest min/max
    * ONLY if the spec it was written under stats that same column;
    * files written under other specs are always read (no stats to
    * prune on — the Iceberg old-spec behavior), and the exact
    * predicate is re-applied after the scan, so mixed-spec tables
    * trade I/O, never correctness. Deletion vectors apply as in every
    * committed read. */
  def readRangeCommitted(s: SparkSession, root: String, version: Long,
                         colName: String, lo: Long, hi: Long): DataFrame = {
    val files = planRangeCommitted(s, root, version, colName, lo, hi)
    val base =
      if (files.isEmpty) readVersion(s, manifestOf(root, version)).limit(0)
      else applyEqDel(s,
        applyDv(s, readFiles(s, manifestOf(root, version), files),
          dvOf(root, version)),
        eqDelOf(root, version))
    base.filter(col(colName) >= lo && col(colName) <= hi)
  }

  /** [[planRangeCommitted]] for ANY stats-column type whose Spark
    * ordering matches the manifest's min/max aggregation (strings:
    * UTF8 binary — the default collation; both the stats and the
    * comparison run through the same Catalyst ordering, so pruning
    * stays exact). `None` bound = unbounded on that side. */
  def planRangeCommittedAny(s: SparkSession, root: String,
                            version: Long, colName: String,
                            lo: Option[Any],
                            hi: Option[Any]): Seq[String] = {
    // Catalyst comparisons over the driver-held rows (a LocalRelation:
    // the filter and the collect run no job)
    val m0 = localFrame(s, manifestOf(root, version))
    val m =
      if (m0.columns.contains("spec_id"))
        m0.withColumn("spec_id", coalesce(col("spec_id"), lit(0)))
      else m0.withColumn("spec_id", lit(0))
    val prunable = listSpecs(root).collect {
      case (id, sp) if sp.statsCol == colName => id
    }.toSeq
    val overlap = Seq(
      hi.map(v => col("min_key") <= lit(v)),
      lo.map(v => col("max_key") >= lit(v))).flatten
      .reduceOption(_ && _).getOrElse(lit(true))
    collectFileList(s,
      m.filter((!col("spec_id").isInCollection(
          if (prunable.isEmpty) Seq(-1) else prunable)) || overlap)
        .select("file"),
      s"spec-aware range plan [$lo, $hi] on $colName")
  }

  /** The spec-aware file plan behind [[readRangeCommitted]] (public
    * so the pruning claim is assertable: planned ⊂ manifest for a
    * selective predicate on the spec's stats column). */
  def planRangeCommitted(s: SparkSession, root: String, version: Long,
                         colName: String, lo: Long,
                         hi: Long): Seq[String] = {
    val mf = manifestOf(root, version)
    val m = dirRows(s, mf)
    val integral = {
      import org.apache.spark.sql.types._
      Set[DataType](LongType, IntegerType, ShortType, ByteType)
        .contains(m.schema("min_key").dataType)
    }
    // non-integral stats (a string-statted spec in the chain's past):
    // Catalyst's own comparison rules decide, still over driver rows
    if (!integral)
      return planRangeCommittedAny(s, root, version, colName, Some(lo),
        Some(hi))
    val prunable = listSpecs(root).collect {
      case (id, sp) if sp.statsCol == colName => id
    }.toSet
    val iSpec = Some("spec_id").filter(m.has).map(m.schema.fieldIndex)
    val (iF, iLo, iHi) = (m.schema.fieldIndex("file"),
      m.schema.fieldIndex("min_key"), m.schema.fieldIndex("max_key"))
    boundedFiles(s, m.rows.iterator.filter { r =>
      val spec = iSpec.filterNot(r.isNullAt)
        .map(r.getAs[Number](_).intValue).getOrElse(0)
      !prunable(spec) || overlaps(r, iLo, iHi, lo, hi)
    }.map(_.getString(iF)),
      s"spec-aware range plan [$lo, $hi] on $colName")
  }

  // ------------------------------------------------------ named tags

  /** TAG a committed version under an immutable name (Iceberg refs):
    * `_refs/<name>` holds the version number. Tags are the retention
    * anchor — [[expireVersions]] NEVER expires a tagged version, so
    * "the corpus snapshot we trained run X on" survives any keepLast
    * while the untagged chain around it is vacuumed. Immutable by
    * PUT-if-absent (re-pointing a name is a delete + create, visible
    * in the audit trail as two operations). */
  def tagVersion(root: String, name: String, version: Long): Unit = {
    val st = ChainStorage.forPath(root)
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit ||
      c == '.' || c == '_' || c == '-'),
      s"tag name must be [A-Za-z0-9._-]+, got '$name'")
    require(version == 0L || st.isFile(markerPath(root, version)),
      s"cannot tag uncommitted version $version")
    require(st.isPublished(manifestOf(root, version)),
      s"cannot tag expired version $version")
    require(st.putIfAbsent(s"$root/_refs/$name", version.toString),
      s"tag '$name' already exists (tags are immutable; delete first)")
  }

  def taggedVersion(root: String, name: String): Option[Long] = {
    val st = ChainStorage.forPath(root)
    val f = s"$root/_refs/$name"
    if (st.isFile(f)) Some(st.read(f).trim.toLong) else None
  }

  def deleteTag(root: String, name: String): Boolean =
    ChainStorage.forPath(root).deleteFile(s"$root/_refs/$name")

  def listTags(root: String): Map[String, Long] = {
    val st = ChainStorage.forPath(root)
    val dir = s"$root/_refs"
    st.list(dir).filter(n => st.isFile(s"$dir/$n"))
      .map(n => n -> st.read(s"$dir/$n").trim.toLong).toMap
  }

  /** Read the table at a tagged version — the stable-name read face
    * (`readTagged(root, "train-v3")`) on top of [[readCommitted]]. */
  def readTagged(s: SparkSession, root: String, name: String): DataFrame =
    readCommitted(s, root, taggedVersion(root, name).getOrElse(
      throw new IllegalArgumentException(
        s"no tag '$name' under $root (tags: ${listTags(root).keys
          .toSeq.sorted.mkString(", ")})")))

  /** RESTORE an older version as the NEW head (Delta `RESTORE` /
    * Iceberg rollback): publishes a byte-copy of `version`'s manifest
    * as the next version through the normal CAS, so the rollback is
    * itself an auditable commit (history is never rewritten — the
    * bad versions stay readable until expiry). The copied `_dv`
    * pointer is carried VERBATIM: both versions then reference one
    * sidecar dir, which [[expireVersions]] must and does respect
    * (a sidecar is destroyed only when NO kept version references
    * it). Restoring an expired version fails cleanly. */
  def restoreVersion(s: SparkSession, root: String,
                     version: Long): Long = {
    val base = currentVersion(s, root)
    require(version < base,
      s"restore target must be an older version (head is $base, " +
        s"got $version)")
    require(ChainStorage.forPath(root)
        .isPublished(manifestOf(root, version)),
      s"cannot restore expired version $version — its manifests " +
        "were vacuumed (see expireVersions retention)")
    dvOf(root, version) // fail fast on a corrupt sidecar pointer
    eqDelOf(root, version) // (both kinds)
    val tok = prepareToken()
    val prepared = s"$root/manifest_$tok"
    copyDirFlat(root, manifestOf(root, version), prepared)
    val v = publish(root, base, prepared)
    noteCommit(root, v, s"restore:$version")
    v
  }

  // -------------------------------------------------- named branches

  /** Sub-root a branch's own version chain lives under. A branch IS a
    * root: every chain face (the *Commit writers, [[readCommitted]],
    * [[describeHistory]], [[changeFeed]], [[expireVersions]]) works on
    * it unchanged, because nothing in the protocol is special-cased
    * for branches — the fork manifest references the parent's data
    * files by absolute path (the same swap-by-path sharing CoW
    * versions already rely on), and branch commits write NEW files
    * under the branch root only. */
  def branchRoot(root: String, name: String): String =
    s"$root/_branches/$name"

  /** CREATE a writable branch at `fromVersion` (Iceberg branch refs /
    * the WAP staging area): the branch's version 0 is a byte-copy of
    * the fork manifest (plus its DV sidecar and the table's CHECK
    * constraints), so branch HEAD == fork state at creation and
    * O(cost) is manifest metadata, never data. PUT-if-absent by
    * `mkdirs` on the branch dir: exactly one creator of a name wins.
    *
    * Lifecycle contract: write/audit on the branch, [[fastForward]]
    * to publish, then [[compactCommit]] on main (rehomes live rows
    * into main-owned files) before [[dropBranch]]. Running
    * [[expireVersions]] on a branch AFTER it was fast-forwarded is
    * the same hazard as any external vacuum of shared files —
    * [[dropBranch]] is the guarded teardown. */
  def createBranch(s: SparkSession, root: String, name: String,
                   fromVersion: Long): String = {
    val st = ChainStorage.forPath(root)
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit ||
      c == '.' || c == '_' || c == '-'),
      s"branch name must be [A-Za-z0-9._-]+, got '$name'")
    require(fromVersion == 0L ||
      st.isFile(markerPath(root, fromVersion)),
      s"cannot branch from uncommitted version $fromVersion")
    val srcMf = manifestOf(root, fromVersion)
    require(st.isPublished(srcMf),
      s"cannot branch from expired version $fromVersion")
    val broot = branchRoot(root, name)
    require(st.mkdirsExclusive(broot),
      s"branch '$name' already exists under $root")
    copyDirFlat(root, srcMf, s"$broot/manifest")
    // carry the fork's deletion vectors: copy the sidecar under the
    // branch root with the SAME name the copied `_dv` pointer holds
    dvOf(root, fromVersion).foreach { dv =>
      copyDirFlat(root, dv, s"$broot/${baseName(dv)}")
    }
    // same rehoming for un-folded equality deletes at the fork
    eqDelOf(root, fromVersion).foreach { eq =>
      copyDirFlat(root, eq, s"$broot/${baseName(eq)}")
    }
    // branch writes obey the table's CHECK constraints
    if (st.isDir(s"$root/_constraints"))
      copyDirFlat(root, s"$root/_constraints", s"$broot/_constraints")
    st.write(s"$broot/_fork", s"$fromVersion\n")
    // the branch is its own chain root: stamp its v0 creation time so
    // time travel on the branch never needs a directory mtime
    st.write(s"$broot/_created", s"ts=${st.nowMs()}\n")
    broot
  }

  /** The main-chain version a branch was forked from. */
  def forkVersion(root: String, name: String): Long = {
    val st = ChainStorage.forPath(root)
    val f = s"${branchRoot(root, name)}/_fork"
    require(st.isFile(f), s"no branch '$name' under $root")
    st.read(f).trim.toLong
  }

  def listBranches(root: String): Seq[String] = {
    val st = ChainStorage.forPath(root)
    val dir = s"$root/_branches"
    st.list(dir).filter(n => st.isDir(s"$dir/$n") &&
      st.isFile(s"$dir/$n/_fork")).sorted
  }

  /** Read a branch's HEAD — the stable-name read face for staged
    * state (audit queries point here before [[fastForward]]). */
  def readBranch(s: SparkSession, root: String, name: String): DataFrame = {
    val br = branchRoot(root, name)
    readCommitted(s, br, currentVersion(s, br))
  }

  /** FAST-FORWARD a branch onto main (Iceberg `fast_forward` / the
    * WAP publish step): main's next version becomes a byte-copy of
    * the branch HEAD's manifest (+ sidecar), through the SAME CAS
    * rename-publish every writer uses. Squash semantics: the branch's
    * intermediate versions stay on the branch; main gains ONE commit.
    * Requires main to still sit at the fork version — a diverged main
    * needs conflict resolution, not a publish, so that is an
    * IllegalStateException (NOT the retryable
    * ConcurrentModificationException: retrying cannot help). Returns
    * the committed main version. */
  def fastForward(s: SparkSession, root: String, name: String): Long = {
    val br = branchRoot(root, name)
    val bcur = currentVersion(s, br)
    require(bcur >= 1L,
      s"branch '$name' has no commits to fast-forward")
    val fork = forkVersion(root, name)
    val mainCur = currentVersion(s, root)
    if (mainCur != fork)
      throw new IllegalStateException(
        s"main has diverged (at $mainCur, branch '$name' forked at " +
          s"$fork) — fast-forward needs conflict resolution; " +
          "re-create the branch from the current version and replay")
    val tok = prepareToken()
    val st = ChainStorage.forPath(root)
    val prepared = s"$root/manifest_$tok"
    copyDirFlat(root, manifestOf(br, bcur), prepared)
    // rehome the sidecar reference: copy the branch sidecar under
    // MAIN's root (dv_u* names are expiry-protected while a kept
    // version's pointer references them) and repoint `_dv`
    dvOf(br, bcur).foreach { dv =>
      copyDirFlat(root, dv, s"$root/dv_$tok")
      st.write(s"$prepared/_dv", s"dv_$tok\n")
    }
    eqDelOf(br, bcur).foreach { eq =>
      copyDirFlat(root, eq, s"$root/eqdel_$tok")
      st.write(s"$prepared/_eqdel", s"eqdel_$tok\n")
    }
    val v = publish(root, fork, prepared)
    noteCommit(root, v, s"fast-forward:$name@$bcur")
    v
  }

  /** REBASE a branch whose main has diverged, IN PLACE: apply main's
    * change feed since the fork onto the branch, then advance the
    * recorded fork to main's head so [[fastForward]] publishes
    * cleanly. Conflict detection is at KEY grain — finer than
    * Iceberg/Delta's file-grain check: the rebase REFUSES (listing
    * samples) when any key was touched by BOTH sides since the fork.
    * That disjointness is also what makes in-place application
    * CORRECT: on disjoint key sets the two deltas commute, so
    * `(fork ⊕ branch) ⊕ main == (fork ⊕ main) ⊕ branch` — the
    * branch ends at exactly the state replaying it onto main's head
    * would produce, without moving a single existing file (a
    * chain's manifests hold absolute paths, so a rebuild-and-rename
    * would dangle them). Cost is O(changed rows on both sides) — the
    * two feeds — never a table scan.
    *
    * Crash contract: a `_rebase` cursor (the same idea as the
    * streaming CDC replay cursors) records each applied main version
    * AFTER it commits on the branch; a re-run resumes past it and
    * skips the conflict check (it passed before the first apply —
    * the branch's own feed now legitimately contains main's keys).
    * Requires main's fork..head manifests to still be readable (not
    * expired). Returns the rebased branch's head version. */
  def rebaseBranch(s: SparkSession, root: String, name: String,
                   key: String = "doc_id"): Long = {
    val br = branchRoot(root, name)
    val bcur = currentVersion(s, br)
    require(bcur >= 1L, s"branch '$name' has no commits to rebase")
    val fork = forkVersion(root, name)
    val mainCur = currentVersion(s, root)
    require(mainCur > fork,
      s"main has not diverged (at $mainCur, branch '$name' forked " +
        s"there too) — fastForward instead")
    val st = ChainStorage.forPath(root)
    val cursorF = s"$br/_rebase"
    if (!st.isFile(cursorF)) {
      val branchKeys = changeFeed(s, br, 0L, bcur, key)
        .select(key).distinct()
      val mainKeys = changeFeed(s, root, fork, mainCur, key)
        .select(key).distinct()
      val sample = branchKeys.join(mainKeys, Seq(key), "inner")
        .limit(11).collect()
      if (sample.nonEmpty)
        throw new IllegalStateException(
          s"rebase of '$name' conflicts: ${key}s touched by BOTH " +
            s"main (since fork $fork) and the branch — e.g. " +
            sample.take(10).map(_.get(0)).mkString(", ") +
            (if (sample.length > 10) ", …" else "") +
            " — resolve by re-authoring the branch against main's head")
      st.write(cursorF, s"$fork\n")
    }
    val start = math.max(fork, st.read(cursorF).trim.toLong)
    (start + 1 to mainCur).foreach { v =>
      applyImages(s, br, changeFeedStep(s, root, v, key), key)
      st.write(cursorF, s"$v\n")
    }
    st.write(s"$br/_fork", s"$mainCur\n")
    st.deleteFile(cursorF)
    currentVersion(s, br)
  }

  /** DROP a branch. Guarded: refuses while any still-readable main
    * version's manifest references data files under the branch root
    * (a fast-forwarded branch's files stay shared until a
    * [[compactCommit]] + [[expireVersions]] cycle rehomes main), so a
    * drop can never strand a reader — `force = true` overrides for
    * the abandoned-branch case where main never adopted anything. */
  def dropBranch(s: SparkSession, root: String, name: String,
                 force: Boolean = false): Unit = {
    val st = ChainStorage.forPath(root)
    val br = branchRoot(root, name)
    require(st.isDir(br), s"no branch '$name' under $root")
    if (!force) {
      val prefix = br + "/"
      val cur = currentVersion(s, root)
      val live = (0L to cur).map(v => manifestOf(root, v))
        .filter(st.isPublished)
      val shared = live.exists(mf =>
        dirRows(s, mf).strings("file").exists(_.contains(prefix)))
      require(!shared,
        s"main still references data files under branch '$name' — " +
          "compactCommit + expireVersions on main first, or force=true")
    }
    st.deleteTree(br)
  }

  // ---------------------------------------------------- shallow clones

  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE`): a new,
    * independent table root whose version 0 references the SOURCE's
    * data files by absolute path — zero bytes of data copied, only
    * the manifest, sidecars, constraints, and spec registry (all
    * KB-sized). The clone IS a root: every chain face works on it
    * unchanged, and its own commits write new files under ITS root
    * only, so source and clone diverge without ever touching each
    * other's data — the cheap "fork the 100 TB corpus for an
    * experiment" primitive.
    *
    * The one hazard of sharing is the source's VACUUM: a file only
    * the clone still references must survive the source's expiry.
    * Delta answers with a documented footgun ("vacuum on the source
    * breaks shallow clones"); here the clone REGISTERS itself under
    * the source's `_clones/` and [[expireVersions]] adds every
    * registered clone's retained manifests to the keep set (the
    * branch rule applied across roots). [[detachClone]] removes the
    * registration once the clone is dropped or fully compacted away
    * from shared files (compactCommit + its own expiry). A clone of
    * a clone registers against ITS source — protection is pairwise,
    * matching where the shared files live. */
  def cloneTable(s: SparkSession, srcRoot: String, dstRoot: String,
                 version: Long = -1L): String = {
    val st = ChainStorage.forPath(srcRoot)
    val v = if (version < 0L) currentVersion(s, srcRoot) else version
    val srcMf = manifestOf(srcRoot, v)
    require(st.isPublished(srcMf),
      s"cannot clone expired or uncommitted version $v of $srcRoot")
    require(ChainStorage.forPath(dstRoot).mkdirsExclusive(dstRoot),
      s"clone destination $dstRoot already exists")
    copyDirFlat(srcRoot, srcMf, s"$dstRoot/manifest")
    // rehome sidecars under the clone root with the pointer-held names
    (dvOf(srcRoot, v).toSeq ++ eqDelOf(srcRoot, v).toSeq).foreach { d =>
      copyDirFlat(srcRoot, d, s"$dstRoot/${baseName(d)}")
    }
    Seq("_constraints", "_specs").foreach { meta =>
      if (st.isDir(s"$srcRoot/$meta"))
        copyDirFlat(srcRoot, s"$srcRoot/$meta", s"$dstRoot/$meta")
    }
    // the clone is its own chain root: stamp its v0 creation time
    ChainStorage.forPath(dstRoot).write(s"$dstRoot/_created",
      s"ts=${st.nowMs()}\n")
    // register for the source's vacuum protection BEFORE the clone is
    // announced anywhere (a crash between mkdirs and here leaves an
    // unregistered, unused dst dir — garbage, never a broken reader)
    st.write(s"$srcRoot/_clones/${prepareToken()}",
      ChainStorage.forPath(dstRoot).canonicalPath(dstRoot) + "\n")
    dstRoot
  }

  /** Clone roots registered under a source (vacuum-protected). */
  def listClones(root: String): Seq[String] = {
    val st = ChainStorage.forPath(root)
    val reg = s"$root/_clones"
    st.list(reg).filter(n => st.isFile(s"$reg/$n"))
      .map(n => st.read(s"$reg/$n").trim).distinct.sorted
  }

  /** Unregister a clone from the source's vacuum protection — the
    * caller asserts the clone no longer reads the source's files
    * (dropped, or compacted onto its own files and expired). */
  def detachClone(srcRoot: String, dstRoot: String): Boolean = {
    val st = ChainStorage.forPath(srcRoot)
    val reg = s"$srcRoot/_clones"
    val want = ChainStorage.forPath(dstRoot).canonicalPath(dstRoot)
    val hits = st.list(reg).filter(n => st.isFile(s"$reg/$n") &&
      st.read(s"$reg/$n").trim == want)
    hits.foreach(n => st.deleteFile(s"$reg/$n"))
    hits.nonEmpty
  }

  /** Byte-copy every regular file of `src` into a fresh `dst` (flat:
    * manifest/sidecar dirs have no subdirs) — copies preserve parquet
    * bytes AND rider files (`_dv`, `_SUCCESS`, checksums) exactly.
    * `pathHint` names the storage owning both ends (metadata copies
    * never cross storages except via explicit per-side resolution). */
  private def copyDirFlat(pathHint: String, src: String,
                          dst: String): Unit = {
    val st = ChainStorage.forPath(pathHint)
    require(st.isDir(src), s"copyDirFlat source missing: $src")
    require(st.mkdirsExclusive(dst) || (st.isDir(dst) &&
      st.list(dst).isEmpty), s"copyDirFlat destination exists: $dst")
    st.list(src).filter(n => st.isFile(s"$src/$n")).foreach { n =>
      st.copyFile(s"$src/$n", s"$dst/$n")
    }
  }

  /** Per-file (file, min_key, max_key, n_rows, spec_id) stats of a
    * data dir — the ONE definition of the manifest schema; every
    * writer goes through it so the schema cannot drift between paths.
    * `statsCol` is the clustering spec's skip column (min/max are ITS
    * bounds) and `specId` records which spec the files were written
    * under — the per-file tag [[readRangeCommitted]] consults so old
    * files stay readable (and prunable on THEIR column) after
    * [[evolveClustering]]. Manifests written before the spec column
    * existed read as spec 0 (the coalesce convention). */
  // ------------------------------------ per-column file statistics

  /** The columns a file's manifest row stats beyond the clustering
    * spec's key (Iceberg column-stats parity): integral columns into
    * the `cstats_long` map, strings into `cstats_str`. Metadata /
    * bucket columns (`__` prefix) never stat; wide tables cap at 32
    * per family (predicates on uncapped columns simply don't prune —
    * the advisory-skipping rule). */
  private val MaxCstatCols = 32

  /** Per-table COLUMN-STATISTICS POLICY (Iceberg's
    * `write.metadata.metrics` economics): statting every column costs
    * every commit its per-column aggregate — 13-16% measured at the
    * full default — so a table can trim the set. Values (the
    * TBLPROPERTIES `stats.columns` surface):
    *
    *   all            — stat every supported column (the default)
    *   none           — only the clustering spec's key column
    *   include:a,b,c  — stat exactly these (∩ supported columns)
    *   exclude:x,y    — stat everything but these
    *
    * The policy lives at `root/_stats_policy` and applies to commits
    * FROM NOW ON — already-written manifest rows keep their entries
    * (reads treat per-row gaps as advisory, exactly like schema
    * evolution). A column outside the policy simply never has an
    * entry: predicates on it don't prune, metadata MIN/MAX/COUNT(col)
    * refuse (coverage-gap rule), TopN on it plans everything — all
    * existing refusal paths, no new ones. */
  sealed trait StatsPolicy {
    def admits(c: String): Boolean = this match {
      case StatsAll => true
      case StatsNone => false
      case StatsInclude(cols) => cols.contains(c)
      case StatsExclude(cols) => !cols.contains(c)
    }
  }
  case object StatsAll extends StatsPolicy
  case object StatsNone extends StatsPolicy
  case class StatsInclude(cols: Set[String]) extends StatsPolicy
  case class StatsExclude(cols: Set[String]) extends StatsPolicy

  def parseStatsPolicy(v: String): StatsPolicy = v.trim match {
    case "all" => StatsAll
    case "none" => StatsNone
    case s if s.startsWith("include:") =>
      StatsInclude(s.stripPrefix("include:").split(",")
        .map(_.trim).filter(_.nonEmpty).toSet)
    case s if s.startsWith("exclude:") =>
      StatsExclude(s.stripPrefix("exclude:").split(",")
        .map(_.trim).filter(_.nonEmpty).toSet)
    case other => throw new IllegalArgumentException(
      s"stats.columns must be all | none | include:a,b | exclude:a,b" +
        s", got '$other'")
  }

  def setStatsPolicy(root: String, v: String): Unit = {
    parseStatsPolicy(v) // validate before persisting
    ChainStorage.forPath(root).write(s"$root/_stats_policy",
      v.trim + "\n")
  }

  def statsPolicyOf(root: String): StatsPolicy = {
    val st = ChainStorage.forPath(root)
    val p = s"$root/_stats_policy"
    if (!st.isFile(p)) StatsAll
    else parseStatsPolicy(st.read(p).trim)
  }

  private[sources] def cstatFields(
      schema: org.apache.spark.sql.types.StructType,
      policy: StatsPolicy = StatsAll)
      : (Seq[org.apache.spark.sql.types.StructField],
         Seq[org.apache.spark.sql.types.StructField]) = {
    import org.apache.spark.sql.types._
    val usable = schema.fields.filterNot(_.name.startsWith("__"))
      .filter(f => policy.admits(f.name))
    (usable.filter(f => f.dataType == LongType ||
        f.dataType == IntegerType || f.dataType == ShortType ||
        f.dataType == ByteType).take(MaxCstatCols).toSeq,
      usable.filter(_.dataType == StringType)
        .take(MaxCstatCols).toSeq)
  }

  /** Per-column min/max/null-count aggregate expressions, flat under
    * reserved `__lo_/__hi_/__nn_` aliases ([[packCstats]] folds them
    * into the map columns after the groupBy). String bounds follow
    * Iceberg's truncation rule: the LOWER bound is a 64-char prefix
    * of the min (a prefix sorts <= the full string, so it stays a
    * sound lower bound); the UPPER bound is recorded only when the
    * file's max fits 64 chars whole (a truncated prefix of a max is
    * NOT an upper bound) — a null hi reads as +inf at plan time. */
  private[sources] def cstatAggs(
      longs: Seq[org.apache.spark.sql.types.StructField],
      strs: Seq[org.apache.spark.sql.types.StructField])
      : Seq[org.apache.spark.sql.Column] =
    longs.flatMap { f =>
      Seq(min(col(f.name)).cast("long").as(s"__lo_${f.name}"),
        max(col(f.name)).cast("long").as(s"__hi_${f.name}"),
        (count(lit(1)) - count(col(f.name))).as(s"__nn_${f.name}"),
        // per-file DataSketches HLL (lgK=12, ~1.6% standard error):
        // sketches union losslessly across files, so the snapshot's
        // NDV — the one statistic ANALYZE normally charges a full
        // scan for — is one driver-side sketch union at read time.
        // Narrower widths hash through long so a file written before
        // a type widening unions with one written after.
        hll_sketch_agg(col(f.name).cast("long"), lit(12))
          .as(s"__hl_${f.name}"),
        // per-file column SUM, accumulated in decimal(38,0): a file
        // of 2^63-magnitude longs cannot overflow 38 digits below
        // ~10^19 rows, so the COMMIT never throws on data a user's
        // own SUM query would survive — overflow is decided once, at
        // plan time, where planAgg refuses any total outside Long
        // range and the real scan reproduces Spark's native ANSI
        // behavior. SUM ignores nulls natively; an all-null file
        // records a null sum (harmless: its nn entry already says
        // it contributes nothing).
        sum(col(f.name).cast("decimal(38,0)")).as(s"__sm_${f.name}"))
    } ++ strs.flatMap { f =>
      // aggregate over 64-char PREFIXES, not full strings: prefixing
      // is weakly monotonic (x <= y implies prefix(x) <= prefix(y)),
      // so min-of-prefixes equals prefix-of-min — the same sound
      // bound at a fraction of the comparison cost on long text
      // columns; the hi max is exact whenever every value fit whole
      Seq(min(substring(col(f.name), 1, 64)).as(s"__lo_${f.name}"),
        when(max(length(col(f.name))) <= 64,
          max(substring(col(f.name), 1, 64))).as(s"__hi_${f.name}"),
        (count(lit(1)) - count(col(f.name))).as(s"__nn_${f.name}"),
        // NDV sketches hash the FULL string (no truncation — two
        // values sharing a 64-char prefix are distinct)
        hll_sketch_agg(col(f.name), lit(12)).as(s"__hl_${f.name}"))
    }

  private val CstatsLongType =
    "map<string,struct<lo:bigint,hi:bigint,nn:bigint>>"
  private val CstatsStrType =
    "map<string,struct<lo:string,hi:string,nn:bigint>>"
  private val CstatsSumType = "map<string,decimal(38,0)>"

  /** Fold the flat `__lo_/__hi_/__nn_` aggregates into the two map
    * columns. Both columns ALWAYS exist with a stable type (null map
    * when a family has no columns), so manifest unions across commits
    * never fork schemas; old manifests without the columns read as
    * null rows through `unionByName(allowMissingColumns)` — and a
    * null map prunes nothing, the advisory rule. */
  private[sources] def packCstats(df: DataFrame,
      longs: Seq[org.apache.spark.sql.types.StructField],
      strs: Seq[org.apache.spark.sql.types.StructField]): DataFrame = {
    def entries(fs: Seq[org.apache.spark.sql.types.StructField]) =
      fs.flatMap(f => Seq(lit(f.name), struct(
        col(s"__lo_${f.name}").as("lo"),
        col(s"__hi_${f.name}").as("hi"),
        col(s"__nn_${f.name}").as("nn"))))
    val withL =
      if (longs.isEmpty)
        df.withColumn("cstats_long", lit(null).cast(CstatsLongType))
      else df.withColumn("cstats_long", map(entries(longs): _*))
    val withS =
      if (strs.isEmpty)
        withL.withColumn("cstats_str", lit(null).cast(CstatsStrType))
      else withL.withColumn("cstats_str", map(entries(strs): _*))
    // NDV sketches for BOTH families ride one binary map; manifests
    // written before the column (or under a trimmed policy) read as
    // null through unionByName — a coverage gap, never a wrong NDV
    val hlls = longs ++ strs
    val withH =
      if (hlls.isEmpty)
        withS.withColumn("cstats_hll",
          lit(null).cast("map<string,binary>"))
      else withS.withColumn("cstats_hll", map(hlls.flatMap(f =>
        Seq(lit(f.name), col(s"__hl_${f.name}"))): _*))
    // per-file SUMs (integral family only), a separate additive map
    // — NOT a fourth field in the cstats_long struct, because map
    // value types must match exactly for manifest unions across
    // commits; a new top-level column rides unionByName like
    // cstats_hll did, and old manifests read null = coverage gap
    val withM =
      if (longs.isEmpty)
        withH.withColumn("cstats_sum",
          lit(null).cast(CstatsSumType))
      else withH.withColumn("cstats_sum", map(longs.flatMap(f =>
        Seq(lit(f.name), col(s"__sm_${f.name}"))): _*))
    withM.drop((longs ++ strs).flatMap(f => Seq(
      s"__lo_${f.name}", s"__hi_${f.name}", s"__nn_${f.name}",
      s"__hl_${f.name}", s"__sm_${f.name}")): _*)
  }

  private def statsManifest(s: SparkSession, dataDir: String,
                            statsCol: String = "n_chars",
                            specId: Int = 0,
                            policy: StatsPolicy = StatsAll)
      : DataFrame = {
    val df = immutableParquet(s, dataDir)
    val (longs, strs) = cstatFields(df.schema, policy)
    val dataCols = ((longs ++ strs).map(_.name) :+ statsCol).distinct
    val base = df
      .select(col("_metadata.file_path").as("file") +:
        dataCols.map(col): _*)
      .groupBy("file")
      .agg(min(col(statsCol)).as("min_key"),
        (max(col(statsCol)).as("max_key") +:
          count(lit(1)).as("n_rows") +:
          // nulls in the stats column, recorded per file: exactly what
          // ORDER-BY-limit pruning needs to stay sound (a null sorts
          // before/after every value, so a file can only be dropped
          // when its null population is KNOWN) — ChainSkip.topNFiles
          (count(lit(1)) - count(col(statsCol))).as("n_nulls") +:
          cstatAggs(longs, strs)): _*)
    packCstats(base, longs, strs).withColumn("spec_id", lit(specId))
  }

  /** Write a fresh range-clustered layout + its stats manifest — the
    * shared bootstrap every chain starts from (battery stages, specs,
    * the demo): `root/data` holds the clustered files, `root/manifest`
    * one (file, min_key, max_key, n_rows) row per file. */
  def buildLayout(df: DataFrame, root: String, nFiles: Int,
                  clusterCols: Seq[String] = Seq("n_chars", "doc_id"))
      : String = {
    val s = df.sparkSession
    df.repartitionByRange(nFiles, clusterCols.map(col): _*)
      .write.mode("overwrite").parquet(s"$root/data")
    statsManifest(s, s"$root/data", policy = statsPolicyOf(root))
      .write.mode("overwrite").parquet(s"$root/manifest")
    // v0's commit instant, as protocol content (the marker `ts=` rule
    // applied to the version that has no marker)
    val st = ChainStorage.forPath(root)
    st.write(s"$root/_created", s"ts=${st.nowMs()}\n")
    root
  }

  /** Create a brand-new EMPTY chain at `root` from an explicit schema
    * — the SQL `CREATE TABLE` bootstrap ([[GraftCatalog.createTable]]).
    * One zero-row data file is written directly through the Group
    * writer (deterministic: never relies on Spark materializing empty
    * partitions) and carries the schema; the manifest records it with
    * null stats TYPED by the clustering spec's stats column, so later
    * commits' stats manifests union by name without a type fork. A
    * non-default clustering registers as spec 1 with the v0 manifest
    * pointing at it, so the FIRST rows ever inserted already stat and
    * cluster under the declared spec — no metadata-only evolution
    * commit needed. */
  def createEmptyLayout(s: SparkSession, root: String,
                        schema: org.apache.spark.sql.types.StructType,
                        statsCol: String,
                        clusterCols: Seq[String]): String = {
    val missing = (statsCol +: clusterCols).distinct
      .filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"clustering columns ${missing.mkString(", ")} do not exist in " +
        s"the declared schema (${schema.fieldNames.mkString(", ")})")
    val st = ChainStorage.forPath(root)
    require(!st.isFile(s"$root/_created") && !st.isDir(s"$root/manifest"),
      s"a chain already exists at $root")
    val file = s"$root/data/part-00000-create.parquet"
    GroupParquet.openWriter(file, schema,
      s.sparkContext.hadoopConfiguration).close()
    val spec =
      if (statsCol == DefaultSpec.statsCol &&
          clusterCols == DefaultSpec.clusterCols) DefaultSpec
      else {
        require(st.putIfAbsent(s"$root/_specs/1",
            s"$statsCol|${clusterCols.mkString(",")}\n"),
          s"spec 1 already registered at $root (concurrent create?)")
        ClusterSpec(1, statsCol, clusterCols)
      }
    val statsType = schema(statsCol).dataType
    s.range(1).select(lit(file).as("file"),
        lit(null).cast(statsType).as("min_key"),
        lit(null).cast(statsType).as("max_key"),
        lit(0L).as("n_rows"), lit(0L).as("n_nulls"),
        lit(spec.id).as("spec_id"))
      .coalesce(1)
      .write.mode("errorifexists").parquet(s"$root/manifest")
    if (spec.id != 0) writeSpecPointer(s"$root/manifest", spec.id)
    // a DDL-created chain's schema is DECLARED, not inferred: register
    // it in the schema registry from birth so resolution never needs a
    // footer (and survives the data files themselves — metadata-only
    // aggregates can answer over a table whose files were vacuumed)
    require(st.putIfAbsent(s"$root/_schemas/1", schema.json + "\n\n"),
      s"schema 1 already registered at $root (concurrent create?)")
    st.write(s"$root/manifest/_schema", "1\n")
    st.write(s"$root/_created", s"ts=${st.nowMs()}\n")
    root
  }

  /** What [[expireVersions]] removed and kept, for audit logs. */
  case class ExpireStats(keptVersions: Seq[Long], removedDataFiles: Long,
                         removedManifestDirs: Long, removedDvDirs: Long,
                         removedStagingDirs: Long = 0L,
                         removedIndexDirs: Long = 0L)

  /** SNAPSHOT EXPIRY / VACUUM — the lifecycle end of the version
    * chain (Iceberg `expire_snapshots` + `remove_orphan_files`, Delta
    * VACUUM): keep the last `keepLast` committed versions and
    * physically remove everything only older versions reference.
    * Swap-by-path makes this the ONLY place data is ever destroyed,
    * so the algorithm is reachability, not bookkeeping:
    *
    *   1. the KEEP set is the union of the kept manifests' file lists
    *      (files are SHARED across versions — an untouched file
    *      referenced by v0 and v9 survives as long as either is
    *      kept), resolved to filesystem paths;
    *   2. every parquet under the root's `data*` dirs that is not in
    *      the keep set is an orphan — deleted at file grain (a dir
    *      can hold a mix of live and dead files after CoW merges);
    *   3. expired versions' manifest dirs and DV sidecars are dropped
    *      whole; the byte-sized commit MARKERS are RETAINED — they
    *      carry the time-travel timeline ([[versionAsOf]]) and the
    *      streaming replay cursors, and `currentVersion` needs only
    *      the max.
    *
    * At 100 TB the keep set is bounded by `keepLast ×
    * maxDriverFiles` manifest rows (the same driver bound as
    * planning); the orphan scan is a listing, not a data read.
    * Time travel to an expired version fails CLEANLY at resolution
    * (the retained markers make expiry detectable, [[versionAsOf]]) —
    * bounded storage is the contract being bought, and `keepLast` /
    * `olderThanMs` are how a deployment sizes it against its longest
    * reader or travel window (VacuumReaderSpec pins the
    * reader-vs-vacuum behavior). */
  /** `graceMs`: files/dirs YOUNGER than this are never collected —
    * the retention threshold every production expiry needs, because a
    * concurrently PREPARING writer's not-yet-published state is
    * indistinguishable from a race loser's garbage by reachability
    * alone (Iceberg's remove_orphan_files has the same
    * older-than guard; its default is days, because the window must
    * exceed the LONGEST plausible prepare — a whole-table compaction,
    * not a quick delete). Pass 0 only when no writer can be in flight
    * (single-threaded tests).
    *
    * `olderThanMs`: Iceberg `expire_snapshots(older_than, retain_last)`
    * semantics — a version is expired only if it is BOTH beyond
    * `keepLast` AND was committed at-or-before `olderThanMs` (resolved
    * through the marker timeline, monotonic by construction). The
    * default (`Long.MaxValue`) imposes no time floor, i.e. pure
    * count-based retention. */
  /** `dryRun = true` computes the SAME ExpireStats — what would be
    * kept and destroyed, through the identical reachability walk —
    * without deleting a byte (the Iceberg/Delta ops review step
    * before an irreversible vacuum; also the honest way to size
    * `keepLast` against live readers). */
  def expireVersions(s: SparkSession, root: String,
                     keepLast: Int,
                     graceMs: Long = 24L * 60 * 60 * 1000,
                     olderThanMs: Long = Long.MaxValue,
                     dryRun: Boolean = false): ExpireStats = {
    require(keepLast >= 1, "must keep at least the current version")
    val st = ChainStorage.forPath(root)
    val cutoff = st.nowMs() - graceMs
    // age is the one place filesystem/object metadata is consulted,
    // and only as an ADVISORY grace check (never a timeline)
    def oldEnough(path: String): Boolean = st.modifiedMs(path) <= cutoff
    // ADOPT a publish-then-crash winner first: a published-but-unmarked
    // manifest_c{cur+1} is a complete committed state publish() would
    // adopt on the next commit — expiry must see it as the chain head,
    // or it would vacuum the crashed winner's files and the later
    // adoption would commit a version referencing deleted data.
    // isPublished (not bare existence) keeps a mid-copy object-store
    // publish from being adopted as truth.
    val curPre = currentVersion(s, root)
    if (st.isPublished(manifestOf(root, curPre + 1)) &&
        !st.isFile(markerPath(root, curPre + 1)))
      tryCommit(root, curPre + 1)
    val cur = currentVersion(s, root)
    val countKeepFrom = math.max(0L, cur - keepLast + 1)
    // time floor: the first version committed AFTER olderThanMs (and
    // everything above it) is retained regardless of keepLast — the
    // marker timeline is monotonic, so one scan finds the boundary
    val timeKeepFrom =
      if (olderThanMs == Long.MaxValue) countKeepFrom
      else (0L to cur).find(v =>
        commitTimeMs(root, v).exists(_ > olderThanMs))
        .getOrElse(countKeepFrom)
    val keepFrom = math.min(countKeepFrom, timeKeepFrom)
    // tagged versions are retention anchors: never expired, whatever
    // keepLast/olderThanMs say (Iceberg's never-expire-a-ref rule)
    val tagged = listTags(root).values.toSet
    val kept = ((keepFrom to cur) ++ tagged.filter(_ < keepFrom))
      .distinct.sorted.filter(v => st.isPublished(manifestOf(root, v)))
    def localPath(uri: String): String =
      new org.apache.hadoop.fs.Path(uri).toUri.getPath
    // AD-HOC manifests (cowMerge/compactLayout outputs, spec stages —
    // any `manifest*` dir that is not a protocol version, a loser
    // prepare, or the tree) are live references too: their files must
    // not be vacuumed just because no commit marker points at them
    val protocolNames = ((0L to cur).map(v =>
      baseName(manifestOf(root, v)))).toSet
    val adHocManifests: Seq[String] = st.list(root)
      .filter(n => st.isDir(s"$root/$n") &&
        n.startsWith("manifest") &&
        !n.startsWith("manifest_u") &&
        n != "manifest_tree" &&
        !protocolNames.contains(n))
      .map(n => s"$root/$n")
    // BRANCHES are live references into the PARENT's data: a branch
    // manifest points at fork-time parent files by absolute path, so
    // a file the main chain no longer references (rewritten away
    // before expiry) may still be the only copy a branch reads.
    // Every branch's still-present manifest dirs therefore join the
    // keep set — expiring main must never break a branch (the branch
    // root's OWN expireVersions is where branch history is retired).
    def manifestDirsUnder(dir: String, dst: ChainStorage): Seq[String] =
      dst.list(dir).filter(n => dst.isDir(s"$dir/$n") &&
        n.startsWith("manifest") &&
        !n.startsWith("manifest_u") &&
        n != "manifest_tree").map(n => s"$dir/$n")
    val branchManifests: Seq[String] = listBranches(root).flatMap(b =>
      manifestDirsUnder(branchRoot(root, b), st))
    // SHALLOW CLONES are live references too ([[cloneTable]]): every
    // registered clone's retained manifests join the keep set — the
    // branch rule applied across roots. A vanished clone dir means a
    // dropped clone nobody detached; nothing left to protect. A clone
    // may live under a DIFFERENT storage — resolve per path.
    val cloneManifests: Seq[String] = listClones(root).flatMap(cr =>
      manifestDirsUnder(cr, ChainStorage.forPath(cr)))
    val keep: Set[String] = (kept.map(v => manifestOf(root, v)) ++
      adHocManifests ++ branchManifests ++
      cloneManifests).flatMap { m =>
      versionFiles(s, m, s"expiry keep-set of $m")
    }.map(localPath).toSet
    // 2. orphan data files, at file grain
    var removedData = 0L
    // RECURSIVE walk: bucketed / grouped rewrites land data under
    // hive-style partition subdirs (data_<tok>/__bp=K/ or __gp=…/ —
    // one level today, but the walk is depth-general), and a
    // one-level listing silently orphaned every such file once its
    // version expired. A subdir emptied by the sweep is removed too
    // (dry runs count files only — an "empty" claim would depend on
    // deletions that did not happen).
    def sweepDataDir(dir: String): Unit = {
      st.list(dir).foreach { n =>
        val p = s"$dir/$n"
        if (st.isDir(p)) {
          sweepDataDir(p)
          if (!dryRun && st.list(p).isEmpty) st.deleteTree(p)
        } else if (n.endsWith(".parquet") &&
            !keep.contains(p) && oldEnough(p)) {
          if (dryRun) removedData += 1
          else if (st.deleteFile(p)) removedData += 1
        }
      }
    }
    st.list(root).filter(n => n.startsWith("data") &&
      st.isDir(s"$root/$n")).foreach { dirName =>
      sweepDataDir(s"$root/$dirName")
    }
    // 3. expired versions' metadata
    def rmTree(p: String): Boolean =
      if (!st.isDir(p) && !st.isFile(p)) false
      else if (dryRun) true // counted, not destroyed
      else st.deleteTree(p)
    var removedMf = 0L
    var removedDv = 0L
    var removedIdx = 0L
    // paths the expired-version loop already destroyed (or, in a dry
    // run, WOULD have): the loser-GC pass below must not count them
    // twice — in a real run the storage enforces this (the dir is
    // gone before the listing), in a dry run this set does
    val claimed = scala.collection.mutable.Set.empty[String]
    // sidecars a KEPT version still references must survive the
    // expiry of any OTHER version pointing at them — restoreVersion
    // publishes a verbatim pointer copy, so the restored head and its
    // (expirable) source share one sidecar dir
    val keptDvPaths = kept.flatMap(v =>
      scala.util.Try(dvOf(root, v)).toOption.flatten).toSet ++
      kept.flatMap(v =>
        scala.util.Try(eqDelOf(root, v)).toOption.flatten)
    (0L until keepFrom).filterNot(tagged).foreach { v =>
      // a crash in a PRIOR expiry between sidecar and manifest
      // deletion leaves a dangling pointer — for an EXPIRED version
      // that is fine, there is nothing left to protect
      scala.util.Try(dvOf(root, v)).toOption.flatten
        .filterNot(keptDvPaths)
        .foreach { d =>
          if (rmTree(d)) removedDv += 1
          claimed += d
        }
      scala.util.Try(eqDelOf(root, v)).toOption.flatten
        .filterNot(keptDvPaths)
        .foreach { d =>
          if (rmTree(d)) removedDv += 1
          claimed += d
        }
      if (rmTree(manifestOf(root, v))) removedMf += 1
      claimed += manifestOf(root, v)
      // the version's bloom index is a rebuildable acceleration
      // structure keyed to THIS version's file set — unreachable
      // once the version is expired, so it goes with the manifest
      // (a kept version's index has a different dir name and is
      // never touched here)
      val idx = BloomIndex.indexDir(root, v)
      if (rmTree(idx)) removedIdx += 1
      claimed += idx
      // markers are RETAINED: they are bytes-sized, currentVersion
      // needs only the max, and their notes carry the streaming
      // replay cursors (lastAppliedBatch scans them) — deleting an
      // expired marker could re-apply a committed CDC batch
    }
    // 4. loser garbage from publish races: prepared manifests that
    //    never won the canonical name, their sidecars (unless a
    //    kept version's pointer references one), and u-named data
    //    dirs whose files were all collected by reachability above
    val keptDv = (kept.flatMap(v => dvOf(root, v)) ++
        kept.flatMap(v => eqDelOf(root, v)))
      .map(baseName).toSet
    // "all collected" must look THROUGH partition subdirs: a
    // bucketed/grouped data dir keeps its parquet one level down
    // (__bp=K/, __gp=…/) with only _SUCCESS at the top — the old
    // one-level check classified a LIVE head's data dir as a loser
    // and tree-deleted it (caught by the grouped-rewrite expiry
    // spec; bucketed compaction had the same exposure)
    def noParquetUnder(dir: String): Boolean =
      st.list(dir).forall { e =>
        val p = s"$dir/$e"
        if (st.isDir(p)) noParquetUnder(p)
        else !e.endsWith(".parquet")
      }
    st.list(root).filter(n => st.isDir(s"$root/$n") &&
        oldEnough(s"$root/$n") && !claimed.contains(s"$root/$n"))
      .foreach { n =>
        val d = s"$root/$n"
        n match {
          case _ if n.startsWith("manifest_u") =>
            if (rmTree(d)) removedMf += 1
          case _ if n.startsWith("dv_u") && !keptDv.contains(n) =>
            if (rmTree(d)) removedDv += 1
          case _ if n.startsWith("eqdel_u") && !keptDv.contains(n) =>
            if (rmTree(d)) removedDv += 1
          case _ if n.startsWith("data_u") && noParquetUnder(d) =>
            rmTree(d)
          case _ => ()
        }
      }
    // 5. crashed WRITE STAGING: row-level-operation / streaming-sink
    //    stage dirs under _staging/ whose write died between task
    //    commit and driver commit — referenced by nothing, invisible
    //    to reachability (they are pre-commit bytes, not table state),
    //    so age is the only signal; same grace contract as loser GC
    var removedStaging = 0L
    val stagingRoot = s"$root/_staging"
    st.list(stagingRoot).foreach { n =>
      val d = s"$stagingRoot/$n"
      if (oldEnough(d) && rmTree(d)) removedStaging += 1
    }
    // 6. stale PUBLISH CLAIMS: a pending canonical (claimed, rider
    //    never landed) past the grace window is a publisher that died
    //    mid-copy — cleared here so the version number can advance
    //    (the storage's own publish takeover handles the common case;
    //    this sweeps claims no later publisher ever re-raced). The
    //    claim's OWN age (pendingSinceMs) is the signal — modifiedMs
    //    is advisory-only and deliberately useless on object stores.
    st.list(root).filter(_.startsWith("manifest_c")).foreach { n =>
      val d = s"$root/$n"
      if (st.isPending(d) &&
          st.nowMs() - st.pendingSinceMs(d) >= graceMs)
        rmTree(d)
    }
    // 7. change-feed spill losers: .tmp_v* prepare dirs under
    //    _cdc/<key>/ whose spiller crashed before publish — the
    //    published v<N> spills themselves are a shared cache keyed to
    //    unexpired manifests, so they stay
    val cdcRoot = s"$root/_cdc"
    st.list(cdcRoot).foreach { keyName =>
      val keyDir = s"$cdcRoot/$keyName"
      st.list(keyDir).filter(_.startsWith(".tmp_")).foreach { n =>
        val d = s"$keyDir/$n"
        if (oldEnough(d)) rmTree(d)
      }
    }
    // the snapshot cache holds facts of exactly the dirs still on disk
    if (!dryRun) forgetDeletedUnder(root)
    ExpireStats(kept, removedData, removedMf, removedDv, removedStaging,
      removedIdx)
  }

  /** Read the table a manifest version describes (the post-merge
    * reader: untouched files at their old paths + rewritten files). */
  def readVersion(s: SparkSession, manifestDir: String): DataFrame =
    readFiles(s, manifestDir,
      versionFiles(s, manifestDir, s"version read of $manifestDir"))

  /** A path-list read of (some of) the files `manifestDir` names, with
    * the version's schema pinned — planning it runs no inference job. */
  private[sources] def readFiles(s: SparkSession, manifestDir: String,
                                 files: Seq[String]): DataFrame =
    // a declared (evolved) schema pins the read: files written before
    // an ADD COLUMN null-fill the new columns; files written before a
    // RENAME hold the column under a PRIOR physical name, so the read
    // schema carries every generation's name and each renamed column
    // resolves by first-present name (exactly one generation's column
    // exists per file, so the coalesce is a disjoint union, not a
    // preference)
    schemaOfManifest(manifestDir) match {
      case Some(declared) =>
        val priors = declared.fields.map(f => f -> priorNamesOf(f))
        if (priors.forall(_._2.isEmpty))
          s.read.schema(declared).parquet(files: _*)
        else {
          val readSchema = org.apache.spark.sql.types.StructType(
            declared.fields ++ priors.flatMap { case (f, ps) =>
              ps.map(p => org.apache.spark.sql.types.StructField(
                p, f.dataType, nullable = true))
            })
          s.read.schema(readSchema).parquet(files: _*)
            .select(priors.map { case (f, ps) =>
              if (ps.isEmpty) col(f.name)
              else coalesce((f.name +: ps).map(col): _*).as(f.name)
            }.toIndexedSeq: _*)
        }
      case None =>
        // the referenced data files are immutable with the manifest
        // that names them, so their footer schema is a snapshot fact
        s.read.schema(dataSchema(s, manifestDir)).parquet(files: _*)
    }
}
