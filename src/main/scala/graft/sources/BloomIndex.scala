package graft.sources

import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._

/** PER-FILE BLOOM INDEX for point lookups on the version chain — the
  * file-skipping the manifest's range stats cannot give: layouts
  * cluster by the spec's stats column (n_chars by default), so a
  * point predicate on doc_id overlaps EVERY file's [min,max] and a
  * range-pruned plan degenerates to a full scan. A bloom sidecar of
  * one row per data file — `(file, bloom over xxhash64(key))` — lets
  * the planner keep only files whose sketch might contain a probed
  * key: ~1% false positives at 10 bits/key, so a k-key lookup reads
  * ≈k files out of millions (Parquet's own bloom filters and
  * Iceberg's planned secondary indexes solve exactly this; here the
  * index lives beside the manifest and is planned with it).
  *
  * Lifecycle: the index is a REBUILDABLE acceleration structure, not
  * a correctness artifact — it is built FOR one committed version's
  * file set ([[build]]), consulted only when present ([[indexOf]]),
  * and simply rebuilt after compaction rewrites the files. Deletion
  * sidecars never invalidate it: a DV'd or eq-deleted row left in a
  * sketch is one more false positive, and [[readPoint]] applies the
  * version's sidecars plus the exact predicate after the screen, so
  * pruning trades I/O, never correctness.
  *
  * 100 TB posture: the build is one distributed pass (group rows by
  * their file, one mergeable sketch per group — Spark's codegen'd
  * BloomFilterAggregate); the PLAN is a distributed screen over the
  * index table that deserializes each file's sketch ONCE per probe
  * set and ships only the matching file NAMES to the driver (the
  * same `maxDriverFiles` clamp as every other planner) — per-file
  * sketches are megabytes each at 1M-row files and must never be
  * collect()ed wholesale. */
object BloomIndex {

  /** Index dir name convention for a committed version (rebuildable
    * by name, like `manifest_tree` — not part of the commit). */
  def indexDir(root: String, version: Long): String =
    s"$root/bloom_c$version"

  /** BRANCH-AWARE resolution: a branch's version 0 is a byte-copy of
    * its fork version's manifest ([[ManifestPrune.createBranch]]) —
    * the SAME file set — so the parent's index for the fork version
    * answers point lookups on a fresh branch verbatim (sketches are
    * keyed by immutable file paths). Without this, every branch paid
    * a rebuild (or worse, fell back to a scan) for an index the
    * parent already carries; with it, [[extend]] from branch v0
    * carries the parent's sketches and sketches only branch-written
    * files — the r11 branch-aware-time-travel symmetry applied to the
    * acceleration layer. Recursion covers branch-of-branch. */
  def indexOf(root: String, version: Long): Option[String] = {
    val st = ChainStorage.forPath(root)
    val local = indexDir(root, version)
    if (st.isDir(local)) return Some(local)
    if (version != 0L) return None
    // a branch root is `<parent>/_branches/<name>` with a `_fork`
    // rider naming the parent version it copies
    val marker = "/_branches/"
    val cut = root.lastIndexOf(marker)
    if (cut < 0 || !st.isFile(s"$root/_fork")) return None
    val parent = root.substring(0, cut)
    val fork = st.read(s"$root/_fork").trim.toLong
    indexOf(parent, fork)
  }

  /** Build the per-file bloom index for `version`'s file set: one
    * row per data file, sketch sized from the manifest's largest
    * per-file row count at `bitsPerKey` bits each (10 ⇒ ~1% fp). */
  def build(s: SparkSession, root: String, version: Long,
            key: String = "doc_id", bitsPerKey: Long = 10L): String = {
    val mf = ManifestPrune.manifestOf(root, version)
    val maxRows = math.max(1L,
      ManifestPrune.dirRows(s, mf).longs("n_rows").max)
    val agg = new BloomFilterAggregate(
      GraftSqlShims.expression(xxhash64(col(key))),
      CatLit(maxRows), CatLit(maxRows * bitsPerKey))
    val dir = indexDir(root, version)
    ManifestPrune.readVersion(s, mf)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(GraftSqlShims.column(agg.toAggregateExpression()).as("bloom"))
      .write.mode("overwrite").parquet(dir)
    writeMeta(dir, maxRows, key)
    dir
  }

  /** INCREMENTAL index maintenance — the O(new files) path an
    * append/MoR stream needs (a full [[build]] per commit would scan
    * the table per batch): bloom rows for files CARRIED from
    * `fromVersion` are copied from its index verbatim (a file is
    * immutable, so its sketch is too), and only `toVersion`'s NEW
    * files are scanned and sketched. Deletion sidecars never
    * invalidate a sketch (extra false positives only), so carried
    * rows stay correct under DV growth between the versions. Sketch
    * sizing is pinned to the SOURCE index's parameters via its
    * `_meta` rider so carried and fresh rows answer consistently. */
  def extend(s: SparkSession, root: String, fromVersion: Long,
             toVersion: Long, key: String = "doc_id",
             bitsPerKey: Long = 10L): String = {
    val src = indexOf(root, fromVersion).getOrElse(
      throw new IllegalStateException(
        s"no bloom index for version $fromVersion of $root to extend"))
    val m0 = ManifestPrune.dirRows(s,
      ManifestPrune.manifestOf(root, fromVersion)).strings("file").toSet
    val m1 = ManifestPrune.dirRows(s,
      ManifestPrune.manifestOf(root, toVersion))
    val f1 = m1.strings("file")
    val newFiles = ManifestPrune.boundedFiles(s,
      f1.iterator.filterNot(m0).distinct,
      s"bloom extend new files of v$toVersion")
    val carried = ManifestPrune.immutableParquet(s, src)
      .filter(col("file").isInCollection(f1))
    val meta = readMeta(src)
    val maxRows = meta.getOrElse(math.max(1L, m1.longs("n_rows").max))
    val fresh =
      if (newFiles.isEmpty) carried.limit(0)
      else {
        val agg = new BloomFilterAggregate(
          GraftSqlShims.expression(xxhash64(col(key))),
          CatLit(maxRows), CatLit(maxRows * bitsPerKey))
        ManifestPrune.readFiles(s,
            ManifestPrune.manifestOf(root, toVersion), newFiles)
          .groupBy(col("_metadata.file_path").as("file"))
          .agg(GraftSqlShims.column(agg.toAggregateExpression())
            .as("bloom"))
      }
    val dir = indexDir(root, toVersion)
    carried.unionByName(fresh).write.mode("overwrite").parquet(dir)
    writeMeta(dir, maxRows, key)
    dir
  }

  private def writeMeta(dir: String, estItems: Long,
                        key: String = "doc_id"): Unit =
    ChainStorage.forPath(dir).write(s"$dir/_meta",
      s"$estItems\nkey=$key\n")

  private def readMeta(dir: String): Option[Long] = {
    val st = ChainStorage.forPath(dir)
    if (!st.isFile(s"$dir/_meta")) None
    else Some(st.read(s"$dir/_meta").linesIterator.next().trim.toLong)
  }

  /** The column an index covers, from its meta — what lets the SQL
    * scan recognize "this IN/= predicate probes the indexed column"
    * without being told. Pre-session indexes without the line answer
    * None and the SQL planner simply doesn't consult them. */
  def indexedColumn(dir: String): Option[String] = {
    val st = ChainStorage.forPath(dir)
    if (!st.isFile(s"$dir/_meta")) None
    else st.read(s"$dir/_meta").linesIterator
      .find(_.startsWith("key=")).map(_.stripPrefix("key=").trim)
  }

  /** The probe hash — driver-side evaluation of the SAME xxhash64
    * (seed 42) the build feeds the sketch, so membership answers
    * line up bit-for-bit. */
  private def probeHash(v: Long): Long =
    XxHash64(Seq(CatLit(v)), 42L).eval(null).asInstanceOf[Long]

  /** Files whose sketch might contain ANY of the probed keys — the
    * distributed screen: each index row's sketch is deserialized
    * once, checked against the (broadcast-small) probe set, and only
    * matching file NAMES reach the driver. */
  def planFiles(s: SparkSession, root: String, version: Long,
                keys: Seq[Long]): Seq[String] = {
    val idx = indexOf(root, version).getOrElse(
      throw new IllegalStateException(
        s"no bloom index for version $version of $root — " +
          "BloomIndex.build it first"))
    require(keys.nonEmpty, "empty probe set")
    val hs = keys.map(probeHash).toArray
    import s.implicits._
    val matched = ManifestPrune.immutableParquet(s, idx)
      .select(col("file"), col("bloom")).as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (f, b) =>
          val bf = org.apache.spark.util.sketch.BloomFilter
            .readFrom(new java.io.ByteArrayInputStream(b))
          if (hs.exists(bf.mightContainLong)) Iterator.single(f)
          else Iterator.empty
        }
      }.toDF("file")
    ManifestPrune.collectFileList(s, matched,
      s"bloom point plan (${keys.length} keys) on $root v$version")
  }

  /** Point lookup through the index: bloom-screened files only, the
    * version's deletion sidecars applied, the exact IN predicate
    * re-applied after the screen (false positives cost I/O, never
    * rows). */
  def readPoint(s: SparkSession, root: String, version: Long,
                key: String, keys: Seq[Long]): DataFrame = {
    val files = planFiles(s, root, version, keys)
    val mf = ManifestPrune.manifestOf(root, version)
    val base =
      if (files.isEmpty) ManifestPrune.readVersion(s, mf).limit(0)
      else ManifestPrune.applyEqDel(s,
        ManifestPrune.applyDv(s, ManifestPrune.readFiles(s, mf, files),
          ManifestPrune.dvOf(root, version)),
        ManifestPrune.eqDelOf(root, version))
    base.filter(col(key).isInCollection(keys))
  }
}
