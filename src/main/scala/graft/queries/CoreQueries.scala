package graft.queries

import graft.Tables
import graft.functions.GraftFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One named query per relational operator of SURVEY.md §2, plus the
  * join/window/set-op/rollup surface a complete engine needs (the
  * reference lacks them; SURVEY.md §2 "deliberately absent" list).
  * Every query has a DuckDB-equivalent oracle SQL with IDENTICAL column
  * names and ORDER BY, and all double aggregation goes through decimal
  * (see GraftFunctions) so hashes match bit-for-bit.
  */
object CoreQueries {

  /** name -> (spark fn, oracle sql) */
  case class Q(name: String,
               fn: (SparkSession, String) => DataFrame,
               sql: Option[String])

  /** q_cow_merge's merged manifest, built ONCE per (session, sf dir):
    * layout + one file-grain CoW merge of the deterministic batch
    * (the write-once convention of every persisted stage). */
  private[graft] def cowMergedManifest(s: SparkSession, d: String): String =
    Tables.once("cowCache", s, d) {
      val root = graft.sources.ManifestPrune.ensureLayout(s, d)
      val docs = Tables.load(s, d, "documents")
      val updates = docs.filter(col("doc_id") % 23 === 0)
        .select(col("doc_id"), lit("xx").as("new_lang"))
      val inserts = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          lit("new").as("lang"), col("source"), col("n_chars"))
      graft.sources.ManifestPrune.cowMerge(s, root, updates, inserts, "v2")._2
    }

  /** q_manifest_tree's two-level manifest tree, built ONCE per
    * (session, sf dir) over the shared clustered layout. */
  private def manifestTree(s: SparkSession, d: String): String =
    Tables.once("treeCache", s, d) {
      val root = graft.sources.ManifestPrune.ensureLayout(s, d)
      graft.sources.ManifestPrune.buildManifestTree(s, root,
        s"$root/manifest", nShards = 4)
    }

  /** q_dv_delete's (manifest, dv) pair, built ONCE per (session, sf
    * dir): layout + one merge-on-read delete of a deterministic key
    * set — no data file is touched (DvDeleteSpec pins that). */
  private[graft] def dvDeletedVersion(s: SparkSession,
                                      d: String): (String, String) =
    Tables.once("dvCache", s, d) {
      val root = graft.sources.ManifestPrune.ensureLayout(s, d)
      val deletes = Tables.load(s, d, "documents")
        .filter(col("doc_id") % 7 === 3).select("doc_id")
      graft.sources.ManifestPrune.dvDeleteFrom(s, root,
        s"$root/manifest", None, deletes, "dv1")
    }

  /** q_compact_commit's committed chain (fresh root → DV delete →
    * compaction), built ONCE per (session, sf dir): the full
    * merge-on-read lifecycle whose read-back the oracle replays. */
  private def compactedChain(s: SparkSession, d: String): String =
    Tables.once("compactCache", s, d) {
      // nanoTime suffix: _commits markers persist on disk and the
      // session-identity suffix can collide across JVM restarts (the
      // CDC spec's lesson) — a fresh chain must start at version 0
      val root = Tables.matDir(s"compact_chain_${System.nanoTime}", s, d)
      val docs = Tables.load(s, d, "documents")
      graft.sources.ManifestPrune.buildLayout(docs, root, nFiles = 8)
      graft.sources.ManifestPrune.dvDeleteCommit(s, root,
        docs.filter(col("doc_id") % 7 === 3).select("doc_id"))
      graft.sources.ManifestPrune.compactCommit(s, root, nFiles = 4)
      root
    }

  /** q_gdpr_erase's drained chain (fresh root → two erasure-stream
    * batches → compaction → expiry), built ONCE per (session, sf
    * dir): the full right-to-be-forgotten lifecycle — the DV deletes
    * land as sidecar-only versions via the SAME applyDeleteBatch the
    * streaming face's foreachBatch drives, compaction materializes
    * the accumulated vectors into clustered files, and vacuum
    * reclaims every pre-compaction file so the erased bytes are
    * physically gone, not merely hidden. */
  private def gdprChain(s: SparkSession, d: String): String =
    Tables.once("gdprCache", s, d) {
      val root = Tables.matDir(s"gdpr_chain_${System.nanoTime}", s, d)
      val docs = Tables.load(s, d, "documents")
      graft.sources.ManifestPrune.buildLayout(docs, root, nFiles = 8)
      graft.streaming.StreamingPipelines.applyDeleteBatch(
        docs.filter(col("doc_id") % 13 === 2).select("doc_id"), 0L, root)
      graft.streaming.StreamingPipelines.applyDeleteBatch(
        docs.filter(col("doc_id") % 17 === 4).select("doc_id"), 1L, root)
      graft.sources.ManifestPrune.compactCommit(s, root, nFiles = 4)
      graft.sources.ManifestPrune.expireVersions(s, root,
        keepLast = 1, graceMs = 0L)
      root
    }

  /** q_change_feed's chain (fresh root → CoW merge with update AND
    * insert batches → DV delete → compaction), built ONCE per
    * (session, sf dir): one commit of each kind, so the feed must
    * emit all three ops — and NOTHING for the compaction, whose
    * physical motion is not change. */
  private def changeFeedChain(s: SparkSession, d: String): String =
    Tables.once("feedCache", s, d) {
      val root = Tables.matDir(s"feed_chain_${System.nanoTime}", s, d)
      val docs = Tables.load(s, d, "documents")
      graft.sources.ManifestPrune.buildLayout(docs, root, nFiles = 8)
      // v1: update lang of doc_id ≡ 0 (mod 11) to a value no real row
      // carries, + insert shifted twins of doc_id ≡ 1 (mod 13)
      graft.sources.ManifestPrune.cowMergeCommit(s, root,
        docs.filter(col("doc_id") % 11 === 0)
          .select(col("doc_id"), lit("zz").as("new_lang")),
        docs.filter(col("doc_id") % 13 === 1)
          .select((col("doc_id") + 20000000L).as("doc_id"), col("text"),
            col("lang"), col("source"), col("n_chars")))
      // v2: DV delete of doc_id ≡ 3 (mod 7) among the ORIGINAL ids
      graft.sources.ManifestPrune.dvDeleteCommit(s, root,
        docs.filter(col("doc_id") % 7 === 3).select("doc_id"))
      // v3: compaction — physical rewrite, zero logical change
      graft.sources.ManifestPrune.compactCommit(s, root, nFiles = 4)
      root
    }

  /** The PERSISTED change feed of the shared chain (0, 3], written
    * ONCE per (session, sf dir) — the same convention as the dedup
    * pair tables: q_change_feed and q_mv_feed_refresh both consume
    * the identical feed, so computing the three-step
    * manifest/DV/key-diff pipeline once and reading parquet twice
    * halves the battery cost without weakening either hash gate (the
    * gates check the feed's CONTENT, which is unchanged). Row-count-
    * sized layout, no fixed-width write. */
  private def feedTable(s: SparkSession, d: String): DataFrame =
    s.read.parquet(Tables.once("feedTableCache", s, d) {
      val src = changeFeedChain(s, d)
      val dir = Tables.matDir("feed_table", s, d)
      val feed = graft.sources.ManifestPrune.changeFeed(s, src, 0L, 3L)
        .localCheckpoint()
      val nFiles = math.max(1L,
        (feed.count() + 2000000L - 1) / 2000000L).toInt
      feed.repartition(nFiles).write.mode("overwrite").parquet(dir)
      dir
    })

  /** q_merge_into's chain (fresh root → ONE general MERGE INTO
    * commit: multi-column SET + inserts + deletes), built ONCE per
    * (session, sf dir). */
  private def mergeIntoChain(s: SparkSession, d: String): String =
    Tables.once("mergeIntoCache", s, d) {
      val root = Tables.matDir(s"mi_chain_${System.nanoTime}", s, d)
      val docs = Tables.load(s, d, "documents")
      graft.sources.ManifestPrune.buildLayout(docs, root, nFiles = 8)
      graft.sources.ManifestPrune.mergeIntoCommit(s, root,
        docs.filter(col("doc_id") % 9 === 2)
          .select(col("doc_id"), lit("mm").as("lang"),
            lit("merged").as("source")),
        docs.filter(col("doc_id") % 31 === 3)
          .select((col("doc_id") + 30000000L).as("doc_id"), col("text"),
            col("lang"), col("source"), col("n_chars")),
        deletes = Some(docs.filter(col("doc_id") % 17 === 4)
          .select("doc_id")))
      root
    }

  /** q_mor_merge's chain (fresh root → TWO merge-on-read commits),
    * built ONCE per (session, sf dir). Same MERGE semantics as
    * q_merge_into's CoW commit, but the writes are DV-mask + delta
    * append (O(changed rows), no file rewrite); the second commit
    * re-updates a subset of the first commit's post-images, so the
    * gate proves chained masking — a delta row hidden by a LATER
    * delta — not just one sidecar generation. */
  private def morChain(s: SparkSession, d: String): String =
    Tables.once("morCache", s, d) {
      val root = Tables.matDir(s"mor_chain_${System.nanoTime}", s, d)
      val docs = Tables.load(s, d, "documents")
      graft.sources.ManifestPrune.buildLayout(docs, root, nFiles = 8)
      graft.sources.ManifestPrune.morMergeCommit(s, root,
        docs.filter(col("doc_id") % 9 === 2)
          .select(col("doc_id"), lit("mm").as("lang"),
            lit("merged").as("source")),
        docs.filter(col("doc_id") % 31 === 3)
          .select((col("doc_id") + 30000000L).as("doc_id"), col("text"),
            col("lang"), col("source"), col("n_chars")),
        deletes = Some(docs.filter(col("doc_id") % 17 === 4)
          .select("doc_id")))
      graft.sources.ManifestPrune.morMergeCommit(s, root,
        docs.filter(col("doc_id") % 9 === 2 && col("doc_id") % 2 === 0
            && col("doc_id") % 17 =!= 4)
          .select(col("doc_id"), lit("m2").as("lang")),
        docs.limit(0).select(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars")))
      root
    }

  /** q_eq_delete's chain (fresh root → PURE-METADATA equality delete
    * v1 → MoR upsert v2 whose entry fold materializes the accumulated
    * keys into positional form → a second equality delete v3 on the
    * folded chain → compaction v4), built ONCE per (session, sf dir):
    * the full Iceberg-v2 equality-delete lifecycle — O(keys) commit,
    * read-side anti-join, fold-on-next-write, physical
    * materialization — whose head read the oracle replays. */
  private def eqDeleteChain(s: SparkSession, d: String): String =
    Tables.once("eqCache", s, d) {
      val root = Tables.matDir(s"eq_chain_${System.nanoTime}", s, d)
      val docs = Tables.load(s, d, "documents")
      graft.sources.ManifestPrune.buildLayout(docs, root, nFiles = 8)
      graft.sources.ManifestPrune.eqDeleteCommit(s, root,
        docs.filter(col("doc_id") % 11 === 4).select("doc_id"))
      graft.sources.ManifestPrune.morMergeCommit(s, root,
        docs.filter(col("doc_id") % 13 === 2)
          .select(col("doc_id"), lit("ee").as("lang")),
        docs.limit(0).select(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars")))
      graft.sources.ManifestPrune.eqDeleteCommit(s, root,
        docs.filter(col("doc_id") % 17 === 6).select("doc_id"))
      graft.sources.ManifestPrune.compactCommit(s, root, nFiles = 4)
      root
    }

  /** q_table_sink's chain, driven entirely through the graft-table
    * STREAMING SINK's per-batch applier (append → upsert → delete,
    * one committed version each — the writeStream face's exact code
    * path, exercised batch-wise like the GDPR chain), built ONCE per
    * (session, sf dir). */
  private def sinkChain(s: SparkSession, d: String): String =
    Tables.once("sinkCache", s, d) {
      val root = Tables.matDir(s"sink_chain_${System.nanoTime}", s, d)
      val docs = Tables.load(s, d, "documents")
      graft.sources.ManifestPrune.buildLayout(
        docs.filter(col("doc_id") < 400), root, nFiles = 4)
      // batch 0: append the rest of the corpus
      graft.streaming.StreamingPipelines.applySinkBatch(
        docs.filter(col("doc_id") >= 400), 0L, root, "append", "doc_id")
      // batch 1: upsert — existing keys re-languaged + brand-new ids
      graft.streaming.StreamingPipelines.applySinkBatch(
        docs.filter(col("doc_id") % 10 === 4)
          .withColumn("lang", lit("up"))
          .unionByName(docs.filter(col("doc_id") < 20)
            .withColumn("doc_id", col("doc_id") + 1000000L)),
        1L, root, "upsert", "doc_id")
      // batch 2: equality-delete a key set (pure metadata)
      graft.streaming.StreamingPipelines.applySinkBatch(
        docs.filter(col("doc_id") % 23 === 5), 2L, root, "delete",
        "doc_id")
      root
    }

  /** q_colocated_join's pair of BUCKETED tables (documents-meta and
    * embeddings-meta, both bucketed 8 ways on the join key), written
    * ONCE per (session, sf dir) through Spark's native bucketing
    * (`bucketBy` + `saveAsTable`, external paths under the battery's
    * scratch dir). Bucketing is the persisted co-location every
    * 100 TB star join wants: both sides land pre-hashed on the key,
    * so the join needs NO Exchange on either side — the shuffle is
    * paid once at write time and amortized over every later join
    * (ColocatedJoinSpec pins the zero-Exchange plan with broadcast
    * disabled). */
  private def bucketedTables(s: SparkSession,
                             d: String): (String, String) =
    Tables.once("bucketedCache", s, d) {
      val suf = d.replaceAll("[^A-Za-z0-9]", "_") + "_" +
        java.lang.Integer.toHexString(System.identityHashCode(s))
      val t1 = s"graft_docs_bkt_$suf"
      val t2 = s"graft_emb_bkt_$suf"
      Tables.load(s, d, "documents")
        .select("doc_id", "lang", "n_chars")
        .write.mode("overwrite")
        .option("path", Tables.matDir("bkt_docs", s, d))
        .bucketBy(8, "doc_id").sortBy("doc_id")
        .format("parquet").saveAsTable(t1)
      Tables.load(s, d, "embeddings")
        .select(col("vec_id").as("doc_id"), col("label"))
        .write.mode("overwrite")
        .option("path", Tables.matDir("bkt_emb", s, d))
        .bucketBy(8, "doc_id").sortBy("doc_id")
        .format("parquet").saveAsTable(t2)
      (t1, t2)
    }

  /** q_sql_prune_str's lang-clustered DDL chain, one per
    * (session, sf dir); holds the registered table name. */
  private def langChainTable(s: SparkSession, d: String): String =
    Tables.once("langChainCache", s, d) {
      val r = Tables.matDir(s"langchain_${System.nanoTime}", s, d)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftCatalog].getName)
      val tbl = s"lng.t_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      s.sql(s"""CREATE TABLE graft.$tbl (
               |  doc_id BIGINT, lang STRING, n_chars BIGINT)
               |USING graft LOCATION '$r'
               |TBLPROPERTIES ('cluster'='lang|lang,doc_id',
               |  'key'='doc_id')""".stripMargin)
      val view = s"lng_src_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      Tables.load(s, d, "documents")
        .select("doc_id", "lang", "n_chars")
        .createOrReplaceTempView(view)
      s.sql(s"INSERT INTO graft.$tbl " +
        s"SELECT doc_id, lang, n_chars FROM $view")
      graft.sources.ManifestPrune.compactCommit(s, r, nFiles = 8)
      tbl
    }

  /** q_sql_prune_multi's (lang, n_chars)-clustered chain — the
    * layout whose per-file COLUMN stats make both dimensions
    * prunable; holds the chain root. */
  private def multiStatChain(s: SparkSession, d: String): String =
    Tables.once("multiStatCache", s, d) {
      val r = Tables.matDir(s"multistat_${System.nanoTime}", s, d)
      graft.sources.ManifestPrune.buildLayout(
        Tables.load(s, d, "documents"), r, nFiles = 16,
        clusterCols = Seq("lang", "n_chars"))
      r
    }

  /** q_sql_topn's doc_id-clustered chain (spec still stats n_chars,
    * so the ORDER BY doc_id pruning exercises the cstats path). */
  private def docIdChain(s: SparkSession, d: String): String =
    Tables.once("docIdChainCache", s, d) {
      val r = Tables.matDir(s"docidchain_${System.nanoTime}", s, d)
      graft.sources.ManifestPrune.buildLayout(
        Tables.load(s, d, "documents"), r, nFiles = 16,
        clusterCols = Seq("doc_id"))
      r
    }

  /** q_sql_agg_group's per-lang-committed chain: one INSERT per lang
    * makes every committed file lang-constant — the layout an
    * identity-partitioned ingest produces, which is exactly what the
    * metadata GROUP BY rollup requires. Shared with
    * q_sql_distinct_push (battery order must not matter). */
  private def groupAggTable(s: SparkSession, d: String): String = {
    s.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    val root = Tables.once("groupAggCache", s, d) {
      val MP = graft.sources.ManifestPrune
      val docs = graft.Tables.load(s, d, "documents")
        .select("doc_id", "lang", "n_chars")
      val langs = docs.select("lang").distinct().collect()
        .map(_.getString(0)).sorted
      val r = graft.Tables.matDir(s"gbychain_${System.nanoTime}",
        s, d)
      MP.buildLayout(docs.filter(col("lang") === langs.head), r,
        nFiles = 4, clusterCols = Seq("doc_id"))
      langs.tail.foreach { l =>
        MP.appendCommit(s, r, docs.filter(col("lang") === l))
      }
      r
    }
    val tbl = s"prn.gby_${d.replaceAll("[^A-Za-z0-9]", "_")}"
    graft.sources.GraftCatalog.registerTable(tbl, root)
    tbl
  }

  /** q_sql_rewrite_grouped's chain: built MIXED (range-clustered by
    * doc_id), then group-constant-rewritten once via the CALL. */
  private def rewriteGroupedChain(s: SparkSession, d: String): String =
    Tables.once("rewriteGroupedCache", s, d) {
      val MP = graft.sources.ManifestPrune
      val r = graft.Tables.matDir(s"rgchain_${System.nanoTime}",
        s, d)
      MP.buildLayout(graft.Tables.load(s, d, "documents")
        .select("doc_id", "lang", "n_chars"), r, nFiles = 8,
        clusterCols = Seq("doc_id"))
      val tbl0 = s"prn.rg_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      graft.sources.GraftCatalog.registerTable(tbl0, r)
      s.sql(s"CALL graft.system.rewrite_grouped(" +
        s"table => '$tbl0', column => 'lang', " +
        s"target_files => 8)").collect()
      r
    }

  /** q_sql_topn_str's tag-clustered chain (unique string key; the
    * ORDER BY tag pruning exercises the cstats_str path). */
  private def strTopNChain(s: SparkSession, d: String): String =
    Tables.once("strTopNCache", s, d) {
      val r = Tables.matDir(s"strtopn_${System.nanoTime}", s, d)
      graft.sources.ManifestPrune.buildLayout(
        Tables.load(s, d, "documents")
          .withColumn("tag", concat_ws("-", col("lang"),
            lpad(col("doc_id").cast("string"), 9, "0")))
          .select("doc_id", "tag", "lang", "n_chars"),
        r, nFiles = 16, clusterCols = Seq("tag"))
      r
    }

  /** q_spj_join's pair of co-BUCKETED chain tables (documents and
    * embeddings-meta, both bucketed 8 ways on the join key through
    * SpjBucket.buildBucketedLayout), registered in the SQL catalog
    * ONCE per (session, sf dir). Unlike q_colocated_join's Spark-
    * native bucketBy tables, these are CHAIN tables — versioned,
    * DV-maskable, SQL-writable — whose scans report
    * KeyGroupedPartitioning(bucket(8, doc_id)). */
  private def spjTables(s: SparkSession, d: String): (String, String) =
    Tables.once("spjCache", s, d) {
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftCatalog].getName)
      s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val suf = d.replaceAll("[^A-Za-z0-9]", "_")
      val rootA = Tables.matDir(s"spj_docs_${System.nanoTime}", s, d)
      val rootB = Tables.matDir(s"spj_emb_${System.nanoTime}", s, d)
      graft.sources.SpjBucket.buildBucketedLayout(
        Tables.load(s, d, "documents"), rootA, "doc_id", 8)
      graft.sources.SpjBucket.buildBucketedLayout(
        Tables.load(s, d, "embeddings")
          .select(col("vec_id").as("doc_id"), col("label")),
        rootB, "doc_id", 8, statsCol = "doc_id")
      val ta = s"spj.docs_$suf"
      val tb = s"spj.emb_$suf"
      graft.sources.GraftCatalog.registerTable(ta, rootA)
      graft.sources.GraftCatalog.registerTable(tb, rootB)
      (ta, tb)
    }

  /** q_point_lookup's chain (layout → DV delete v1 → per-file bloom
    * index over doc_id), built ONCE per (session, sf dir). */
  private def bloomChain(s: SparkSession, d: String): String =
    Tables.once("bloomCache", s, d) {
      val root = Tables.matDir(s"bloom_chain_${System.nanoTime}", s, d)
      val docs = Tables.load(s, d, "documents")
      graft.sources.ManifestPrune.buildLayout(docs, root, nFiles = 8)
      graft.sources.ManifestPrune.dvDeleteCommit(s, root,
        docs.filter(col("doc_id") % 7 === 3).select("doc_id"))
      graft.sources.BloomIndex.build(s, root, 1L)
      root
    }

  /** q_point_lookup_branch's chain: the bloom chain's shape forked —
    * main: layout → DV delete v1 → bloom build; branch at v1 takes an
    * equality delete (folded by the next commit) and an append, then
    * EXTENDS the index from the parent-resolved sketches. Built ONCE
    * per (session, sf dir); returns the branch root. */
  private def bloomBranchChain(s: SparkSession, d: String): String =
    Tables.once("bloomBranchCache", s, d) {
      import graft.sources.{BloomIndex, ManifestPrune}
      val root = Tables.matDir(s"bloombr_chain_${System.nanoTime}", s, d)
      val docs = Tables.load(s, d, "documents")
      ManifestPrune.buildLayout(docs, root, nFiles = 8)
      ManifestPrune.dvDeleteCommit(s, root,
        docs.filter(col("doc_id") % 7 === 3).select("doc_id"))
      BloomIndex.build(s, root, 1L)
      val br = ManifestPrune.createBranch(s, root, "lookup", 1L)
      ManifestPrune.eqDeleteCommit(s, br,
        docs.filter(col("doc_id") % 11 === 5).select("doc_id"))
      ManifestPrune.appendCommit(s, br,
        s.range(1).select(lit(87000001L).as("doc_id"),
          lit("branch row").as("text"), lit("bb").as("lang"),
          lit("s0").as("source"), lit(10L).as("n_chars")))
      BloomIndex.extend(s, br, 0L, 2L)
      br
    }

  /** q_clone's pair of chains (source: layout → DV delete; clone at
    * the head; clone-side MoR update; SOURCE-side divergence the
    * clone must not see), built ONCE per (session, sf dir). */
  private def clonedChain(s: SparkSession, d: String): String =
    Tables.once("cloneCache", s, d) {
      val src = Tables.matDir(s"clone_src_${System.nanoTime}", s, d)
      val dst = Tables.matDir(s"clone_dst_${System.nanoTime}", s, d)
      val docs = Tables.load(s, d, "documents")
      graft.sources.ManifestPrune.buildLayout(docs, src, nFiles = 8)
      graft.sources.ManifestPrune.dvDeleteCommit(s, src,
        docs.filter(col("doc_id") % 7 === 3).select("doc_id"))
      graft.sources.ManifestPrune.cloneTable(s, src, dst)
      graft.sources.ManifestPrune.morMergeCommit(s, dst,
        docs.filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), lit("cc").as("lang")),
        docs.limit(0).select(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars")))
      // the source diverges AFTER the clone — invisible to the clone
      graft.sources.ManifestPrune.dvDeleteCommit(s, src,
        docs.filter(col("doc_id") % 19 === 8).select("doc_id"))
      dst
    }

  /** q_spec_evolution's chain (fresh root → DV delete v1 → evolve
    * clustering to doc_id v2 → compaction v3 that physically applies
    * the new spec), built ONCE per (session, sf dir). */
  private def specEvoChain(s: SparkSession, d: String): String =
    Tables.once("specEvoCache", s, d) {
      val MP = graft.sources.ManifestPrune
      val root = Tables.matDir(s"spec_chain_${System.nanoTime}", s, d)
      val docs = Tables.load(s, d, "documents")
      MP.buildLayout(docs, root, nFiles = 8)
      MP.dvDeleteCommit(s, root,
        docs.filter(col("doc_id") % 7 === 3).select("doc_id"))
      MP.evolveClustering(s, root, "doc_id", Seq("doc_id"))
      MP.compactCommit(s, root, nFiles = 8)
      root
    }

  /** q_branch_merge's chain (fresh root → branch at v0 → ONE general
    * MERGE on the BRANCH: update+insert+DV-delete → audit via the
    * table's CHECK constraint → fast-forward onto main), built ONCE
    * per (session, sf dir). The branch commit interleaves a CoW
    * rewrite with a deletion-vector sidecar, so the fast-forward
    * also proves the sidecar rehoming path. */
  private def branchChain(s: SparkSession, d: String): String =
    Tables.once("branchCache", s, d) {
      val MP = graft.sources.ManifestPrune
      val root = Tables.matDir(s"br_chain_${System.nanoTime}", s, d)
      val docs = Tables.load(s, d, "documents")
      MP.buildLayout(docs, root, nFiles = 8)
      MP.addConstraint(root, "ids-positive", "doc_id >= 0")
      MP.createBranch(s, root, "wap", fromVersion = 0L)
      val br = MP.branchRoot(root, "wap")
      MP.mergeIntoCommit(s, br,
        docs.filter(col("doc_id") % 11 === 5)
          .select(col("doc_id"), lit("bb").as("lang"),
            lit("branch").as("source")),
        docs.filter(col("doc_id") % 41 === 6)
          .select((col("doc_id") + 40000000L).as("doc_id"), col("text"),
            col("lang"), col("source"), col("n_chars")))
      MP.dvDeleteCommit(s, br,
        docs.filter(col("doc_id") % 23 === 9).select("doc_id"))
      // audit-then-publish: the WAP gate before main adopts anything
      MP.validateConstraints(s, br, MP.currentVersion(s, br))
      MP.fastForward(s, root, "wap")
      root
    }

  /** q_branch_rebase's chain (fresh root → branch updates ODD keys →
    * main diverges deleting EVEN keys → in-place rebase applies
    * main's feed onto the branch → fast-forward), built ONCE per
    * (session, sf dir). */
  private def rebaseChain(s: SparkSession, d: String): String =
    Tables.once("rebaseCache", s, d) {
      val MP = graft.sources.ManifestPrune
      val root = Tables.matDir(s"rb_chain_${System.nanoTime}", s, d)
      val docs = Tables.load(s, d, "documents")
      MP.buildLayout(docs, root, nFiles = 8)
      MP.createBranch(s, root, "feat", fromVersion = 0L)
      val br = MP.branchRoot(root, "feat")
      MP.mergeIntoCommit(s, br,
        docs.filter(col("doc_id") % 2 === 1 && col("doc_id") % 5 === 2)
          .select(col("doc_id"), lit("rb").as("lang")),
        docs.limit(0).select(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars")))
      MP.dvDeleteCommit(s, root,
        docs.filter(col("doc_id") % 2 === 0 && col("doc_id") % 13 === 4)
          .select("doc_id"))
      MP.rebaseBranch(s, root, "feat")
      MP.fastForward(s, root, "feat")
      root
    }

  /** q_restore's chain (fresh root → DV delete → "bad" CoW merge →
    * RESTORE of the pre-merge version as the new head), built ONCE
    * per (session, sf dir). */
  private def restoreChain(s: SparkSession, d: String): String =
    Tables.once("restoreCache", s, d) {
      val MP = graft.sources.ManifestPrune
      val root = Tables.matDir(s"rs_chain_${System.nanoTime}", s, d)
      val docs = Tables.load(s, d, "documents")
      MP.buildLayout(docs, root, nFiles = 8)
      MP.dvDeleteCommit(s, root,
        docs.filter(col("doc_id") % 7 === 2).select("doc_id"))
      MP.mergeIntoCommit(s, root,
        docs.filter(col("doc_id") % 5 === 1)
          .select(col("doc_id"), lit("bad").as("lang")),
        docs.limit(0).select(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars")))
      MP.restoreVersion(s, root, 1L)
      root
    }

  /** q_replicate's replica chain, built ONCE per (session, sf dir):
    * same base layout as the (cached) change-feed source chain, then
    * converged purely by replicateFeed over the source's 3 steps. */
  private def replicaChain(s: SparkSession, d: String): String =
    Tables.once("replicaCache", s, d) {
      val src = changeFeedChain(s, d)
      val dst = Tables.matDir(s"replica_chain_${System.nanoTime}", s, d)
      graft.sources.ManifestPrune.buildLayout(
        Tables.load(s, d, "documents"), dst, nFiles = 8)
      // round 12: the replica is driven through the `graft-table`
      // STREAMING source (versions as offsets, checkpointed cursor,
      // AvailableNow catch-up) — the hash gate downstream now proves
      // the whole DSv2 stream path, not just the batch applier it
      // shares with replicateFeed
      val ck = Tables.matDir(s"replica_ck_${System.nanoTime}", s, d)
      val q = graft.streaming.StreamingPipelines
        .replicateStream(s, src, dst)
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(300000); q.stop()
      dst
    }

  /** q_time_travel's chain (fresh root → DV delete v1 → DV delete
    * v2) plus the two commit instants, built ONCE per (session, sf
    * dir). A fixed sleep between commits can NOT guarantee distinct
    * marker mtimes on a coarse-granularity filesystem (1 s mtimes
    * would stamp both commits into the same second no matter how the
    * sleep is sized), so instead the v2 marker is nudged FORWARD
    * until the timeline actually orders the commits — `as of t1`
    * then provably resolves to v1 at any mtime granularity. */
  private def travelChain(s: SparkSession,
                          d: String): (String, Long, Long) =
    Tables.once("travelCache", s, d) {
      import graft.sources.ManifestPrune
      val root = Tables.matDir(s"travel_chain_${System.nanoTime}", s, d)
      val docs = Tables.load(s, d, "documents")
      ManifestPrune.buildLayout(docs, root, nFiles = 8)
      val v1 = ManifestPrune.dvDeleteCommit(s, root,
        docs.filter(col("doc_id") % 7 === 3).select("doc_id"))
      val t1 = ManifestPrune.commitTimeMs(root, v1).get
      val v2 = ManifestPrune.dvDeleteCommit(s, root,
        docs.filter(col("doc_id") % 5 === 1).select("doc_id"))
      // commit timestamps live INSIDE the markers and are strictly
      // monotonic by protocol (tryCommit stamps max(now, prev+1)), so
      // t2 > t1 holds by construction — no mtime-granularity nudging
      val t2 = ManifestPrune.commitTimeMs(root, v2).get
      assert(t2 > t1, s"marker timeline not monotonic: $t1 -> $t2")
      (root, t1, t2)
    }

  /** q_sql_catalog's chain, built ONCE per (session, sf dir) and
    * mutated ONCE through the SQL face itself: base layout →
    * `INSERT INTO` (two deterministic rows) → `DELETE FROM ... WHERE`
    * (a predicate with arithmetic, exercising the V2-predicate
    * translation). The gated query then only SELECTs, so the battery
    * stays idempotent; the oracle replays insert+delete over the base
    * parquet. Returns the registered `graft.`-relative table name. */
  private def sqlCatalogTable(s: SparkSession, d: String): String =
    Tables.once("sqlCatCache", s, d) {
      val root = Tables.matDir(s"sqlcat_chain_${System.nanoTime}", s, d)
      graft.sources.ManifestPrune.buildLayout(
        Tables.load(s, d, "documents"), root, nFiles = 8)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftCatalog].getName)
      val tbl = s"sqlq.t_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      graft.sources.GraftCatalog.registerTable(tbl, root)
      s.sql(s"""INSERT INTO graft.$tbl VALUES
               |  (91000001, 'sql inserted row one', 'sq', 'src0', 20),
               |  (91000003, 'sql inserted row two', 'sq', 'src0', 20)
               |""".stripMargin)
      s.sql(s"DELETE FROM graft.$tbl WHERE doc_id % 9 = 2 " +
        "AND lang <> 'sq'")
      tbl
    }

  /** q_sql_merge's chain: base layout, then ONE deterministic SQL
    * MERGE INTO through the catalog's delta-based row-level operation
    * (matched-delete + matched-update + not-matched-insert clauses in
    * one command, committed as one merge-on-read version). The gated
    * query only SELECTs; the oracle replays the merge arithmetic. */
  private def sqlMergeTable(s: SparkSession, d: String): String =
    Tables.once("sqlMergeCache", s, d) {
      val root = Tables.matDir(s"sqlmerge_chain_${System.nanoTime}", s, d)
      val docs = Tables.load(s, d, "documents")
      graft.sources.ManifestPrune.buildLayout(docs, root, nFiles = 8)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftCatalog].getName)
      val suffix = d.replaceAll("[^A-Za-z0-9]", "_")
      val tbl = s"mrg.t_$suffix"
      graft.sources.GraftCatalog.registerTable(tbl, root)
      val view = s"merge_src_$suffix"
      docs.filter(col("doc_id") % 9 === 1)
        .select(col("doc_id"), lit("mg").as("lang"))
        .unionByName(docs.orderBy("doc_id").limit(2)
          .select((col("doc_id") + 40000000L).as("doc_id"),
            lit("mg").as("lang")))
        .createOrReplaceTempView(view)
      s.sql(s"""MERGE INTO graft.$tbl AS t
               |USING $view AS s
               |ON t.doc_id = s.doc_id
               |WHEN MATCHED AND t.doc_id % 27 = 10 THEN DELETE
               |WHEN MATCHED THEN UPDATE SET t.lang = s.lang
               |WHEN NOT MATCHED THEN INSERT
               |  (doc_id, text, lang, source, n_chars)
               |  VALUES (s.doc_id, 'merged row', s.lang, 'sql', 10)
               |""".stripMargin)
      tbl
    }

  /** q_sql_ddl's table: built PURELY through `spark.sql` DDL+DML —
    * `CREATE TABLE … USING graft` (bootstraps an empty chain with a
    * declared clustering spec), `ALTER TABLE … ADD CONSTRAINT … CHECK`
    * (enforced on every later commit), then two INSERTs (a
    * SELECT-sourced append and a literal row). The gated query only
    * SELECTs; the oracle replays the inserts over the base parquet. */
  private def sqlDdlTable(s: SparkSession, d: String): String =
    Tables.once("sqlDdlCache", s, d) {
      val root = Tables.matDir(s"sqlddl_chain_${System.nanoTime}", s, d)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftCatalog].getName)
      val suffix = d.replaceAll("[^A-Za-z0-9]", "_")
      val tbl = s"ddl.t_$suffix"
      s.sql(s"""CREATE TABLE graft.$tbl (
               |  doc_id BIGINT, text STRING, lang STRING,
               |  source STRING, n_chars BIGINT)
               |USING graft LOCATION '$root'
               |TBLPROPERTIES ('cluster'='doc_id|doc_id',
               |  'key'='doc_id')""".stripMargin)
      s.sql(s"ALTER TABLE graft.$tbl ADD CONSTRAINT chars_nonneg " +
        "CHECK (n_chars >= 0)")
      val view = s"ddl_src_$suffix"
      Tables.load(s, d, "documents").createOrReplaceTempView(view)
      s.sql(s"""INSERT INTO graft.$tbl
               |SELECT doc_id, text, lang, source, n_chars
               |FROM $view WHERE doc_id % 4 = 1""".stripMargin)
      s.sql(s"INSERT INTO graft.$tbl VALUES " +
        "(92000001, 'ddl literal row', 'dd', 'ddl', 7)")
      tbl
    }

  /** q_sql_rename_column's table: a documents chain evolved by
    * `RENAME COLUMN lang TO language` then `DROP COLUMN source` (both
    * metadata-only commits), with a post-rename append — so the gated
    * read spans files of BOTH physical generations (pre-rename files
    * hold `lang`, the appended file holds `language`) and a schema
    * that lost a column without touching a byte of data. */
  private def sqlRenameTable(s: SparkSession, d: String): String =
    Tables.once("sqlRenameCache", s, d) {
      val root = Tables.matDir(s"sqlrename_chain_${System.nanoTime}", s, d)
      graft.sources.ManifestPrune.buildLayout(
        Tables.load(s, d, "documents"), root, nFiles = 8)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftCatalog].getName)
      val tbl = s"rnm.t_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      graft.sources.GraftCatalog.registerTable(tbl, root)
      s.sql(s"ALTER TABLE graft.$tbl RENAME COLUMN lang TO language")
      s.sql(s"ALTER TABLE graft.$tbl DROP COLUMN source")
      s.sql(s"INSERT INTO graft.$tbl VALUES " +
        "(94000001, 'renamed-generation row', 'rn', 9)")
      tbl
    }

  /** q_sql_call's table: the maintenance lifecycle driven PURELY by
    * `CALL graft.system.<proc>` (Spark 4 ProcedureCatalog): tag v0
    * 'raw', SQL-DELETE a third of the rows (v1), `compact` (v2),
    * `expire_versions(keep_last => 1, grace_ms => 0)` — v1 is
    * destroyed but the TAGGED v0 survives any keepLast (tags are the
    * retention anchor). The gated query reads head rows beside the
    * tag's surviving row count, so a broken compaction, an
    * over-eager vacuum, or a tag that failed to anchor all break the
    * hash. */
  private def sqlCallTable(s: SparkSession, d: String): String =
    Tables.once("sqlCallCache", s, d) {
      val root = Tables.matDir(s"sqlcall_chain_${System.nanoTime}", s, d)
      graft.sources.ManifestPrune.buildLayout(
        Tables.load(s, d, "documents"), root, nFiles = 8)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftCatalog].getName)
      val tbl = s"prc.t_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      graft.sources.GraftCatalog.registerTable(tbl, root)
      s.sql(s"CALL graft.system.create_tag(table => '$tbl', " +
        "name => 'raw', version => 0)")
      s.sql(s"DELETE FROM graft.$tbl WHERE doc_id % 3 = 0")
      s.sql(s"CALL graft.system.compact(table => '$tbl', " +
        "target_files => 4)")
      s.sql(s"CALL graft.system.expire_versions(table => '$tbl', " +
        "keep_last => 1, grace_ms => 0)")
      tbl
    }

  /** q_sql_add_column's table: a documents chain widened by
    * `ALTER TABLE … ADD COLUMN note STRING` (a metadata-only
    * declared-schema commit) and then appended through SQL with the
    * new column populated — pre-evolution rows must surface NULL. */
  private def sqlAddColTable(s: SparkSession, d: String): String =
    Tables.once("sqlAddColCache", s, d) {
      val root = Tables.matDir(s"sqladdcol_chain_${System.nanoTime}", s, d)
      graft.sources.ManifestPrune.buildLayout(
        Tables.load(s, d, "documents"), root, nFiles = 8)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftCatalog].getName)
      val tbl = s"adc.t_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      graft.sources.GraftCatalog.registerTable(tbl, root)
      s.sql(s"ALTER TABLE graft.$tbl ADD COLUMN note STRING")
      s.sql(s"INSERT INTO graft.$tbl VALUES " +
        "(93000001, 'widened row one', 'ac', 'ddl', 8, 'noted'), " +
        "(93000003, 'widened row two', 'ac', 'ddl', 8, NULL)")
      tbl
    }

  /** q_stream_table's sink dir: a chain streamed through the catalog
    * row stream in two phases — snapshot of the v0 base, then (after
    * an append commit) a checkpoint resume that receives ONLY the
    * appended files. Built once per (session, sf dir). */
  private def streamTableSink(s: SparkSession, d: String): String =
    Tables.once("streamTblCache", s, d) {
      val docs = Tables.load(s, d, "documents")
      val root = Tables.matDir(s"streamtbl_chain_${System.nanoTime}", s, d)
      graft.sources.ManifestPrune.buildLayout(docs, root, nFiles = 8)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftCatalog].getName)
      val tbl = s"strm.t_${d.replaceAll("[^A-Za-z0-9]", "_")}"
      graft.sources.GraftCatalog.registerTable(tbl, root)
      val out = Tables.matDir(s"streamtbl_out_${System.nanoTime}", s, d)
      def drain(): Unit = {
        val q = s.readStream.table(s"graft.$tbl")
          .writeStream
          .option("checkpointLocation", s"$out/_ck")
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             _: Long) =>
              b.toDF().write.mode("append").parquet(s"$out/rows")
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(300000); q.stop()
      }
      drain() // phase 1: the v0 snapshot
      graft.sources.ManifestPrune.appendCommit(s, root,
        docs.filter(col("doc_id") % 13 === 2)
          .select((col("doc_id") + 80000000L).as("doc_id"), col("text"),
            lit("st").as("lang"), col("source"), col("n_chars")))
      drain() // phase 2: only the appended files
      out
    }

  /** q_dpp_join's hive-partitioned events layout (partition column =
    * event_type), written once per (session, sf dir). */
  private def dppLayout(s: SparkSession, d: String): String =
    Tables.once("dppCache", s, d) {
      val dir = Tables.matDir("dpp_events", s, d)
      Tables.load(s, d, "events").write.mode("overwrite")
        .partitionBy("event_type").parquet(dir)
      dir
    }

  /** q_mv_refresh's historical partial-aggregate table (l_shipdate
    * before the cutoff), written once per (session, sf dir) with
    * MERGEABLE columns: DECIMAL partial sums + partial counts. */
  private def mvRefreshBase(s: SparkSession, d: String,
                            cutoff: String): String =
    Tables.once("mvBaseCache", s, d) {
      val dir = Tables.matDir("mv_pricing_base", s, d)
      Tables.load(s, d, "lineitem")
        .filter(col("l_shipdate") < lit(cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("p_qty"),
          count(lit(1)).as("p_cnt"))
        .write.mode("overwrite").parquet(dir)
      dir
    }

  /** The SCD2 versioned dimension (q_scd2_merge's history), shared
    * with the point-in-time lookup q_pit_join: (c_custkey, segment,
    * valid_from, valid_to, is_current). See q_scd2_merge's comment
    * for the change-detection rules. */
  private def scd2History(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cur = Tables.load(s, d, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val bucket = pmod(conv(substring(md5(col("c_custkey")
      .cast(StringType)), 1, 8), 16, 10).cast(LongType), lit(100L))
    val rot = when(col("c_mktsegment") === "BUILDING", "MACHINERY")
      .when(col("c_mktsegment") === "MACHINERY", "AUTOMOBILE")
      .when(col("c_mktsegment") === "AUTOMOBILE", "HOUSEHOLD")
      .when(col("c_mktsegment") === "HOUSEHOLD", "FURNITURE")
      .otherwise("BUILDING")
    val upd = cur.filter(bucket < 20)
      .select(col("c_custkey"),
        when(bucket < 10, rot).otherwise(col("c_mktsegment"))
          .as("segment"),
        col("c_mktsegment"))
      .filter(col("segment") =!= col("c_mktsegment")) // drop no-ops
      .select(col("c_custkey"), col("segment"), lit(1L).as("version"))
    val hist = cur
      .select(col("c_custkey"), col("c_mktsegment").as("segment"),
        lit(0L).as("version"))
      .unionByName(upd)
    val w = Window.partitionBy("c_custkey").orderBy("version")
    hist
      .withColumn("valid_to", lead(col("version"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull.cast(LongType))
      .select(col("c_custkey"), col("segment"),
        col("version").as("valid_from"), col("valid_to"),
        col("is_current"))
  }

  /** The matching oracle CTE chain ending in hist2(c_custkey, segment,
    * valid_from, valid_to, is_current). */
  private val scd2OracleCtes: String =
    """cur AS (SELECT c_custkey, c_mktsegment FROM customer),
      |b AS (
      |  SELECT c_custkey, c_mktsegment,
      |    CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))
      |      AS BIGINT) % 100 AS bucket,
      |    CASE c_mktsegment
      |      WHEN 'BUILDING' THEN 'MACHINERY'
      |      WHEN 'MACHINERY' THEN 'AUTOMOBILE'
      |      WHEN 'AUTOMOBILE' THEN 'HOUSEHOLD'
      |      WHEN 'HOUSEHOLD' THEN 'FURNITURE'
      |      ELSE 'BUILDING' END AS rot
      |  FROM cur),
      |upd AS (
      |  SELECT c_custkey,
      |    CASE WHEN bucket < 10 THEN rot ELSE c_mktsegment END AS segment,
      |    c_mktsegment
      |  FROM b WHERE bucket < 20),
      |hist AS (
      |  SELECT c_custkey, c_mktsegment AS segment,
      |    CAST(0 AS BIGINT) AS version FROM cur
      |  UNION ALL
      |  SELECT c_custkey, segment, CAST(1 AS BIGINT) AS version
      |  FROM upd WHERE segment <> c_mktsegment),
      |hist2 AS (
      |  SELECT c_custkey, segment, version AS valid_from,
      |    lead(version) OVER (PARTITION BY c_custkey ORDER BY version)
      |      AS valid_to,
      |    CAST(lead(version) OVER (PARTITION BY c_custkey ORDER BY version)
      |      IS NULL AS BIGINT) AS is_current
      |  FROM hist)""".stripMargin

  val all: Seq[Q] = Seq(

    // S-scan + projection + predicate (pushed to parquet: check
    // PushedFilters/ReadSchema in .explain)
    Q("q_scan_filter_project",
      (s, d) => Tables.load(s, d, "lineitem")
        .filter(col("l_quantity") >= 45 && col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |WHERE l_quantity >= 45 AND l_returnflag = 'R'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // F1: substring-contains predicate bank (the reference's namespace
    // filter shape, CountReference.java:254-256)
    Q("q_contains_filter",
      (s, d) => Tables.load(s, d, "part")
        .filter(!(col("p_type").contains("PROMO") ||
                  col("p_type").contains("ECONOMY")))
        .select("p_partkey", "p_type")
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, p_type FROM part
             |WHERE NOT (p_type LIKE '%PROMO%' OR p_type LIKE '%ECONOMY%')
             |ORDER BY p_partkey""".stripMargin)),

    // A1: DISTINCT over a composite key (CountReference.java:269-276)
    Q("q_distinct_pairs",
      (s, d) => Tables.load(s, d, "lineitem")
        .select("l_orderkey", "l_suppkey").distinct()
        .orderBy("l_orderkey", "l_suppkey"),
      Some("""SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
             |ORDER BY l_orderkey, l_suppkey""".stripMargin)),

    // A2: count per key (job 2 of the reference, CountReference.java:298-305)
    Q("q_count_per_key",
      (s, d) => Tables.load(s, d, "orders")
        .groupBy("o_custkey").agg(count(lit(1)).as("cnt"))
        .orderBy("o_custkey"),
      Some("""SELECT o_custkey, count(*) AS cnt FROM orders
             |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)),

    // A1+A2 fused: exact countDistinct (the whole reference cascade)
    Q("q_count_distinct",
      (s, d) => Tables.load(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_orderkey")).as("n_orders"),
             count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders,
             |count(*) AS n_rows FROM lineitem
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // approximate countDistinct (HLL++): the 100 TB sibling of the exact
    // operator. Internals can't cross engines, so the oracle verifies
    // the ACCURACY CONTRACT instead: the emitted flag says Spark's
    // estimate landed within 5% of exact, and DuckDB's side asserts the
    // flag is 1 alongside the exact counts — a hash match proves both
    // the exact values and the estimator's bound.
    Q("q_approx_distinct",
      (s, d) => {
        // exact and approx aggregated SEPARATELY then joined on the tiny
        // grouped result: one groupBy with both forces Catalyst to carry
        // the ~400-slot HLL sketch buffer per DISTINCT KEY through a
        // two-level distinct rewrite (observed 8s vs <1s at sf0.1)
        val li = Tables.load(s, d, "lineitem")
        val exact = li.groupBy("l_returnflag")
          .agg(countDistinct(col("l_orderkey")).as("exact_cnt"))
        val approx = li.groupBy("l_returnflag")
          .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("approx"))
        exact.join(approx, "l_returnflag")
          .select(col("l_returnflag"), col("exact_cnt"),
            when(abs(col("approx") - col("exact_cnt"))
              <= col("exact_cnt") * 0.05, 1L).otherwise(0L).as("within_5pct"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_cnt,
             |CAST(1 AS BIGINT) AS within_5pct FROM lineitem
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // BITMAP exact distinct (the OLAP engines' groupBitmap /
    // BITMAP_UNION_COUNT) — the third sibling in the distinct-count
    // family: exact countDistinct beside other aggregates costs an
    // Expand (row multiplication), the HLL sibling (q_approx_distinct)
    // is approximate; the mergeable bitmap aggregate
    // ([[graft.functions.BitmapDistinctAgg]]) is EXACT with one-pass,
    // Expand-free state bounded by the ID DOMAIN, not the row count —
    // the right tool for id-bounded dims like users. PlanShapeSpec
    // asserts the no-Expand plan; the oracle is plain
    // COUNT(DISTINCT ...) because the bitmap's answer is exact.
    Q("q_bitmap_distinct",
      (s, d) => Tables.load(s, d, "events")
        .groupBy("event_type")
        .agg(graft.functions.BitmapDistinctAgg
            .bitmapDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_rows"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_users,
             |count(*) AS n_rows FROM events
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // O1: global sort (range-partitioned in Spark; total order)
    Q("q_global_sort",
      (s, d) => Tables.load(s, d, "customer")
        .select("c_custkey", "c_acctbal")
        .orderBy(desc("c_acctbal"), asc("c_custkey")),
      Some("""SELECT c_custkey, c_acctbal FROM customer
             |ORDER BY c_acctbal DESC, c_custkey""".stripMargin)),

    // contiguous global row numbering WITHOUT a single-partition sort:
    // the naive row_number() OVER (ORDER BY key) funnels the whole
    // table through one task — the classic driver-shaped bottleneck.
    // The scale plan is two-pass via [[GlobalRank.withRank]]:
    // deterministic range buckets (boundary literals sampled once,
    // driver-side), per-bucket counts prefix-summed on a tiny frame,
    // broadcast back, partition-local row_number. The bucket id is a
    // pure function of doc_id, so the counting branch and the ranking
    // branch agree even though each re-executes the frame — the
    // repartitionByRange+spark_partition_id version of this shape
    // lost that property one decade up (RangePartitioner's resample
    // seed is execution-dependent; sf1 rung caught duplicate rids).
    Q("q_global_ids",
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        GlobalRank.withRank(docs.select("doc_id", "source"), 32,
            col("doc_id"), Seq(col("doc_id")), "rid", docs.count())
          .select("doc_id", "source", "rid")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source,
             |CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rid
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Z-order (Morton) clustering key over (user, minute-of-corpus):
    // the write-time layout that lets parquet min/max stats prune
    // TWO-sided range predicates from one sort key — a ts-sorted table
    // bounds only ts per file; the interleaved code bounds both
    // dimensions at once (ZOrderLayoutSpec writes such a clustered
    // layout and measures per-file bounding boxes under it and under
    // a linear sort). The interleave is an unrolled shift/mask/or
    // expression tree (codegen-friendly, no array HOFs), emitted
    // identically as DuckDB SQL — bucketing uses exact integer div,
    // so the code hash-matches bit-for-bit. Plan: one scalar min
    // broadcast back over the scan, then map-only arithmetic.
    Q("q_zorder",
      (s, d) => {
        import graft.sources.ZOrder
        val ev = Tables.load(s, d, "events")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("us"))
        val mn = ev.agg(min(col("us")).as("mn"))
        ev.crossJoin(broadcast(mn))
          .withColumn("ub", ZOrder.bucket(col("user_id"), 16))
          .withColumn("tb",
            ZOrder.bucket(expr("(us - mn) div 60000000"), 16))
          .withColumn("z", ZOrder.morton(col("ub"), col("tb"), 16))
          .select("event_id", "ub", "tb", "z")
          .orderBy("z", "event_id")
          .limit(20)
      },
      Some(s"""WITH mn AS (
             |  SELECT min(epoch_us(CAST(ts AS TIMESTAMP))) AS mn
             |  FROM events),
             |b AS (
             |  SELECT event_id,
             |    ${graft.sources.ZOrder.bucketSql("user_id", 16)} AS ub,
             |    least(CAST((epoch_us(CAST(ts AS TIMESTAMP)) - mn.mn)
             |      // 60000000 AS BIGINT), 65535) AS tb
             |  FROM events, mn)
             |SELECT event_id, ub, tb,
             |  ${graft.sources.ZOrder.mortonSql("ub", "tb", 16)} AS z
             |FROM b ORDER BY z, event_id LIMIT 20""".stripMargin)),

    // top-k: sort + limit (TakeOrderedAndProject in the physical plan —
    // O(n log k) per partition, no full sort at scale)
    Q("q_topk",
      (s, d) => Tables.load(s, d, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(10),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    // TPC-H Q1-shaped wide aggregate; all double sums exact via decimal
    Q("q_agg_pricing",
      // no spread: measured neutral-to-worse — the single-task scan
      // must decode+reshuffle the rows either way, which costs as much
      // as the partial aggregate it was meant to parallelize
      (s, d) => Tables.load(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
              (lit(1).cast(DecimalType(9, 4)) -
               col("l_discount").cast(DecimalType(9, 4))))
            .cast(DoubleType).as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS sum_disc_price,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
             |count(*) AS count_order
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // exact distributed second moments: variance/stddev are normally
    // float-order-dependent (unsafe under repartitioning/AQE); here BOTH
    // sums (Σx, Σx²) are exact decimals — associative, so any partial-
    // aggregation tree yields bit-identical results — and the final
    // var = Σx²/n - (Σx/n)² is a fixed sequence of double ops. The same
    // discipline that makes dsum deterministic, extended to moments.
    Q("q_stats_moments",
      (s, d) => {
        val x = col("l_quantity").cast(DecimalType(18, 2))
        Tables.load(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(x).cast(DoubleType).as("sum_x"),
            sum((x * x).cast(DecimalType(30, 4))).cast(DoubleType)
              .as("sum_x2"))
          .withColumn("mean", col("sum_x") / col("n"))
          .withColumn("variance",
            col("sum_x2") / col("n") - col("mean") * col("mean"))
          .withColumn("stddev", sqrt(col("variance")))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_x,
             |CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(30,4))) AS DOUBLE) AS sum_x2,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mean,
             |CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(30,4))) AS DOUBLE) / count(*)
             |  - (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*))
             |    * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)) AS variance,
             |sqrt(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(30,4))) AS DOUBLE) / count(*)
             |  - (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*))
             |    * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*))) AS stddev
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // two-phase SALTED aggregation — the skew-mitigation pattern under
    // the oracle hash gate (the oracle is the plain GROUP BY it must
    // equal). Phase 1 pre-aggregates on (key, salt) so a hot key's rows
    // land on up to 16 reducers; phase 2 combines the 16 partials per
    // key. Decimal sums make the two-level combine bit-identical to the
    // one-level plan regardless of partitioning. Correct for any
    // algebraic aggregate; the salt column is derived (not stored), so
    // the pattern applies to any skewed key at read time.
    Q("q_salted_agg",
      (s, d) => {
        val partial = Tables.load(s, d, "events")
          .withColumn("salt", pmod(col("user_id"), lit(16L)))
          .groupBy("event_type", "salt")
          .agg(count(lit(1)).as("pn"),
            sum(col("value").cast(DecimalType(18, 2))).as("pv"))
        partial.groupBy("event_type")
          .agg(sum(col("pn")).as("n"),
            sum(col("pv")).cast(DecimalType(18, 2)).cast(DoubleType)
              .as("total"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
             |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM events GROUP BY event_type
             |ORDER BY event_type""".stripMargin)),

    // the JOIN-side skew pattern under the hash gate (sibling of
    // q_salted_agg): Skew.saltedJoin spreads each hot key over 8
    // (key, salt) shuffle partitions — big rows salt uniformly, the
    // small side replicates across salts — and the oracle is the PLAIN
    // join it must equal row-for-row. This is the manual fallback for
    // when a single hot key overwhelms even an AQE-split partition;
    // result invariance is the whole point of the gate here.
    Q("q_salted_join",
      (s, d) => {
        // spread both sides: single-row-group gate files otherwise run
        // the whole probe (scan+salt+join+partial agg over 600k rows)
        // and the x8 salt explode of the build side each in ONE task
        // (0.77 s + 0.29 s single-task stages measured); plan-time
        // gated, identity on real multi-file scans (guide §2.5)
        val li = Tables.spread(Tables.load(s, d, "lineitem")
          .select("l_orderkey", "l_quantity"))
        val o = Tables.spread(Tables.load(s, d, "orders")
          .select("o_orderkey", "o_orderpriority"))
        Skew.saltedJoin(li, o, "l_orderkey", "o_orderkey", 8)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // exact distributed quantiles (type-7 / PostgreSQL percentile_cont
    // semantics): 0-based position p*(n-1), linear interpolation
    // between the straddling order statistics. Implemented WITHOUT the
    // buffering percentile() aggregate (whose per-group state is the
    // whole value list): a per-group sort ranks rows, conditional
    // aggregates pick the two positional values per quantile, and the
    // interpolation is exact because p in {1/4, 1/2, 3/4} and integer
    // inputs keep every intermediate a representable double. Plan:
    // one sort-shuffle by group + one hash aggregate — the distributed
    // exact-quantile shape that survives groups of any size.
    Q("q_quantiles",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("source").orderBy("n_chars")
        val ranked = Tables.load(s, d, "documents")
          .select(col("source"), col("n_chars"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
        def pos(p: Double) = lit(p) * (col("n") - 1)
        def pick(p: Double, off: Int) =
          max(when(col("rn") === floor(pos(p)) + 1 + off, col("n_chars")))
        def interp(p: Double, lo: String, hi: String) =
          col(lo) + (pos(p) - floor(pos(p))) *
            (coalesce(col(hi), col(lo)) - col(lo))
        ranked.groupBy("source")
          .agg(max(col("n")).as("n"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"),
            pick(0.25, 0).as("lo25"), pick(0.25, 1).as("hi25"),
            pick(0.50, 0).as("lo50"), pick(0.50, 1).as("hi50"),
            pick(0.75, 0).as("lo75"), pick(0.75, 1).as("hi75"))
          .select(col("source"), col("min_chars"),
            interp(0.25, "lo25", "hi25").as("p25"),
            interp(0.50, "lo50", "hi50").as("p50"),
            interp(0.75, "lo75", "hi75").as("p75"),
            col("max_chars"))
          .orderBy("source")
      },
      Some("""SELECT source, min(n_chars) AS min_chars,
             |quantile_cont(n_chars, 0.25) AS p25,
             |quantile_cont(n_chars, 0.5) AS p50,
             |quantile_cont(n_chars, 0.75) AS p75,
             |max(n_chars) AS max_chars
             |FROM documents GROUP BY source
             |ORDER BY source""".stripMargin)),

    // WINSORIZED robust aggregate — outlier-capped statistics, the
    // cleaning step before any mean-based monitor: per source, clamp
    // n_chars into [P10, P90] and report the winsorized sum/mean
    // basis. Percentile bounds are DISCRETE (the value at rank
    // ceil(p·n) — type-1), and the rank itself is INTEGER ceiling
    // division ((n+9) div 10 — a float p·n would ulp-diverge between
    // engines at exact multiples), so bounds, clamped values and sums
    // are all exact integers. Shape:
    // one per-source ranking window (partitioned), a tiny per-source
    // bounds table joined back broadcast, map-side clamp, one
    // aggregate.
    Q("q_winsorize",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("source")
          .orderBy("n_chars", "doc_id")
        val ranked = Tables.load(s, d, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
        val bounds = ranked.groupBy("source").agg(
          max(when(col("rn") === expr("(n + 9) div 10"), col("n_chars")))
            .as("lo"),
          max(when(col("rn") === expr("(9 * n + 9) div 10"), col("n_chars")))
            .as("hi"))
        Tables.load(s, d, "documents")
          .select(col("source"), col("n_chars"))
          .join(broadcast(bounds), "source")
          .withColumn("clamped",
            greatest(col("lo"), least(col("hi"), col("n_chars"))))
          .groupBy("source")
          .agg(max(col("lo")).as("lo"), max(col("hi")).as("hi"),
            sum(col("clamped")).as("win_sum"),
            count(lit(1)).as("n_docs"))
          .orderBy("source")
      },
      Some("""WITH r AS (
             |  SELECT source, doc_id, n_chars,
             |    row_number() OVER (PARTITION BY source
             |      ORDER BY n_chars, doc_id) AS rn,
             |    count(*) OVER (PARTITION BY source) AS n
             |  FROM documents),
             |b AS (
             |  SELECT source,
             |    max(CASE WHEN rn = (n + 9) // 10
             |        THEN n_chars END) AS lo,
             |    max(CASE WHEN rn = (9 * n + 9) // 10
             |        THEN n_chars END) AS hi
             |  FROM r GROUP BY source)
             |SELECT d.source, max(b.lo) AS lo, max(b.hi) AS hi,
             |  CAST(sum(greatest(b.lo, least(b.hi, d.n_chars)))
             |    AS BIGINT) AS win_sum,
             |  count(*) AS n_docs
             |FROM documents d JOIN b ON d.source = b.source
             |GROUP BY d.source ORDER BY d.source""".stripMargin)),

    // the 100 TB form of q_quantiles: a single-pass mergeable quantile
    // sketch (Greenwald-Khanna via percentile_approx) instead of the
    // exact window+rank plan, whose per-group sort re-shuffles the data
    // and cannot pre-aggregate map-side. The sketch aggregates like any
    // sum — partial per partition, merge at the reducer — so the plan
    // is one aggregate with no Window. No value-hash oracle (sketch
    // internals and tie-breaks differ per engine; the exact sibling
    // holds the hash gate); pinned against q_quantiles in
    // QuantilesApproxSpec instead, same columns for comparability.
    Q("q_quantiles_approx",
      (s, d) => Tables.load(s, d, "documents")
        .groupBy("source")
        .agg(min(col("n_chars")).as("min_chars"),
          percentile_approx(col("n_chars"),
            array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("q"),
          max(col("n_chars")).as("max_chars"))
        .select(col("source"), col("min_chars"),
          col("q").getItem(0).as("p25"),
          col("q").getItem(1).as("p50"),
          col("q").getItem(2).as("p75"),
          col("max_chars"))
        .orderBy("source"),
      None),

    // data profiling (the ANALYZE primitive): per-column row/null/
    // distinct counts and min/max in one scan — a single wide aggregate
    // row unpivoted to long format with stack() (Spark's melt
    // Generator). Scale note, honestly: the k exact countDistincts make
    // Catalyst plan an Expand that multiplies rows (k+1)x before the
    // aggregate, so "one scan" buys shared I/O but not shared agg work;
    // q_profile_approx below is the 100 TB form (HLL: no Expand, one
    // pass, mergeable) — this one stays exact because the gate hashes
    // values and HLL internals differ per engine.
    Q("q_profile",
      (s, d) => {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val aggs = count(lit(1)).as("n_rows") +:
          cols.flatMap(c => Seq(
            count(col(c)).as(s"${c}_nn"),
            countDistinct(col(c)).as(s"${c}_nd"),
            min(col(c)).as(s"${c}_min"),
            max(col(c)).as(s"${c}_max")))
        val stackArgs = cols.map(c =>
          s"'$c', n_rows, ${c}_nn, ${c}_nd, ${c}_min, ${c}_max").mkString(", ")
        // no spread (r17: measured 2.03->2.23 s WORSE): the Expand x5
        // partial agg looks like the §2.5 single-task pattern (1.11 s
        // in one effective task), but spreading trades it for a full
        // 600k-row shuffle PLUS an extra AQE stage round-trip, and the
        // distinct-agg stage slows in turn — net negative, like
        // q_agg_pricing's note above
        Tables.load(s, d, "lineitem")
          .agg(aggs.head, aggs.tail: _*)
          .selectExpr(s"stack(${cols.length}, $stackArgs) AS " +
            "(col_name, n, n_nonnull, n_distinct, vmin, vmax)")
          .orderBy("col_name")
      },
      Some {
        val one = (c: String) =>
          s"""SELECT '$c' AS col_name, count(*) AS n, count($c) AS n_nonnull,
             |count(DISTINCT $c) AS n_distinct, min($c) AS vmin, max($c) AS vmax
             |FROM lineitem""".stripMargin
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
          .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
      }),

    // the 100 TB profiling plan: identical shape to q_profile but the
    // exact countDistincts become approx_count_distinct (HyperLogLog++,
    // rsd 0.05). ONE pass, no Expand — each HLL sketch is a fixed-size
    // mergeable buffer updated map-side, so profiling k columns costs
    // one scan + one single-row aggregate regardless of cardinality.
    // No oracle SQL on purpose: HLL internals legitimately differ per
    // engine, so the driver records the weaker rows-only check here
    // while q_profile keeps the exact hash gate on the same shape;
    // ProfileApproxSpec bounds the estimates against the exact counts
    // and PlanShapeSpec asserts the Expand is gone.
    Q("q_profile_approx",
      (s, d) => {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val aggs = count(lit(1)).as("n_rows") +:
          cols.flatMap(c => Seq(
            count(col(c)).as(s"${c}_nn"),
            approx_count_distinct(col(c)).as(s"${c}_nd"),
            min(col(c)).as(s"${c}_min"),
            max(col(c)).as(s"${c}_max")))
        val stackArgs = cols.map(c =>
          s"'$c', n_rows, ${c}_nn, ${c}_nd, ${c}_min, ${c}_max").mkString(", ")
        Tables.load(s, d, "lineitem")
          .agg(aggs.head, aggs.tail: _*)
          .selectExpr(s"stack(${cols.length}, $stackArgs) AS " +
            "(col_name, n, n_nonnull, n_distinct_approx, vmin, vmax)")
          .orderBy("col_name")
      },
      None),

    // broadcast join: part is the small dim — broadcast() keeps the big
    // lineitem side shuffle-free
    Q("q_join_broadcast",
      (s, d) => Tables.load(s, d, "lineitem")
        .join(broadcast(Tables.load(s, d, "part")),
              col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"),
             dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("p_brand"),
      Some("""SELECT p_brand, count(*) AS n_items,
             |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // multi-way join through the dimension chain, all dims broadcast
    Q("q_join_multi",
      (s, d) => Tables.load(s, d, "orders")
        .join(Tables.load(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.load(s, d, "nation")),
              col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.load(s, d, "region")),
              col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_orders"),
             dsum(col("o_totalprice")).as("total"))
        .orderBy("r_name"),
      Some("""SELECT r_name, count(*) AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // TPC-H Q5-shaped SIX-way star join — the optimizer's join-order /
    // broadcast workout: two chained fact joins (orders⨝lineitem on
    // orderkey, ⨝supplier on suppkey) under three broadcast dimensions,
    // plus Q5's signature SECOND equi-condition (c_nationkey =
    // s_nationkey — the "local supplier" constraint that correlates
    // two otherwise-independent branches). Revenue in exact decimal so
    // the gate hashes bitwise. At scale: lineitem never shuffles more
    // than once (orderkey), supplier/nation/region broadcast, and
    // Catalyst picks the join order from sizes — nothing is
    // hand-scheduled here, which is the point.
    Q("q_star_join",
      (s, d) => Tables.load(s, d, "orders")
        .join(Tables.load(s, d, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.load(s, d, "lineitem"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.load(s, d, "supplier")),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.load(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.load(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
              (lit(1).cast(DecimalType(9, 4)) -
               col("l_discount").cast(DecimalType(9, 4))))
            .cast(DoubleType).as("revenue"))
        .orderBy("r_name", "n_name"),
      Some("""SELECT r_name, n_name, count(*) AS n_items,
             |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             |  * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4))))
             |  AS DOUBLE) AS revenue
             |FROM orders
             |JOIN customer ON o_custkey = c_custkey
             |JOIN lineitem ON l_orderkey = o_orderkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |  AND c_nationkey = s_nationkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),

    // correlated subqueries through the SQL entry path (every other
    // battery query is DataFrame-built; this one goes through
    // spark.sql so the text-to-plan surface — parsing, analysis,
    // RewritePredicateSubquery decorrelation into semi/anti joins — is
    // itself under the gate). Mixed EXISTS + NOT EXISTS, both
    // correlated, no floats anywhere, so the rewrite is the only thing
    // being tested.
    Q("q_correlated_subquery",
      (s, d) => {
        Tables.load(s, d, "orders").createOrReplaceTempView("g_orders")
        Tables.load(s, d, "customer").createOrReplaceTempView("g_customer")
        s.sql("""SELECT c_custkey, c_name FROM g_customer c
                |WHERE EXISTS (SELECT 1 FROM g_orders o
                |              WHERE o.o_custkey = c.c_custkey
                |                AND o.o_totalprice > 100000)
                |  AND NOT EXISTS (SELECT 1 FROM g_orders o
                |                  WHERE o.o_custkey = c.c_custkey
                |                    AND o.o_orderstatus = 'F')
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE EXISTS (SELECT 1 FROM orders o
             |              WHERE o.o_custkey = c.c_custkey
             |                AND o.o_totalprice > 100000)
             |  AND NOT EXISTS (SELECT 1 FROM orders o
             |                  WHERE o.o_custkey = c.c_custkey
             |                    AND o.o_orderstatus = 'F')
             |ORDER BY c_custkey""".stripMargin)),

    // the OTHER two decorrelation rewrites, beside q_correlated_
    // subquery's EXISTS pair: a correlated SCALAR AGGREGATE subquery in
    // SELECT (RewriteCorrelatedScalarSubquery — including the classic
    // COUNT-bug case where the empty group must yield 0, and a MAX
    // that must yield NULL then COALESCE outside the subquery), plus
    // IN / NOT IN predicate subqueries (RewritePredicateSubquery into
    // semi/anti joins). Integer-only output so the hash is exact.
    Q("q_subquery_scalar_in",
      (s, d) => {
        Tables.load(s, d, "orders").createOrReplaceTempView("g_orders")
        Tables.load(s, d, "customer").createOrReplaceTempView("g_customer")
        Tables.load(s, d, "nation").createOrReplaceTempView("g_nation")
        s.sql("""SELECT c_custkey, c_name,
                |  (SELECT count(*) FROM g_orders o
                |   WHERE o.o_custkey = c.c_custkey
                |     AND o.o_orderstatus = 'O') AS n_open,
                |  COALESCE((SELECT max(o.o_orderkey) FROM g_orders o
                |            WHERE o.o_custkey = c.c_custkey
                |              AND o.o_orderstatus = 'F'),
                |           CAST(-1 AS BIGINT)) AS last_filled
                |FROM g_customer c
                |WHERE c.c_custkey IN (SELECT o_custkey FROM g_orders
                |                      WHERE o_orderstatus = 'P')
                |  AND c.c_nationkey NOT IN (SELECT n_nationkey FROM g_nation
                |                            WHERE n_regionkey = 0)
                |ORDER BY c_custkey""".stripMargin)
      },
      Some("""SELECT c_custkey, c_name,
             |  (SELECT count(*) FROM orders o
             |   WHERE o.o_custkey = c.c_custkey
             |     AND o.o_orderstatus = 'O') AS n_open,
             |  COALESCE((SELECT max(o.o_orderkey) FROM orders o
             |            WHERE o.o_custkey = c.c_custkey
             |              AND o.o_orderstatus = 'F'),
             |           CAST(-1 AS BIGINT)) AS last_filled
             |FROM customer c
             |WHERE c.c_custkey IN (SELECT o_custkey FROM orders
             |                      WHERE o_orderstatus = 'P')
             |  AND c.c_nationkey NOT IN (SELECT n_nationkey FROM nation
             |                            WHERE n_regionkey = 0)
             |ORDER BY c_custkey""".stripMargin)),

    // FILE-MANIFEST scan pruning (Iceberg/Delta data skipping as an
    // operator): a write-once range-clustered layout + a per-file
    // min/max manifest; the planner answers `n_chars BETWEEN lo AND
    // hi` by opening only overlapping files (driver-held file list,
    // one manifest row per file), then re-applies the exact predicate
    // so pruning can never change the answer. The oracle runs the
    // plain filter on the ORIGINAL table — the hash gate therefore
    // proves layout + manifest + planner + pruned read are exact
    // end-to-end; ManifestPruneSpec asserts files are actually
    // skipped. File-level skipping completes the granularity ladder:
    // row groups (parquet min/max), hive partitions (IVF), Z-order
    // (two-sided ranges) — this is the table-format layer above them.
    Q("q_manifest_prune",
      (s, d) => {
        val root = graft.sources.ManifestPrune.ensureLayout(s, d)
        graft.sources.ManifestPrune.readRange(s, root, 100, 180)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents WHERE n_chars BETWEEN 100 AND 180
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // NULL-SAFE equality join (<=> / IS NOT DISTINCT FROM): the SQL
    // surface piece plain equi-joins silently get wrong — NULL keys
    // never match under `=`, so a dimension keyed by a nullable
    // attribute drops every NULL-keyed fact row. Both sides derive a
    // nullable key (nullif on the error type), and the null-safe join
    // matches the NULL group across sides — Spark plans it as a real
    // hash join (<=> is an equi-key), not a nested loop. The oracle
    // uses DuckDB's IS NOT DISTINCT FROM.
    Q("q_nullsafe_join",
      (s, d) => {
        val ev = Tables.load(s, d, "events")
          .select(nullif(col("event_type"), lit("error")).as("k"),
            col("event_id"))
        val dim = Tables.load(s, d, "events")
          .select(nullif(col("event_type"), lit("error")).as("dk"))
          .distinct()
        ev.join(dim, col("k") <=> col("dk"))
          .groupBy("k")
          .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"))
          .orderBy(col("k").asc_nulls_first)
      },
      Some("""WITH ev AS (
             |  SELECT nullif(event_type, 'error') AS k, event_id
             |  FROM events),
             |dim AS (SELECT DISTINCT nullif(event_type, 'error') AS dk
             |        FROM events)
             |SELECT k, count(*) AS n,
             |  CAST(sum(event_id) AS BIGINT) AS id_sum
             |FROM ev JOIN dim ON k IS NOT DISTINCT FROM dk
             |GROUP BY k ORDER BY k NULLS FIRST""".stripMargin)),

    // K-ANONYMITY AUDIT — the privacy-side release gate (complement
    // of q_pii_scrub's redaction): under a quasi-identifier tuple
    // (event_type × coarse value bucket), how many equivalence
    // classes have fewer than k = 5 members — each a re-identifiable
    // group a release must generalize or suppress. Output is the
    // class-size histogram with violation flags, plus the member
    // count those classes expose. Two cheap aggregates over uniform
    // keys (classes, then class sizes) — the audit costs one
    // corpus-sized hash-agg at any scale.
    Q("q_k_anonymity",
      (s, d) => {
        val cls = Tables.load(s, d, "events")
          .select(col("event_type"),
            floor(col("value") / 25).cast(LongType).as("vb"))
          .groupBy("event_type", "vb").agg(count(lit(1)).as("n"))
        cls.groupBy(col("n").as("class_size"))
          .agg(count(lit(1)).as("n_classes"),
            max(when(col("n") < 5, 1L).otherwise(0L)).as("violates_k5"),
            sum(when(col("n") < 5, col("n")).otherwise(lit(0L)))
              .as("n_exposed"))
          .orderBy("class_size")
      },
      Some("""WITH cls AS (
             |  SELECT event_type,
             |    CAST(floor(value / 25) AS BIGINT) AS vb, count(*) AS n
             |  FROM events GROUP BY event_type, vb)
             |SELECT n AS class_size, count(*) AS n_classes,
             |  CAST(max(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS violates_k5,
             |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
             |    AS n_exposed
             |FROM cls GROUP BY n ORDER BY class_size""".stripMargin)),

    // l-diversity — k-anonymity's complement: a class of identical
    // quasi-identifiers can be large (k-safe) yet still leak if every
    // member shares the SAME sensitive value. l = distinct sensitive
    // values per equivalence class; the audit reports the class count
    // and exposed-row mass per l, flagging l<3. Same two-level
    // aggregate shape as q_k_anonymity (class agg, then distribution
    // agg over the class table — the second aggregate touches only
    // class-count-many rows), so it scales exactly as far. Sensitive
    // attribute surrogate: user_id mod 7 (the synthetic substrate has
    // no payroll column; the bucketing is the operator, not the
    // domain mapping).
    Q("q_l_diversity",
      (s, d) => {
        val cls = Tables.load(s, d, "events")
          .select(col("event_type"),
            floor(col("value") / 25).cast(LongType).as("vb"),
            (col("user_id") % 7).as("sens"))
          .groupBy("event_type", "vb")
          .agg(count(lit(1)).as("n"),
            countDistinct(col("sens")).as("l"))
        cls.groupBy(col("l").as("l_value"))
          .agg(count(lit(1)).as("n_classes"),
            sum(col("n")).as("n_rows"),
            max(when(col("l") < 3, 1L).otherwise(0L)).as("violates_l3"))
          .orderBy("l_value")
      },
      Some("""WITH cls AS (
             |  SELECT event_type, CAST(floor(value / 25) AS BIGINT) AS vb,
             |    count(*) AS n,
             |    count(DISTINCT user_id % 7) AS l
             |  FROM events GROUP BY event_type, vb)
             |SELECT l AS l_value, count(*) AS n_classes,
             |  CAST(sum(n) AS BIGINT) AS n_rows,
             |  CAST(max(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS violates_l3
             |FROM cls GROUP BY l ORDER BY l_value""".stripMargin)),

    // t-closeness — the third member of the privacy triad: a class can
    // be k-large and l-diverse yet still leak if its sensitive-value
    // DISTRIBUTION deviates from the global one. Distance metric:
    // total variation (the EMD special case for categorical domains),
    // kept exact by clearing denominators — for class c,
    //   TV(c) = ½ Σ_s |n_cs/n_c − n_s/N| = tv_num / (2·n_c·N),
    //   tv_num = Σ_s |n_cs·N − n_s·n_c|  (pure integers),
    // and the t=0.2 threshold becomes 5·tv_num > 2·n_c·N. Absent
    // sensitive values contribute |0 − n_s·n_c| — the class × domain
    // grid makes that explicit instead of silently dropping them.
    // Scale shape: the grid is class-table × |domain| (7 broadcast
    // rows), never corpus-sized; the global distribution and N are a
    // 7-row and 1-row broadcast. Same substrate and equivalence
    // classes as q_k_anonymity / q_l_diversity, so the three audits
    // compose into one privacy report over identical classes.
    Q("q_t_closeness",
      (s, d) => {
        val ev = Tables.load(s, d, "events")
          .select(col("event_type"),
            floor(col("value") / 25).cast(LongType).as("vb"),
            (col("user_id") % 7).as("sens"))
        val cs = ev.groupBy("event_type", "vb", "sens")
          .agg(count(lit(1)).as("n_cs"))
        val cls = cs.groupBy("event_type", "vb")
          .agg(sum(col("n_cs")).as("n"))
        val sdist = broadcast(ev.groupBy("sens")
          .agg(count(lit(1)).as("n_s")))
        val tot = broadcast(ev.agg(count(lit(1)).as("n_tot")))
        cls.crossJoin(sdist)
          .join(cs, Seq("event_type", "vb", "sens"), "left")
          .withColumn("n_cs", coalesce(col("n_cs"), lit(0L)))
          .crossJoin(tot)
          .withColumn("term",
            abs(col("n_cs") * col("n_tot") - col("n_s") * col("n")))
          .groupBy("event_type", "vb")
          .agg(max(col("n")).as("n"), sum(col("term")).as("tv_num"),
            (lit(2L) * max(col("n")) * max(col("n_tot"))).as("denom"))
          .withColumn("violates_t02",
            (lit(5L) * col("tv_num") > col("denom")).cast("int")
              .cast(LongType))
          .select("event_type", "vb", "n", "tv_num", "denom",
            "violates_t02")
          .orderBy("event_type", "vb")
      },
      Some("""WITH ev AS (
             |  SELECT event_type, CAST(floor(value / 25) AS BIGINT) AS vb,
             |    user_id % 7 AS sens
             |  FROM events),
             |cs AS (
             |  SELECT event_type, vb, sens, count(*) AS n_cs
             |  FROM ev GROUP BY event_type, vb, sens),
             |cls AS (
             |  SELECT event_type, vb, CAST(sum(n_cs) AS BIGINT) AS n
             |  FROM cs GROUP BY event_type, vb),
             |sd AS (SELECT sens, count(*) AS n_s FROM ev GROUP BY sens),
             |tot AS (SELECT count(*) AS n_tot FROM ev),
             |grid AS (
             |  SELECT c.event_type, c.vb, c.n, s.sens, s.n_s,
             |    coalesce(x.n_cs, 0) AS n_cs
             |  FROM cls c CROSS JOIN sd s
             |  LEFT JOIN cs x ON x.event_type = c.event_type
             |    AND x.vb = c.vb AND x.sens = s.sens)
             |SELECT g.event_type, g.vb, CAST(max(g.n) AS BIGINT) AS n,
             |  CAST(sum(abs(g.n_cs * t.n_tot - g.n_s * g.n)) AS BIGINT)
             |    AS tv_num,
             |  CAST(2 * max(g.n) * max(t.n_tot) AS BIGINT) AS denom,
             |  CAST(CASE WHEN 5 * sum(abs(g.n_cs * t.n_tot - g.n_s * g.n))
             |    > 2 * max(g.n) * max(t.n_tot) THEN 1 ELSE 0 END AS BIGINT)
             |    AS violates_t02
             |FROM grid g CROSS JOIN tot t
             |GROUP BY g.event_type, g.vb
             |ORDER BY g.event_type, g.vb""".stripMargin)),

    // RECENCY-DECAYED scoring — the feature-store aggregate ("how
    // active was this user, weighted toward now") made exactly
    // reproducible: the usual exp(-λ·age) is float-order-dependent,
    // so the decay is a POWER-OF-2 half-life — weight = 2^-age_days
    // (age from the corpus max ts, capped at 30) applied as an exact
    // integer shift-divide on cent-scaled values. Every engine and
    // every partitioning produces the identical score, which is what
    // lets a daily feature job be diffed byte-for-byte against
    // yesterday's. (Shift-divide relies on value >= 0 — true for this
    // magnitude column; signed inputs would need floor-division on
    // both sides since Spark's `div` truncates and DuckDB's floors.)
    // Scale: one map-side expression + per-user hash
    // aggregate; the corpus max ts rides a broadcast singleton, and
    // the final per-user sum is a TakeOrdered top-15.
    Q("q_decay_score",
      (s, d) => {
        val ev = Tables.load(s, d, "events")
        val mx = broadcast(ev.agg(max(col("ts")).as("mx")))
        ev.crossJoin(mx)
          .withColumn("age", least(lit(30L),
            datediff(to_date(col("mx")), to_date(col("ts")))
              .cast(LongType)))
          .withColumn("cents",
            round(col("value") * 100).cast(LongType))
          .withColumn("wv", expr("cents div shiftleft(1L, int(age))"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            sum(col("wv")).as("decayed_cents"),
            max(col("age")).as("oldest_age"))
          .orderBy(desc("decayed_cents"), asc("user_id")).limit(15)
      },
      Some("""WITH mx AS (SELECT max(ts) AS mx FROM events),
             |w AS (
             |  SELECT user_id,
             |    least(30, date_diff('day', CAST(e.ts AS DATE),
             |      CAST(mx.mx AS DATE))) AS age,
             |    CAST(round(value * 100) AS BIGINT) AS cents
             |  FROM events e CROSS JOIN mx)
             |SELECT user_id, count(*) AS n_events,
             |  CAST(sum(cents // (1::BIGINT << age)) AS BIGINT)
             |    AS decayed_cents,
             |  CAST(max(age) AS BIGINT) AS oldest_age
             |FROM w GROUP BY user_id
             |ORDER BY decayed_cents DESC, user_id LIMIT 15""".stripMargin)),

    // BOUNDED-CONTRIBUTION aggregation — the differential-privacy
    // PREP step (and the fifth privacy operator): before any DP noise
    // can be calibrated, each user's contribution to every aggregate
    // cell must be CLAMPED to a fixed cap, else one hyperactive user
    // makes the sensitivity — and the noise — unbounded. Per (user,
    // event_type) keep the C=3 earliest events (deterministic order:
    // ts, then event_id), via the bounded-heap TopKPerGroupExec — the
    // same plan that caps per-source quotas, never a full per-user
    // sort. The output compares the clamped aggregate against the raw
    // one: rows_dropped is exactly the sensitivity mass the cap
    // removed. Scale: heap state is C entries per (user, type) group;
    // everything downstream is class-sized.
    Q("q_bounded_contribution",
      (s, d) => {
        val ev = Tables.load(s, d, "events")
          .select(col("user_id"), col("event_type"), col("ts"),
            col("event_id"), col("value"))
        val capped = graft.plans.TopKPerGroup.topKPerGroup(ev,
          Seq(col("user_id"), col("event_type")),
          Seq(asc("ts"), asc("event_id")), 3)
        val agg = capped.groupBy("event_type")
          .agg(count(lit(1)).as("n_capped"),
            sum(col("value").cast(DecimalType(18, 2)))
              .cast(DoubleType).as("sum_capped"))
        val raw = ev.groupBy("event_type")
          .agg(count(lit(1)).as("n_raw"))
        agg.join(raw, "event_type")
          .withColumn("rows_dropped", col("n_raw") - col("n_capped"))
          .select("event_type", "n_raw", "n_capped", "rows_dropped",
            "sum_capped")
          .orderBy("event_type")
      },
      Some("""WITH r AS (
             |  SELECT event_type, user_id, value,
             |    row_number() OVER (PARTITION BY user_id, event_type
             |      ORDER BY ts, event_id) AS rn
             |  FROM events),
             |c AS (
             |  SELECT event_type, count(*) AS n_capped,
             |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             |      AS sum_capped
             |  FROM r WHERE rn <= 3 GROUP BY event_type),
             |w AS (
             |  SELECT event_type, count(*) AS n_raw
             |  FROM events GROUP BY event_type)
             |SELECT c.event_type, w.n_raw, c.n_capped,
             |  w.n_raw - c.n_capped AS rows_dropped, c.sum_capped
             |FROM c JOIN w USING (event_type)
             |ORDER BY c.event_type""".stripMargin)),

    // DETERMINISTIC PSEUDONYMIZATION audit — the fourth privacy
    // operator: replace user_id with a keyed md5 pseudonym that is
    // STABLE (same id → same pseudonym, every table, every run — joins
    // still work on masked data) and verify the two properties a
    // masking deployment must prove: injectivity on the observed
    // domain (distinct pseudonyms == distinct ids per class — a
    // collision silently merges two users' histories) and coverage
    // (no raw id survives). The salt is a pipeline constant; rotating
    // it re-keys every table consistently. Scale shape: one map-side
    // expression plus the same two-level class aggregate as the
    // k-anonymity audit — the mask itself never shuffles anything.
    Q("q_pseudonymize",
      (s, d) => Tables.load(s, d, "events")
        .withColumn("pseudo",
          substring(md5(concat(lit("salt-v1:"),
            col("user_id").cast("string"))), 1, 16))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          countDistinct(col("pseudo")).as("n_pseudo"),
          max(when(col("pseudo").rlike("^[0-9]+$"), 1L).otherwise(0L))
            .as("raw_id_leaked"))
        .withColumn("injective",
          (col("n_users") === col("n_pseudo")).cast("int").cast(LongType))
        .orderBy("event_type"),
      Some("""WITH p AS (
             |  SELECT event_type, user_id,
             |    substr(md5('salt-v1:' || CAST(user_id AS VARCHAR)),
             |      1, 16) AS pseudo
             |  FROM events)
             |SELECT event_type, count(*) AS n_events,
             |  count(DISTINCT user_id) AS n_users,
             |  count(DISTINCT pseudo) AS n_pseudo,
             |  CAST(max(CASE WHEN regexp_matches(pseudo, '^[0-9]+$')
             |    THEN 1 ELSE 0 END) AS BIGINT) AS raw_id_leaked,
             |  CAST(CASE WHEN count(DISTINCT user_id)
             |      = count(DISTINCT pseudo) THEN 1 ELSE 0 END AS BIGINT)
             |    AS injective
             |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ordered LISTAGG / string_agg surface: the reporting primitive
    // (sorted comma-joined group members). Spark lacks a native
    // ordered string_agg; the deterministic form is collect_list →
    // array_sort → concat_ws, which is exactly what makes it
    // hash-gateable against DuckDB's string_agg(... ORDER BY) — an
    // UNORDERED collect_list would be partitioning-dependent. Bounded
    // output per group (dimension-sized input); a corpus-sized
    // string_agg belongs behind a per-group cap (q_source_cap).
    Q("q_string_agg",
      (s, d) => {
        val n = Tables.load(s, d, "nation")
        val r = Tables.load(s, d, "region")
        n.join(r, n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(concat_ws(",", array_sort(collect_list(col("n_name"))))
            .as("nations"), count(lit(1)).as("n_nations"))
          .orderBy("r_name")
      },
      Some("""SELECT r_name,
             |string_agg(n_name, ',' ORDER BY n_name) AS nations,
             |count(*) AS n_nations
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // DYNAMIC PARTITION PRUNING — the star-schema scan optimization
    // that matters most at 100 TB: the fact side is a hive-partitioned
    // layout on the join key, the dimension side's qualifying keys are
    // only known at RUNTIME (they come from a computed filter over a
    // scan, not a literal list), and Catalyst injects the dim's key
    // set as a runtime subquery into the fact scan's PartitionFilters
    // — the petabyte fact table reads 3 of its 5 partitions without
    // any static predicate existing. Plan-asserted in PlanShapeSpec
    // (`dynamicpruningexpression` on the fact scan); the oracle
    // computes the same join semantics directly, so the hash gate
    // proves pruning changed nothing.
    Q("q_dpp_join",
      (s, d) => {
        val fact = s.read.parquet(dppLayout(s, d))
        val dim = Tables.load(s, d, "events")
          .select("event_type").distinct()
          .filter(substring(md5(concat(lit("tier_"), col("event_type"))),
            1, 1).isin("0", "1", "2", "3", "4", "5", "6", "7"))
        fact.join(dim, "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast(LongType)).as("cents"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
             |CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
             |FROM events
             |WHERE substr(md5('tier_' || event_type), 1, 1)
             |  IN ('0','1','2','3','4','5','6','7')
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // COPY-ON-WRITE MERGE (ManifestPrune.cowMerge): the lakehouse
    // mutation path — an upsert batch (updates: every 23rd doc's lang
    // re-tagged 'xx'; inserts: 10 new rows) folded into the clustered
    // layout by rewriting ONLY the files containing a matched key,
    // committed as a NEW manifest version referencing untouched files
    // at their old paths (swap-by-path; old version stays readable).
    // The aggregate runs over the POST-MERGE reader
    // (ManifestPrune.readVersion), and the oracle replays the merge
    // semantics arithmetically over the original table — the hash
    // match proves the file-grain rewrite lost nothing, updated
    // exactly the matched rows, and appended exactly the inserts.
    // CowMergeSpec asserts the file-level contract (only hit files
    // rewritten, old layout untouched).
    Q("q_cow_merge",
      (s, d) => {
        val mf = cowMergedManifest(s, d)
        graft.sources.ManifestPrune.readVersion(s, mf)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(col("doc_id")).as("sum_ids"))
          .orderBy("lang")
      },
      Some("""WITH merged AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 23 = 0 THEN 'xx' ELSE lang END AS lang,
             |    n_chars
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000, 'new', n_chars
             |  FROM documents WHERE doc_id < 10)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
             |FROM merged GROUP BY lang ORDER BY lang""".stripMargin)),

    // TWO-LEVEL MANIFEST TREE scan (ManifestPrune.buildManifestTree /
    // readRangeTree): the same exactness contract as q_manifest_prune
    // but planned through the Iceberg-style manifest LIST — shard
    // key-intervals prune first, only overlapping shard manifests are
    // read for the file list, and the exact predicate re-applies
    // after the pruned read. The oracle runs the plain filter on the
    // original table, so the hash gate proves shard build + two-level
    // prune + pruned read are exact end-to-end; ManifestPruneSpec
    // pins that tree planning equals flat planning and stays inside a
    // driver bound the flat plan cannot satisfy. The 100 TB story:
    // the driver holds overlapping shards' rows, never the table's
    // full file list.
    Q("q_manifest_tree",
      (s, d) => {
        val root = graft.sources.ManifestPrune.ensureLayout(s, d)
        val tree = manifestTree(s, d)
        graft.sources.ManifestPrune.readRangeTree(s, root, tree, 120, 200)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents WHERE n_chars BETWEEN 120 AND 200
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // MERGE-ON-READ DELETE via DELETION VECTORS
    // (ManifestPrune.dvDeleteFrom) — the lazy complement of
    // q_cow_merge's eager rewrite: deleting every doc_id ≡ 3 (mod 7)
    // touches NO data file; the rows' (file, row_index) positions land
    // in a sidecar and the read path hides them with a positional
    // anti-join. The aggregate runs over the DV-applied reader and
    // the oracle replays the delete arithmetically on the original
    // table — the hash match proves the position planning and the
    // read-time anti-join hide exactly the doomed rows and nothing
    // else. DvDeleteSpec pins the file-level contract (zero data
    // files rewritten, byte-identical layout, DV accumulation across
    // versions, live-count arithmetic).
    Q("q_dv_delete",
      (s, d) => {
        val (mf, dv) = dvDeletedVersion(s, d)
        graft.sources.ManifestPrune.readVersionWithDv(s, mf, Some(dv))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("source")
      },
      Some("""SELECT source, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM documents WHERE doc_id % 7 <> 3
             |GROUP BY source ORDER BY source""".stripMargin)),

    // FULL MERGE-ON-READ LIFECYCLE under the hash gate
    // (dvDeleteCommit → compactCommit → readCommitted): the DV delete
    // hides every doc_id ≡ 3 (mod 7) without touching a data file,
    // then compaction materializes the vectors into 4 re-clustered
    // files with no sidecar — and the committed read-back must equal
    // the oracle's arithmetic replay of the delete. One wrong
    // position anywhere in plan → sidecar → anti-join → rewrite
    // breaks the hash. (q_dv_delete gates the pre-compaction read;
    // DvDeleteSpec pins the file-level contracts.)
    Q("q_compact_commit",
      (s, d) => {
        val root = compactedChain(s, d)
        graft.sources.ManifestPrune.readCommitted(s, root,
          graft.sources.ManifestPrune.currentVersion(s, root))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM documents WHERE doc_id % 7 <> 3
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // TIME TRAVEL over the version chain (ManifestPrune.readAsOf) —
    // the read surface that completes the Iceberg/Delta triad
    // (version, TIME, diff): a chain of two DV-delete commits is
    // read back "as of" each commit's wall-clock instant, resolved
    // through the retained commit MARKERS' mtimes (the timeline
    // expiry deliberately keeps forever). The as-of-t1 block must see
    // ONLY the first delete and the as-of-t2 block both — one
    // mis-resolved timestamp collapses the two blocks and breaks the
    // hash. Oracle replays both snapshots arithmetically on the
    // original table. TimeTravelSpec pins the boundary contract
    // (before-creation error, expired-version error, exact-instant
    // resolution); at 100 TB resolution cost is O(versions) driver
    // stats, never a data read.
    // SQL CATALOG FACE (GraftCatalog, the DSv2 TableCatalog): the
    // chain as a plain SQL table — INSERT INTO appended a version,
    // DELETE WHERE (with arithmetic, via the V2-predicate translator)
    // committed a merge-on-read erasure, and this SELECT aggregates
    // through the catalog's DSv2 scan, whose executor-side reader
    // masks the DV positions per file and prunes to the projected
    // columns. The oracle replays insert+delete over the base parquet.
    Q("q_sql_catalog",
      (s, d) => {
        val tbl = sqlCatalogTable(s, d)
        s.sql(s"""SELECT lang, count(*) AS n_docs,
                 |  sum(n_chars) AS sum_chars
                 |FROM graft.$tbl
                 |GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM (
             |  SELECT doc_id, lang, n_chars FROM documents
             |  UNION ALL SELECT 91000001, 'sq', 20
             |  UNION ALL SELECT 91000003, 'sq', 20
             |)
             |WHERE NOT (doc_id % 9 = 2 AND lang <> 'sq')
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // SQL MERGE INTO through the catalog (SupportsRowLevelOperations,
    // delta-based): one command carrying matched-delete,
    // matched-update, and not-matched-insert clauses committed as ONE
    // merge-on-read version — deleted/updated positions into the DV
    // sidecar, post-images + inserts as one delta file, no data file
    // rewritten. The oracle replays the merge arithmetic over the
    // base parquet.
    Q("q_sql_merge",
      (s, d) => {
        val tbl = sqlMergeTable(s, d)
        s.sql(s"""SELECT lang, count(*) AS n_docs,
                 |  sum(n_chars) AS sum_chars
                 |FROM graft.$tbl
                 |GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM (
             |  SELECT CASE WHEN doc_id % 9 = 1 THEN 'mg' ELSE lang END
             |    AS lang, n_chars
             |  FROM documents
             |  WHERE NOT (doc_id % 9 = 1 AND doc_id % 27 = 10)
             |  UNION ALL SELECT 'mg', 10
             |  UNION ALL SELECT 'mg', 10
             |)
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // SQL DDL through the catalog (GraftCatalog.createTable /
    // alterTable): the whole table LIFECYCLE purely in spark.sql —
    // CREATE TABLE … USING graft (empty chain bootstrapped with the
    // declared clustering spec and merge key), ALTER TABLE … ADD
    // CONSTRAINT … CHECK (enforced on every later commit's new rows),
    // INSERT INTO (a SELECT-sourced append and a literal row), SELECT
    // back through the DSv2 scan. An analyst needs no Scala API to
    // stand up and govern a chain. The oracle replays the two inserts
    // over the base parquet. GraftSqlDdlSpec pins the contracts this
    // hash can't see (constraint rejection, warehouse-rooted CREATE,
    // durable-registration restart, RENAME/DROP).
    Q("q_sql_ddl",
      (s, d) => {
        val tbl = sqlDdlTable(s, d)
        s.sql(s"""SELECT lang, count(*) AS n_docs,
                 |  sum(n_chars) AS sum_chars
                 |FROM graft.$tbl
                 |GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM (
             |  SELECT lang, n_chars FROM documents WHERE doc_id % 4 = 1
             |  UNION ALL SELECT 'dd', 7
             |)
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // ALTER TABLE ADD COLUMN (declared-schema evolution through the
    // catalog): a METADATA-ONLY commit registers the widened schema
    // (`_schemas/<id>` + a `_schema` pointer carried by every later
    // writer — Iceberg's schema-in-metadata stance: resolution is
    // O(1), never a footer sweep); pre-evolution rows surface the new
    // column as NULL (by-name executor decode / driver schema pin),
    // post-evolution inserts carry values. The gate aggregates
    // count(*) vs count(note) per lang, so a leaked non-null, a
    // dropped old row, or a mis-carried schema all break the hash.
    Q("q_sql_add_column",
      (s, d) => {
        val tbl = sqlAddColTable(s, d)
        s.sql(s"""SELECT lang, count(*) AS n_docs,
                 |  count(note) AS n_noted
                 |FROM graft.$tbl
                 |GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, count(*) AS n_docs, count(note) AS n_noted
             |FROM (
             |  SELECT lang, CAST(NULL AS VARCHAR) AS note
             |  FROM documents
             |  UNION ALL SELECT 'ac', 'noted'
             |  UNION ALL SELECT 'ac', NULL
             |)
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // ALTER TABLE RENAME/DROP COLUMN (declared-schema evolution,
    // metadata-only): pre-rename files answer under the NEW logical
    // name through the prior-name fallback (coalesce-by-generation),
    // the dropped column vanishes without a rewrite, and the
    // post-rename append proves both physical generations read in one
    // scan. The gate aggregates per renamed-lang value, so a
    // generation that failed to resolve (nulls) or a resurrected
    // dropped column breaks the hash.
    Q("q_sql_rename_column",
      (s, d) => {
        val tbl = sqlRenameTable(s, d)
        s.sql(s"""SELECT language, count(*) AS n_docs,
                 |  sum(n_chars) AS sum_chars
                 |FROM graft.$tbl
                 |GROUP BY language ORDER BY language""".stripMargin)
      },
      Some("""SELECT language, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM (
             |  SELECT lang AS language, n_chars FROM documents
             |  UNION ALL SELECT 'rn', 9
             |)
             |GROUP BY language ORDER BY language""".stripMargin)),

    // CALL graft.system.<proc> — the chain's maintenance surface in
    // pure SQL (ProcedureCatalog): the gate reads the post-lifecycle
    // head (delete applied, compacted, vacuumed under keep_last=1)
    // beside `VERSION AS OF 'raw'`'s row count — the tagged
    // pre-delete version MUST survive the vacuum (tags anchor
    // retention), so the oracle's full-table count only matches if
    // expire_versions spared it.
    Q("q_sql_call",
      (s, d) => {
        val tbl = sqlCallTable(s, d)
        s.sql(s"""SELECT h.lang, h.n_docs, h.sum_chars, t.tag_docs
                 |FROM (
                 |  SELECT lang, count(*) AS n_docs,
                 |    sum(n_chars) AS sum_chars
                 |  FROM graft.$tbl GROUP BY lang) h
                 |CROSS JOIN (
                 |  SELECT count(*) AS tag_docs
                 |  FROM graft.$tbl VERSION AS OF 'raw') t
                 |ORDER BY h.lang""".stripMargin)
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  (SELECT count(*) FROM documents) AS tag_docs
             |FROM documents WHERE doc_id % 3 <> 0
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    Q("q_time_travel",
      // round 13: re-driven through the SQL catalog face — the reads
      // are plain `TIMESTAMP AS OF` SQL resolved by GraftCatalog over
      // the in-marker timeline (same oracle, now proving the whole
      // catalog + DSv2-scan + timeline path instead of the Scala API)
      (s, d) => {
        val (root, t1, t2) = travelChain(s, d)
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        val tbl = s"travel.t_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        graft.sources.GraftCatalog.registerTable(tbl, root)
        def block(ts: Long, label: String) = s.sql(
          s"""SELECT '$label' AS as_of, source,
             |  count(*) AS n_docs, sum(doc_id) AS id_sum
             |FROM graft.$tbl TIMESTAMP AS OF timestamp_millis($ts)
             |GROUP BY source""".stripMargin)
        block(t1, "v1").unionByName(block(t2, "v2"))
          .orderBy("as_of", "source")
      },
      Some("""SELECT 'v1' AS as_of, source, count(*) AS n_docs,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM documents WHERE doc_id % 7 <> 3 GROUP BY source
             |UNION ALL
             |SELECT 'v2' AS as_of, source, count(*) AS n_docs,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM documents WHERE doc_id % 7 <> 3 AND doc_id % 5 <> 1
             |GROUP BY source
             |ORDER BY as_of, source""".stripMargin)),

    // CHANGE FEED over the version chain (ManifestPrune.changeFeed) —
    // the PRODUCE side of CDC, closing the loop with the streaming
    // APPLY side (the graft-table sink's cdc mode): a chain holding
    // one commit of each kind (CoW merge with updates AND inserts, DV
    // delete, compaction) must emit exactly the four op groups of the
    // Delta CDF convention — update_preimage AND update_postimage (both
    // images is what lets a consumer maintain aggregates
    // incrementally, q_mv_feed_refresh), inserts, positional deletes
    // with pre-images — and NOTHING for the compaction (physical
    // motion is not change;
    // the no-op-update drop is what a downstream consumer's
    // correctness depends on). File-grain: each step reads only the
    // commit's own removed/added files and DV delta, never the
    // table — the property that makes tailing a 100 TB chain
    // affordable. Oracle replays all three ops arithmetically.
    Q("q_change_feed",
      (s, d) => {
        feedTable(s, d)
          .groupBy("version", "op")
          .agg(count(lit(1)).as("n_rows"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("version", "op")
      },
      Some("""SELECT CAST(1 AS BIGINT) AS version, 'insert' AS op,
             |  count(*) AS n_rows,
             |  CAST(sum(doc_id + 20000000) AS BIGINT) AS id_sum
             |FROM documents WHERE doc_id % 13 = 1
             |UNION ALL
             |SELECT CAST(1 AS BIGINT), 'update_preimage', count(*),
             |  CAST(sum(doc_id) AS BIGINT)
             |FROM documents WHERE doc_id % 11 = 0
             |UNION ALL
             |SELECT CAST(1 AS BIGINT), 'update_postimage', count(*),
             |  CAST(sum(doc_id) AS BIGINT)
             |FROM documents WHERE doc_id % 11 = 0
             |UNION ALL
             |SELECT CAST(2 AS BIGINT), 'delete', count(*),
             |  CAST(sum(doc_id) AS BIGINT)
             |FROM documents WHERE doc_id % 7 = 3
             |ORDER BY version, op""".stripMargin)),

    // TABLE HISTORY (ManifestPrune.describeHistory) — the operator
    // dashboard over the chain: one row per version with the commit
    // KIND inferred from the chain itself (file-set signature
    // unchanged + sidecar = dv-delete; changed = rewrite) and the
    // planner's row arithmetic (physical from manifest sums, hidden
    // from the sidecar, live = difference) — NO data file is read.
    // Runs over the shared 4-version chain (base → CoW merge → DV
    // delete → compaction); the oracle replays every row count
    // arithmetically, so a wrong DV carry, a compaction that loses
    // rows, or a misclassified commit kind all break the hash.
    // Timestamps/notes are operator metadata and stay out of the
    // gated projection (nondeterministic). File counts are layout-
    // dependent (shuffle width), so the gate uses row arithmetic.
    Q("q_table_history",
      (s, d) => {
        val root = changeFeedChain(s, d)
        graft.sources.ManifestPrune.describeHistory(s, root)
          .select("version", "kind", "physical_rows", "hidden_rows",
            "live_rows")
          .orderBy("version")
      },
      Some("""WITH n AS (SELECT count(*) AS base FROM documents),
             |ins AS (SELECT count(*) AS c FROM documents
             |        WHERE doc_id % 13 = 1),
             |del AS (SELECT count(*) AS c FROM documents
             |        WHERE doc_id % 7 = 3)
             |SELECT CAST(0 AS BIGINT) AS version, 'base' AS kind,
             |  CAST(base AS BIGINT) AS physical_rows,
             |  CAST(0 AS BIGINT) AS hidden_rows,
             |  CAST(base AS BIGINT) AS live_rows FROM n
             |UNION ALL
             |SELECT 1, 'rewrite', CAST(base + ins.c AS BIGINT),
             |  0, CAST(base + ins.c AS BIGINT) FROM n, ins
             |UNION ALL
             |SELECT 2, 'dv-delete', CAST(base + ins.c AS BIGINT),
             |  CAST(del.c AS BIGINT),
             |  CAST(base + ins.c - del.c AS BIGINT) FROM n, ins, del
             |UNION ALL
             |SELECT 3, 'rewrite', CAST(base + ins.c - del.c AS BIGINT),
             |  0, CAST(base + ins.c - del.c AS BIGINT) FROM n, ins, del
             |ORDER BY version""".stripMargin)),

    // DESCRIBE HISTORY as SQL — the Iceberg metadata-table convention
    // through GraftCatalog: `SELECT ... FROM graft.db.t.history` (a
    // LocalScan relation over describeHistory — O(versions) driver
    // metadata, never a data read). Same oracle replay as
    // q_table_history, now proving the SQL resolution path.
    Q("q_sql_history",
      (s, d) => {
        val root = changeFeedChain(s, d)
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        val tbl = s"hist.t_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        graft.sources.GraftCatalog.registerTable(tbl, root)
        s.sql(s"""SELECT version, kind, physical_rows, hidden_rows,
                 |  live_rows
                 |FROM graft.$tbl.history ORDER BY version""".stripMargin)
      },
      Some("""WITH n AS (SELECT count(*) AS base FROM documents),
             |ins AS (SELECT count(*) AS c FROM documents
             |        WHERE doc_id % 13 = 1),
             |del AS (SELECT count(*) AS c FROM documents
             |        WHERE doc_id % 7 = 3)
             |SELECT CAST(0 AS BIGINT) AS version, 'base' AS kind,
             |  CAST(base AS BIGINT) AS physical_rows,
             |  CAST(0 AS BIGINT) AS hidden_rows,
             |  CAST(base AS BIGINT) AS live_rows FROM n
             |UNION ALL
             |SELECT 1, 'rewrite', CAST(base + ins.c AS BIGINT),
             |  0, CAST(base + ins.c AS BIGINT) FROM n, ins
             |UNION ALL
             |SELECT 2, 'dv-delete', CAST(base + ins.c AS BIGINT),
             |  CAST(del.c AS BIGINT),
             |  CAST(base + ins.c - del.c AS BIGINT) FROM n, ins, del
             |UNION ALL
             |SELECT 3, 'rewrite', CAST(base + ins.c - del.c AS BIGINT),
             |  0, CAST(base + ins.c - del.c AS BIGINT) FROM n, ins, del
             |ORDER BY version""".stripMargin)),

    // `graft.db.t.files` METADATA TABLE (GraftFilesTable) — Iceberg's
    // `files` relation: the current version's live data files with
    // manifest stats and per-file DV-hidden counts, served as a
    // DISTRIBUTED scan over the manifest parquet through the public
    // V1Scan bridge (never a driver-held file list). The gate
    // aggregates the relation back to row arithmetic the oracle can
    // replay over the base parquet: physical rows = corpus + the two
    // SQL-inserted rows, hidden = the DELETE WHERE predicate's count,
    // live = physical − hidden, min/max from the stringified stats
    // round-tripped through BIGINT. A stats row drifting from its
    // file's true contents, a DV hit attributed to the wrong file, or
    // the insert/delete commits not reflected in the manifest all
    // break the hash. File COUNTS are build parameters (nFiles = 8),
    // deliberately not gated.
    Q("q_sql_files",
      (s, d) => {
        val tbl = sqlCatalogTable(s, d)
        s.sql(s"""SELECT sum(n_rows) AS physical_rows,
                 |  sum(hidden_rows) AS hidden_rows,
                 |  sum(n_rows - hidden_rows) AS live_rows,
                 |  min(CAST(min_key AS BIGINT)) AS min_chars,
                 |  max(CAST(max_key AS BIGINT)) AS max_chars
                 |FROM graft.$tbl.files""".stripMargin)
      },
      Some("""WITH aug AS (
             |  SELECT doc_id, lang, n_chars FROM documents
             |  UNION ALL SELECT 91000001, 'sq', 20
             |  UNION ALL SELECT 91000003, 'sq', 20
             |)
             |SELECT CAST(count(*) AS BIGINT) AS physical_rows,
             |  CAST(sum(CASE WHEN doc_id % 9 = 2 AND lang <> 'sq'
             |    THEN 1 ELSE 0 END) AS BIGINT) AS hidden_rows,
             |  CAST(sum(CASE WHEN doc_id % 9 = 2 AND lang <> 'sq'
             |    THEN 0 ELSE 1 END) AS BIGINT) AS live_rows,
             |  CAST(min(n_chars) AS BIGINT) AS min_chars,
             |  CAST(max(n_chars) AS BIGINT) AS max_chars
             |FROM aug""".stripMargin)),

    // FILE SKIPPING THROUGH THE SQL FACE (SupportsPushDownV2Filters
    // + ChainSkip, round 14): the WHERE's n_chars interval reaches
    // the DSv2 scan builder as V2 predicates, the manifest's
    // per-file min/max prunes the file list BEFORE partition
    // planning (spec-aware — planRangeCommitted's rule), and every
    // predicate stays a post-scan filter, so skipping trades I/O,
    // never correctness. The SQL twin of q_manifest_prune: an
    // analyst's WHERE now plans O(matching files) with zero
    // engine-specific API. GraftScanPushdownSpec pins the plan shape
    // (pruned partitions < manifest files, skip bounds in the scan
    // description, OR shapes never mis-prune).
    Q("q_sql_prune",
      (s, d) => {
        val root = graft.sources.ManifestPrune.ensureLayout(s, d)
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        val tbl = s"prn.t_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        graft.sources.GraftCatalog.registerTable(tbl, root)
        s.sql(s"""SELECT lang, count(*) AS n_docs,
                 |  sum(n_chars) AS sum_chars, sum(doc_id) AS sum_ids
                 |FROM graft.$tbl
                 |WHERE n_chars BETWEEN 120 AND 200
                 |GROUP BY lang ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
             |FROM documents WHERE n_chars BETWEEN 120 AND 200
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // MULTI-COLUMN FILE SKIPPING (per-file column stats, round 15):
    // manifests record min/max/null-count for EVERY supported column
    // (`cstats_long` / `cstats_str` maps — Iceberg's column-stats
    // idea), so a predicate on a column the layout never clustered
    // by still prunes, and a composite predicate multiplies both
    // dimensions' selectivity: on this (lang, n_chars)-clustered
    // chain `lang = 'en'` prunes to the en band through the STRING
    // stats (the spec stats only n_chars) and `n_chars < 300`
    // subdivides the band through the LONG stats. ColStatsSpec pins
    // the plan shapes (including the Z-order both-axes case) and the
    // soundness rules: statless rows always kept, all-NULL columns
    // prunable, string bounds truncated Iceberg-style (prefix lo,
    // +inf hi past 64 chars). At 100 TB this is the difference
    // between "one lucky clustered column prunes" and "every WHERE
    // prunes".
    Q("q_sql_prune_multi",
      (s, d) => {
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        val root = multiStatChain(s, d)
        val tbl = s"prn.m_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        graft.sources.GraftCatalog.registerTable(tbl, root)
        s.sql(s"""SELECT source, count(*) AS n_docs,
                 |  sum(n_chars) AS sum_chars, sum(doc_id) AS sum_ids
                 |FROM graft.$tbl
                 |WHERE lang = 'en' AND n_chars BETWEEN 120 AND 300
                 |GROUP BY source ORDER BY source""".stripMargin)
      },
      Some("""SELECT source, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
             |FROM documents
             |WHERE lang = 'en' AND n_chars BETWEEN 120 AND 300
             |GROUP BY source ORDER BY source""".stripMargin)),

    // TOP-N PUSHDOWN THROUGH COLUMN STATS: `ORDER BY doc_id LIMIT k`
    // on a doc_id-clustered chain whose SPEC stats n_chars — the
    // file pruning (drop files k rows provably out-sort) must read
    // its per-file doc_id bounds from the cstats_long map, and on
    // this layout it actually fires (the top-25 live in one file).
    // The plan keeps Spark's TakeOrderedAndProject on top
    // (partially-pushed); doc_id is unique so the top-k is
    // deterministic for the oracle. GraftScanPushdownSpec pins the
    // plan shape (files pruned, both directions, null-exact rules,
    // the tie/overflow edge cases).
    Q("q_sql_topn",
      (s, d) => {
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        val root = docIdChain(s, d)
        val tbl = s"prn.did_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        graft.sources.GraftCatalog.registerTable(tbl, root)
        s.sql(s"""SELECT doc_id, lang, n_chars FROM graft.$tbl
                 |ORDER BY doc_id LIMIT 25""".stripMargin)
      },
      Some("""SELECT doc_id, lang, n_chars FROM documents
             |ORDER BY doc_id LIMIT 25""".stripMargin)),

    // STRING TOP-N PUSHDOWN (round 16): `ORDER BY <string col> LIMIT
    // k` plans through cstats_str with the truncation rules the
    // writer encodes — a file's lo is a sound 64-char-prefix lower
    // bound, its hi exists only when the max fit whole — compared in
    // UTF8-binary order (the manifest aggregation's own ordering).
    // The chain is clustered BY the string key, so per-file ranges
    // are tight and the drop actually fires; the key is unique
    // (lang + zero-padded doc_id) so the top-k is deterministic for
    // the oracle. The spec pins pruning both directions plus the
    // truncated-hi refusal (long text columns stay correct, unpruned).
    Q("q_sql_topn_str",
      (s, d) => {
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        val root = strTopNChain(s, d)
        val tbl = s"prn.tstr_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        graft.sources.GraftCatalog.registerTable(tbl, root)
        s.sql(s"""SELECT tag, doc_id FROM graft.$tbl
                 |ORDER BY tag LIMIT 25""".stripMargin)
      },
      Some("""SELECT lang || '-' || lpad(CAST(doc_id AS VARCHAR), 9, '0')
             |    AS tag, doc_id
             |FROM documents ORDER BY tag LIMIT 25""".stripMargin)),

    // METADATA-ONLY AGGREGATES (SupportsPushDownAggregates, round
    // 14): global COUNT(*)/MIN/MAX over the catalog table answer
    // from manifest + sidecar arithmetic alone — the Iceberg
    // aggregate-pushdown rule: the scan plans ONE metadata row and
    // reads zero data bytes (GraftScanPushdownSpec proves it by
    // DELETING the data files and asking again, and pins the exact
    // refusal boundary: DVs block MIN/MAX but not COUNT(*), unfolded
    // equality deletes block COUNT, any WHERE blocks everything —
    // values then flow through the real scan unchanged). At 100 TB,
    // `SELECT count(*) FROM corpus` costs O(manifest), not a scan.
    Q("q_sql_agg_push",
      (s, d) => {
        val root = graft.sources.ManifestPrune.ensureLayout(s, d)
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        val tbl = s"prn.t_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        graft.sources.GraftCatalog.registerTable(tbl, root)
        s.sql(s"""SELECT count(*) AS n_docs,
                 |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
                 |FROM graft.$tbl""".stripMargin)
      },
      Some("""SELECT count(*) AS n_docs,
             |  CAST(min(n_chars) AS BIGINT) AS min_chars,
             |  CAST(max(n_chars) AS BIGINT) AS max_chars
             |FROM documents""".stripMargin)),

    // METADATA-ONLY SUM (round 16): SUM of any statted integral
    // column answers from the per-file `cstats_sum` decimal(38,0)
    // map — written at every commit alongside min/max/nn/HLL, rolled
    // up at plan time, refused under hidden rows / coverage gaps /
    // Long overflow (the real scan then reproduces ANSI semantics).
    // At 100 TB, `SELECT sum(tokens) FROM corpus` — the canonical
    // token-budget question — costs O(manifest), zero data bytes.
    // GraftScanPushdownSpec pins the deletion proof and every
    // refusal edge.
    Q("q_sql_agg_sum",
      (s, d) => {
        val root = graft.sources.ManifestPrune.ensureLayout(s, d)
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        val tbl = s"prn.t_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        graft.sources.GraftCatalog.registerTable(tbl, root)
        s.sql(s"""SELECT sum(n_chars) AS sum_chars,
                 |  sum(doc_id) AS sum_ids, count(*) AS n_docs
                 |FROM graft.$tbl""".stripMargin)
      },
      Some("""SELECT CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
             |  count(*) AS n_docs
             |FROM documents""".stripMargin)),

    // METADATA-ONLY GROUP BY (round 16): on a chain whose every live
    // file is provably single-group in the grouping column (per-lang
    // commits here — the layout identity-partitioned ingest
    // produces; proven per file from cstats lo == hi, nulls == 0),
    // `GROUP BY lang` with COUNT/MIN/MAX/SUM answers from ONE
    // manifest rollup — the Iceberg partition-stats rollup rule
    // generalized to any covered column. Zero data bytes; at 100 TB
    // the per-language token census costs O(manifest). Mixed-group
    // files, sidecars, or coverage gaps refuse into the exact scan
    // (GraftScanPushdownSpec pins both directions).
    Q("q_sql_agg_group",
      (s, d) => {
        val tbl = groupAggTable(s, d)
        s.sql(s"""SELECT lang, count(*) AS n_docs,
                 |  min(n_chars) AS min_chars, max(doc_id) AS max_id,
                 |  sum(n_chars) AS sum_chars
                 |FROM graft.$tbl GROUP BY lang
                 |ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(min(n_chars) AS BIGINT) AS min_chars,
             |  CAST(max(doc_id) AS BIGINT) AS max_id,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents GROUP BY lang
             |ORDER BY lang""".stripMargin)),

    // METADATA-ONLY DISTINCT (round 16): `SELECT DISTINCT lang` on
    // the per-lang-committed chain is a group-by with NO asks — the
    // proven group values ARE the answer, zero data bytes. The
    // dictionary-of-a-partition-column query every catalog UI runs,
    // at O(manifest) cost. Shares q_sql_agg_group's chain; the spec
    // pins the push and the mixed-layout refusal.
    Q("q_sql_distinct_push",
      (s, d) => {
        val tbl = groupAggTable(s, d)
        s.sql(s"""SELECT DISTINCT lang FROM graft.$tbl
                 |ORDER BY lang""".stripMargin)
      },
      Some("""SELECT DISTINCT lang FROM documents
             |ORDER BY lang""".stripMargin)),

    // GROUP-CONSTANT REWRITE, end to end (round 16): an ORDINARY
    // range-clustered chain (files mix langs — metadata GROUP BY
    // refuses) goes through `CALL graft.system.rewrite_grouped`,
    // which re-lands every file single-group by CONSTRUCTION
    // (partitionBy on an md5 path key; skew-natural sizing — a giant
    // group spreads over many tasks, each writing its own
    // single-group file), and the SAME GROUP BY then answers from
    // ONE manifest rollup. This is the maintenance path that arms
    // the per-partition census on tables that were never ingested
    // per group. GraftSqlProcedureSpec pins refuse-before/push-after
    // and the manifest's per-file constancy proof.
    Q("q_sql_rewrite_grouped",
      (s, d) => {
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        val root = rewriteGroupedChain(s, d)
        val tbl = s"prn.rg_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        graft.sources.GraftCatalog.registerTable(tbl, root)
        s.sql(s"""SELECT lang, count(*) AS n_docs,
                 |  sum(n_chars) AS sum_chars
                 |FROM graft.$tbl GROUP BY lang
                 |ORDER BY lang""".stripMargin)
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM documents GROUP BY lang
             |ORDER BY lang""".stripMargin)),

    // GENERAL MERGE INTO (ManifestPrune.mergeIntoCommit) — the full
    // three-clause MERGE a warehouse user writes, in ONE committed
    // CoW version: WHEN MATCHED THEN UPDATE SET over MULTIPLE
    // arbitrary columns (lang AND source here — the old path could
    // only rewrite lang), WHEN NOT MATCHED THEN INSERT, WHEN MATCHED
    // THEN DELETE. File-grain cost as ever (hit files only), and the
    // oracle replays all three clauses arithmetically — one clause
    // leaking into another's row set (e.g. an update applied to a
    // deleted key) breaks the hash. MergeIntoSpec pins the
    // guardrails, the NULL-keeps-old contract, and clustering-stat
    // refresh when SET touches the range key.
    Q("q_merge_into",
      (s, d) => {
        val root = mergeIntoChain(s, d)
        graft.sources.ManifestPrune.readCommitted(s, root,
          graft.sources.ManifestPrune.currentVersion(s, root))
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("source", "lang")
      },
      Some("""WITH head AS (
             |  SELECT
             |    CASE WHEN doc_id % 9 = 2 THEN 'merged' ELSE source END
             |      AS source,
             |    CASE WHEN doc_id % 9 = 2 THEN 'mm' ELSE lang END
             |      AS lang, doc_id
             |  FROM documents WHERE doc_id % 17 <> 4
             |  UNION ALL
             |  SELECT source, lang, doc_id + 30000000
             |  FROM documents WHERE doc_id % 31 = 3)
             |SELECT source, lang, count(*) AS n_docs,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM head GROUP BY source, lang
             |ORDER BY source, lang""".stripMargin)),

    // CLUSTERING-SPEC EVOLUTION — Iceberg partition-spec evolution as
    // a commit kind: v1 deletes under the default n_chars spec, v2
    // evolves clustering to doc_id (metadata-only: identical files, a
    // spec pointer), v3's compaction physically re-clusters and stats
    // by doc_id. The gate reads BOTH eras through the spec-aware
    // pruned reader: a pre-evolution version pruned on n_chars and
    // the post-compaction head pruned on doc_id, each against the
    // same replayed arithmetic — proving old files stay readable
    // under their recorded spec while new files prune on the new
    // column. SpecEvolutionSpec pins that both plans actually prune
    // (planned ⊂ manifest) and that mixed-spec reads stay exact.
    Q("q_spec_evolution",
      (s, d) => {
        val MP = graft.sources.ManifestPrune
        val root = specEvoChain(s, d)
        val pre = MP.readRangeCommitted(s, root, 1L, "n_chars", 100, 180)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .withColumn("phase", lit("pre"))
        val post = MP.readRangeCommitted(s, root, 3L, "doc_id",
            1000, 5000)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .withColumn("phase", lit("post"))
        pre.unionByName(post)
          .select("phase", "lang", "n_docs", "sum_chars")
          .orderBy("phase", "lang")
      },
      Some("""WITH live AS (
             |  SELECT * FROM documents WHERE doc_id % 7 <> 3)
             |SELECT 'pre' AS phase, lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM live WHERE n_chars BETWEEN 100 AND 180 GROUP BY lang
             |UNION ALL
             |SELECT 'post', lang, count(*),
             |  CAST(sum(n_chars) AS BIGINT)
             |FROM live WHERE doc_id BETWEEN 1000 AND 5000 GROUP BY lang
             |ORDER BY phase, lang""".stripMargin)),

    // MERGE-ON-READ upsert — identical MERGE INTO semantics to
    // q_merge_into, but each commit writes a DV mask + a delta file
    // (O(changed rows)) instead of rewriting hit files; the oracle
    // replays the TWO-commit arithmetic over raw documents, so the
    // hash gate proves the whole read path: carried base files,
    // chained sidecar masks (v2 hides a v1 delta row), and delta
    // unioning. MorMergeSpec additionally pins CoW≡MoR state equality
    // and that compaction erases the sidecar.
    Q("q_mor_merge",
      (s, d) => {
        val root = morChain(s, d)
        graft.sources.ManifestPrune.readCommitted(s, root,
          graft.sources.ManifestPrune.currentVersion(s, root))
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("source", "lang")
      },
      Some("""WITH v1 AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 9 = 2 THEN 'merged' ELSE source END
             |      AS source,
             |    CASE WHEN doc_id % 9 = 2 THEN 'mm' ELSE lang END
             |      AS lang
             |  FROM documents WHERE doc_id % 17 <> 4
             |  UNION ALL
             |  SELECT doc_id + 30000000, source, lang
             |  FROM documents WHERE doc_id % 31 = 3),
             |k2 AS (
             |  SELECT doc_id FROM documents
             |  WHERE doc_id % 9 = 2 AND doc_id % 2 = 0
             |    AND doc_id % 17 <> 4),
             |head AS (
             |  -- commit 2 matches ON KEY VALUE, so the oracle must
             |  -- too: a `doc_id < 30000000` provenance guard was only
             |  -- sound while every original id sat below the +30M
             |  -- insert offset — false at the 10x rung (ids to 9e9,
             |  -- caught as a hash mismatch there)
             |  SELECT v1.doc_id, v1.source,
             |    CASE WHEN k2.doc_id IS NOT NULL
             |         THEN 'm2' ELSE v1.lang END AS lang
             |  FROM v1 LEFT JOIN k2 ON v1.doc_id = k2.doc_id)
             |SELECT source, lang, count(*) AS n_docs,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM head GROUP BY source, lang
             |ORDER BY source, lang""".stripMargin)),

    // EQUALITY DELETES (ManifestPrune.eqDeleteCommit) — Iceberg v2's
    // other delete kind: the commit records KEY VALUES, not positions,
    // so it scans nothing (even a positional DV delete pays a
    // position-planning join; a GDPR erasure queue meets its SLA with
    // a bytes-sized commit). Readers anti-join on the accumulated
    // keys until the next data-touching commit folds them into
    // positional form (v2's MoR upsert here) or compaction
    // materializes them physically (v4). The head read after
    // delete→fold→delete→compact must equal the oracle's arithmetic
    // replay; EqDeleteSpec pins the file-level contracts (no data
    // file written at v1/v3, fold drops the sidecar, feed emission,
    // vacuum retention, metadata-only counts refusing eq versions).
    Q("q_eq_delete",
      (s, d) => {
        val root = eqDeleteChain(s, d)
        graft.sources.ManifestPrune.readCommitted(s, root,
          graft.sources.ManifestPrune.currentVersion(s, root))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""WITH head AS (
             |  SELECT doc_id, n_chars,
             |    CASE WHEN doc_id % 13 = 2 THEN 'ee' ELSE lang END
             |      AS lang
             |  FROM documents
             |  WHERE doc_id % 11 <> 4 AND doc_id % 17 <> 6)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM head GROUP BY lang ORDER BY lang""".stripMargin)),

    // GRAFT-TABLE STREAMING SINK (GraftTableSink / applySinkBatch) —
    // the chain's writeStream face: each micro-batch commits as one
    // version (append = insert-only delta, upsert = full-row MERGE by
    // key through merge-on-read, delete = pure-metadata equality
    // delete), exactly-once under replay via the tsink: marker
    // cursor. The gate drives the sink applier through all three
    // modes and hash-matches the head read against the oracle's
    // replay; GraftTableSinkSpec drives a REAL
    // writeStream.format("graft-table") query through the same path.
    Q("q_table_sink",
      (s, d) => {
        val root = sinkChain(s, d)
        graft.sources.ManifestPrune.readCommitted(s, root,
          graft.sources.ManifestPrune.currentVersion(s, root))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_sum"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy("lang")
      },
      Some("""WITH up AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 10 = 4 THEN 'up' ELSE lang END
             |      AS lang, n_chars
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000, lang, n_chars
             |  FROM documents WHERE doc_id < 20),
             |head AS (
             |  SELECT * FROM up WHERE doc_id NOT IN (
             |    SELECT doc_id FROM documents WHERE doc_id % 23 = 5))
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM head GROUP BY lang ORDER BY lang""".stripMargin)),

    // CO-LOCATED (BUCKETED) JOIN — Spark-native storage co-location:
    // both sides were written `bucketBy(8, doc_id)`, so the join
    // consumes the persisted hash layout and plans with ZERO
    // Exchange on either side (the write-once-join-many economics of
    // a 100 TB star schema; ColocatedJoinSpec pins the shuffle-free
    // plan with broadcast disabled). The gate hash-matches the join
    // + aggregate against the plain two-table oracle — co-location
    // must change the plan, never the rows.
    Q("q_colocated_join",
      (s, d) => {
        val (t1, t2) = bucketedTables(s, d)
        s.table(t1).join(s.table(t2), "doc_id")
          .groupBy("lang", "label")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy("lang", "label")
      },
      Some("""SELECT d.lang, e.label, count(*) AS n_docs,
             |  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
             |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
             |GROUP BY d.lang, e.label
             |ORDER BY d.lang, e.label""".stripMargin)),

    // `graft.db.t.partitions` METADATA TABLE (round 14 — Iceberg's
    // partitions relation, completing the history/files/partitions
    // trio): the manifest aggregated by (bucket, spec) with
    // file/physical/hidden/live sums and the group key range,
    // executor-side over the manifest parquet. Here on the
    // DV-bearing SQL chain: one group whose hidden/live arithmetic
    // the oracle replays exactly — a wrong DV-per-file join or a
    // lost group breaks the hash. SpjJoinSpec additionally pins the
    // per-BUCKET sums on a bucketed chain against the bucket
    // expression itself.
    Q("q_sql_partitions",
      (s, d) => {
        val tbl = sqlCatalogTable(s, d)
        s.sql(s"""SELECT count(*) AS n_groups,
                 |  sum(n_rows) AS physical_rows,
                 |  sum(hidden_rows) AS hidden_rows,
                 |  sum(live_rows) AS live_rows,
                 |  min(CAST(min_key AS BIGINT)) AS min_chars,
                 |  max(CAST(max_key AS BIGINT)) AS max_chars
                 |FROM graft.$tbl.partitions""".stripMargin)
      },
      Some("""WITH aug AS (
             |  SELECT doc_id, lang, n_chars FROM documents
             |  UNION ALL SELECT 91000001, 'sq', 20
             |  UNION ALL SELECT 91000003, 'sq', 20
             |)
             |SELECT CAST(1 AS BIGINT) AS n_groups,
             |  CAST(count(*) AS BIGINT) AS physical_rows,
             |  CAST(sum(CASE WHEN doc_id % 9 = 2 AND lang <> 'sq'
             |    THEN 1 ELSE 0 END) AS BIGINT) AS hidden_rows,
             |  CAST(sum(CASE WHEN doc_id % 9 = 2 AND lang <> 'sq'
             |    THEN 0 ELSE 1 END) AS BIGINT) AS live_rows,
             |  CAST(min(n_chars) AS BIGINT) AS min_chars,
             |  CAST(max(n_chars) AS BIGINT) AS max_chars
             |FROM aug""".stripMargin)),

    // `graft.db.t.refs` METADATA TABLE (round 14 — Iceberg's refs
    // relation, rounding out history/files/partitions): every named
    // reference as a row. On q_sql_call's chain the 'raw' tag IS the
    // retention anchor that survived the CALL expire_versions — so
    // this gate also re-proves the tag survived vacuum, from SQL.
    Q("q_sql_refs",
      (s, d) => {
        val tbl = sqlCallTable(s, d)
        s.sql(s"""SELECT name, type, version
                 |FROM graft.$tbl.refs ORDER BY name""".stripMargin)
      },
      Some("""SELECT 'raw' AS name, 'tag' AS type,
             |  CAST(0 AS BIGINT) AS version""".stripMargin)),

    // STRING-TYPED FILE SKIPPING + METADATA MIN/MAX (round 14): a
    // chain clustered on a STRING column (the URL/language layout) —
    // the WHERE's lang interval prunes files through the manifest's
    // UTF8-binary min/max (GraftScanPushdownSpec pins the sub-total
    // plan), and the global min/max(lang) beside it answer from the
    // SAME stats as a metadata aggregate when the scan carries no
    // hidden rows. One gated row carries both: a broken string
    // ordering, a lost file, or a wrong stats bound all break the
    // hash.
    Q("q_sql_prune_str",
      (s, d) => {
        val root = langChainTable(s, d)
        s.sql(s"""SELECT count(*) AS n_docs,
                 |  sum(n_chars) AS sum_chars,
                 |  min(doc_id) AS min_id
                 |FROM graft.$root
                 |WHERE lang >= 'b' AND lang <= 'f'""".stripMargin)
      },
      Some("""SELECT count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(min(doc_id) AS BIGINT) AS min_id
             |FROM documents
             |WHERE lang >= 'b' AND lang <= 'f'""".stripMargin)),

    // BLOOM-PLANNED POINT LOOKUP THROUGH SQL (round 14 — the
    // q_point_lookup plan with zero engine API): the catalog scan
    // recognizes the IN predicate probes the bloom-indexed column
    // (the index meta records it), screens the file list through the
    // per-file sketches, and re-applies the exact predicate — range
    // stats can't prune here (the layout clusters by n_chars), and
    // one probed id is DV-deleted so the sidecar interplay is in the
    // gate. GraftScanPushdownSpec pins planned ⊂ manifest and the
    // runtime (DPP) bloom path.
    Q("q_sql_point_lookup",
      (s, d) => {
        val root = bloomChain(s, d)
        s.conf.set("spark.sql.catalog.graft",
          classOf[graft.sources.GraftCatalog].getName)
        val tbl = s"blm.t_${d.replaceAll("[^A-Za-z0-9]", "_")}"
        graft.sources.GraftCatalog.registerTable(tbl, root)
        s.sql(s"""SELECT doc_id, text, lang, source, n_chars
                 |FROM graft.$tbl
                 |WHERE doc_id IN (3, 7, 113, 211, 317, 431)
                 |ORDER BY doc_id""".stripMargin)
      },
      Some("""SELECT doc_id, text, lang, source, n_chars
             |FROM documents
             |WHERE doc_id IN (3, 7, 113, 211, 317, 431)
             |  AND doc_id % 7 <> 3
             |ORDER BY doc_id""".stripMargin)),

    // STORAGE-PARTITIONED JOIN between chain tables (round 14 —
    // SpjBucket + the catalog's FunctionCatalog face): both chains
    // were built bucketed 8 ways on the join key, each file's bucket
    // id rides in the manifest, the scans report
    // KeyGroupedPartitioning(bucket(8, doc_id)) with HasPartitionKey
    // partitions, and the catalog resolves the `bucket` function so
    // Spark proves the partitionings compatible — the join plans
    // with ZERO Exchange on either side (SpjJoinSpec pins the
    // shuffle-free plan, the bucket-count-mismatch fallback, and
    // that SQL INSERT keeps appends bucketed). Where
    // q_colocated_join buys this with Spark-native bucketBy tables,
    // these are CHAIN tables: versioned, DV-maskable, SQL-writable.
    // The oracle replays the plain join — co-location must change
    // the plan, never the rows.
    Q("q_spj_join",
      (s, d) => {
        val (ta, tb) = spjTables(s, d)
        s.sql(s"""SELECT a.lang, b.label, count(*) AS n_docs,
                 |  sum(a.n_chars) AS sum_chars
                 |FROM graft.$ta a JOIN graft.$tb b
                 |  ON a.doc_id = b.doc_id
                 |GROUP BY a.lang, b.label
                 |ORDER BY a.lang, b.label""".stripMargin)
      },
      Some("""SELECT d.lang, e.label, count(*) AS n_docs,
             |  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
             |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
             |GROUP BY d.lang, e.label
             |ORDER BY d.lang, e.label""".stripMargin)),

    // POINT LOOKUP VIA A PER-FILE BLOOM INDEX (BloomIndex) — the
    // file-skipping range stats can't give: the layout clusters by
    // n_chars, so a doc_id point probe overlaps every file's range
    // and only the bloom sidecar prunes (PointLookupSpec pins
    // planned ⊂ manifest). One probed id is DV-deleted — the read
    // applies the version's sidecars after the screen, so the bloom's
    // false-positive-only contract composes with deletes. The gate
    // returns the looked-up rows themselves (text included): a row
    // store point-read, hash-matched against the oracle's IN filter.
    Q("q_point_lookup",
      (s, d) => {
        val root = bloomChain(s, d)
        graft.sources.BloomIndex.readPoint(s, root, 1L, "doc_id",
          Seq(3L, 7L, 113L, 211L, 317L, 431L))
          .select(col("doc_id"), col("text"), col("lang"),
            col("source"), col("n_chars"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, text, lang, source, n_chars
             |FROM documents
             |WHERE doc_id IN (3, 7, 113, 211, 317, 431)
             |  AND doc_id % 7 <> 3
             |ORDER BY doc_id""".stripMargin)),

    // BRANCH-AWARE point lookups (BloomIndex.indexOf's parent-at-fork
    // resolution + extend): the branch never rebuilt an index — its
    // fork state answers through the PARENT's sketches, its own
    // append extended them with one new-file sketch, and the read
    // applies the branch's sidecars (the folded equality delete) plus
    // the exact IN predicate after the screen. The oracle replays the
    // branch lineage over the base parquet.
    Q("q_point_lookup_branch",
      (s, d) => {
        val br = bloomBranchChain(s, d)
        graft.sources.BloomIndex.readPoint(s, br, 2L, "doc_id",
          Seq(3L, 7L, 60L, 113L, 211L, 317L, 431L, 87000001L))
          .select(col("doc_id"), col("text"), col("lang"),
            col("source"), col("n_chars"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, text, lang, source, n_chars
             |FROM (
             |  SELECT doc_id, text, lang, source, n_chars
             |  FROM documents
             |  UNION ALL
             |  SELECT 87000001, 'branch row', 'bb', 's0', 10
             |)
             |WHERE doc_id IN (3, 7, 60, 113, 211, 317, 431, 87000001)
             |  AND doc_id % 7 <> 3 AND doc_id % 11 <> 5
             |ORDER BY doc_id""".stripMargin)),

    // SHALLOW CLONE (ManifestPrune.cloneTable) — Delta's zero-copy
    // table fork: the clone's v0 references the source's data files
    // by path (KB of metadata copied, no data), then both sides
    // evolve independently — the clone takes a MoR update, the source
    // a later delete the clone must NOT see. The gate reads the clone
    // head against the oracle's replay of exactly the clone's
    // lineage (source state AT the clone + clone-side update);
    // CloneSpec pins the sharing contracts (zero data files copied,
    // source vacuum protects registered clones, detach releases).
    Q("q_clone",
      (s, d) => {
        val dst = clonedChain(s, d)
        graft.sources.ManifestPrune.readCommitted(s, dst,
          graft.sources.ManifestPrune.currentVersion(s, dst))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""WITH head AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 5 = 0 THEN 'cc' ELSE lang END
             |      AS lang
             |  FROM documents WHERE doc_id % 7 <> 3)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM head GROUP BY lang ORDER BY lang""".stripMargin)),

    // METADATA-ONLY TABLE STATS (ManifestPrune.liveRowCount + the
    // manifest's per-file bounds) — the Delta/Iceberg count(*) fast
    // path: live rows = Σ n_rows − |DV|, bounds = min/max over the
    // per-file stats, all answered from KB-sized manifests without
    // touching a data file (MetaStatsSpec proves it by deleting the
    // data dir and asking again). At 100 TB this is the difference
    // between a dashboard's COUNT refreshing in milliseconds and
    // scheduling a scan. Exactness contract: counts are exact under
    // positional DVs (and refuse un-folded equality deletes —
    // liveRowCountCommitted throws); bounds are exact per FILE, so
    // the global min/max is exact on the physical rows (a DV cannot
    // widen a bound; it can leave it stale, which the oracle's
    // physical min/max mirrors).
    Q("q_meta_stats",
      (s, d) => {
        val (mf, dv) = dvDeletedVersion(s, d)
        val nLive = graft.sources.ManifestPrune.liveRowCount(
          s, mf, Some(dv))
        s.read.parquet(mf)
          .agg(min(col("min_key")).cast("long").as("min_chars"),
            max(col("max_key")).cast("long").as("max_chars"))
          .select(lit(nLive).as("n_live"), col("min_chars"),
            col("max_chars"))
      },
      Some("""SELECT
             |  (SELECT count(*) FROM documents WHERE doc_id % 7 <> 3)
             |    AS n_live,
             |  CAST(min(n_chars) AS BIGINT) AS min_chars,
             |  CAST(max(n_chars) AS BIGINT) AS max_chars
             |FROM documents""".stripMargin)),

    // BRANCH + FAST-FORWARD (ManifestPrune.createBranch/fastForward)
    // — the Iceberg-refs/WAP write path: a writable branch forks main
    // at v0 for O(manifest) metadata cost, takes a general MERGE and
    // a DV delete in ISOLATION (main stays byte-identical at the fork
    // until publish — BranchSpec pins that), passes the table's CHECK
    // constraints as the audit gate, and fast-forwards onto main as
    // ONE squash commit through the same CAS rename-publish every
    // writer uses (sidecar rehomed under main so merge-on-read
    // deletes survive the publish). The gated row is main's HEAD
    // after publish; the oracle replays merge-then-delete
    // arithmetically, so a clause leaking across the publish, a
    // resurrected DV-hidden row, or a branch commit bleeding into
    // main pre-publish all break the hash.
    Q("q_branch_merge",
      (s, d) => {
        val root = branchChain(s, d)
        graft.sources.ManifestPrune.readCommitted(s, root,
          graft.sources.ManifestPrune.currentVersion(s, root))
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("source", "lang")
      },
      Some("""WITH head AS (
             |  SELECT
             |    CASE WHEN doc_id % 11 = 5 THEN 'branch' ELSE source END
             |      AS source,
             |    CASE WHEN doc_id % 11 = 5 THEN 'bb' ELSE lang END
             |      AS lang, doc_id
             |  FROM documents WHERE doc_id % 23 <> 9
             |  UNION ALL
             |  SELECT source, lang, doc_id + 40000000
             |  FROM documents WHERE doc_id % 41 = 6)
             |SELECT source, lang, count(*) AS n_docs,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM head GROUP BY source, lang
             |ORDER BY source, lang""".stripMargin)),

    // RESTORE (ManifestPrune.restoreVersion) — rollback as an
    // auditable commit: a "bad" merge lands at v2, restore publishes
    // v1's manifest byte-copy as v3 through the normal CAS (history
    // intact — v2 stays readable until expiry), and the restored
    // head carries v1's deletion vectors via the verbatim sidecar
    // pointer (the shared-sidecar expiry interplay RestoreSpec
    // pins). The gated row is the head: a leaked "bad" update, a
    // resurrected DV-hidden row, or a restore that grabbed the wrong
    // version all break the hash.
    Q("q_restore",
      (s, d) => {
        val root = restoreChain(s, d)
        graft.sources.ManifestPrune.readCommitted(s, root,
          graft.sources.ManifestPrune.currentVersion(s, root))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM documents WHERE doc_id % 7 <> 2
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // BRANCH REBASE (ManifestPrune.rebaseBranch) — concurrent-writer
    // convergence at KEY grain: main diverges (DV delete of even
    // keys) while the branch holds a CoW merge of odd keys; the
    // rebase PROVES disjointness from the two change feeds (refusing
    // on overlap), then applies main's images onto the branch in
    // place — legal exactly because disjoint deltas commute — and
    // the fast-forward publishes BOTH sides' changes as main's next
    // version. The oracle composes delete-then-update arithmetic;
    // a lost delete, a lost update, or a double-applied image all
    // break the hash. BranchSpec pins the conflict refusal and the
    // crash-resume cursor.
    Q("q_branch_rebase",
      (s, d) => {
        val root = rebaseChain(s, d)
        graft.sources.ManifestPrune.readCommitted(s, root,
          graft.sources.ManifestPrune.currentVersion(s, root))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""WITH head AS (
             |  SELECT
             |    CASE WHEN doc_id % 2 = 1 AND doc_id % 5 = 2
             |      THEN 'rb' ELSE lang END AS lang, doc_id
             |  FROM documents
             |  WHERE NOT (doc_id % 2 = 0 AND doc_id % 13 = 4))
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM head GROUP BY lang
             |ORDER BY lang""".stripMargin)),

    // FEED-DRIVEN REPLICATION (ManifestPrune.replicateFeed) — the
    // feed as a replication transport: a replica chain starting from
    // the same base receives ONLY the source's change images (deletes
    // + pre-image keys as DV-delete commits, inserts + post-images as
    // insert-only CoW commits) and must converge to the source head,
    // hash-checked against the oracle's direct head replay. Per step
    // the wire and the replica write both cost O(changed rows) —
    // mirroring a 100 TB table never rescans it. ReplicationSpec pins
    // row-exact convergence and that the replica stays a first-class
    // chain (own compaction + vacuum).
    Q("q_replicate",
      (s, d) => {
        val root = replicaChain(s, d)
        graft.sources.ManifestPrune.readCommitted(s, root,
          graft.sources.ManifestPrune.currentVersion(s, root))
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("source", "lang")
      },
      Some("""WITH head AS (
             |  SELECT source,
             |    CASE WHEN doc_id % 11 = 0 THEN 'zz' ELSE lang END
             |      AS lang, doc_id
             |  FROM documents WHERE doc_id % 7 <> 3
             |  UNION ALL
             |  SELECT source, lang, doc_id + 20000000
             |  FROM documents WHERE doc_id % 13 = 1)
             |SELECT source, lang, count(*) AS n_docs,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM head GROUP BY source, lang
             |ORDER BY source, lang""".stripMargin)),

    // INCREMENTAL MV MAINTENANCE FROM THE CHANGE FEED — what the
    // two-image CDF convention buys: a per-lang (count, char-sum)
    // materialization at v0 is brought to the head state by APPLYING
    // THE FEED'S INCREMENTS (+1 for insert/update_postimage, −1 for
    // delete/update_preimage — updates MOVE mass between lang groups
    // because v1 rewrites lang), never rescanning the base. One
    // missing pre-image, one no-op update leaking through, or one
    // compaction row in the feed and the refreshed MV diverges from
    // the oracle's direct head-state replay. At 100 TB this is the
    // difference between an MV refresh costing O(changed rows) and
    // O(corpus).
    Q("q_mv_feed_refresh",
      (s, d) => {
        val root = changeFeedChain(s, d)
        val base = graft.sources.ManifestPrune.readCommitted(s, root, 0L)
          .groupBy("lang")
          .agg(count(lit(1)).as("n0"),
            sum(col("n_chars")).as("c0"))
        val sign = when(col("op").isin("insert", "update_postimage"),
          lit(1L)).otherwise(lit(-1L))
        val delta = feedTable(s, d)
          .groupBy("lang")
          .agg(sum(sign).as("dn"),
            sum(sign * col("n_chars")).as("dc"))
        base.join(delta, Seq("lang"), "full_outer")
          .select(col("lang"),
            (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .as("n_docs"),
            (coalesce(col("c0"), lit(0L)) + coalesce(col("dc"), lit(0L)))
              .as("sum_chars"))
          .filter(col("n_docs") > 0)
          .orderBy("lang")
      },
      Some("""WITH head AS (
             |  SELECT CASE WHEN doc_id % 11 = 0 THEN 'zz' ELSE lang END
             |    AS lang, n_chars
             |  FROM documents WHERE doc_id % 7 <> 3
             |  UNION ALL
             |  SELECT lang, n_chars FROM documents WHERE doc_id % 13 = 1)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM head GROUP BY lang ORDER BY lang""".stripMargin)),

    // THE SAME MV, MAINTAINED BY THE STREAM — q_mv_feed_refresh's
    // incremental arithmetic re-driven through the `graft-table` DSv2
    // source (spark.readStream, versions as offsets, seed snapshot +
    // per-micro-batch signed folds under the MV version pointer). The
    // oracle is the identical head-state aggregate, so the hash gate
    // proves the production deployment shape: initial snapshot, CDC
    // stream, replay-idempotent folds — never a base-table rescan.
    Q("q_mv_stream",
      (s, d) => {
        val root = changeFeedChain(s, d)
        val mvDir = Tables.matDir("mv_stream", s, d)
        if (graft.streaming.StreamingPipelines
            .latestMvVersion(mvDir).isEmpty) {
          graft.streaming.StreamingPipelines.seedLangMv(s, root, mvDir)
          val ck = Tables.matDir(s"mv_stream_ck_${System.nanoTime}", s, d)
          val q = graft.streaming.StreamingPipelines
            .maintainLangMvFromFeed(s, root, mvDir)
            .option("checkpointLocation", ck)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination(300000); q.stop()
        }
        graft.streaming.StreamingPipelines.currentMv(s, mvDir)
          .select(col("lang"), col("n_docs"),
            col("sum_chars").cast(LongType).as("sum_chars"))
          .orderBy("lang")
      },
      Some("""WITH head AS (
             |  SELECT CASE WHEN doc_id % 11 = 0 THEN 'zz' ELSE lang END
             |    AS lang, n_chars
             |  FROM documents WHERE doc_id % 7 <> 3
             |  UNION ALL
             |  SELECT lang, n_chars FROM documents WHERE doc_id % 13 = 1)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM head GROUP BY lang ORDER BY lang""".stripMargin)),

    // CATALOG-RESOLVED ROW STREAM (readStream.table("graft.db.t") —
    // GraftRowMicroBatchStream): Delta's table-stream semantics on
    // the chain — the first micro-batch is the MASKED snapshot at the
    // stream's start, every later batch is exactly the files ADDED by
    // append commits (O(new files) planning from the manifest diff,
    // never a table rescan). The query drives BOTH phases: stream the
    // v0 snapshot, append a commit, resume from the checkpoint (only
    // the appended rows flow), then aggregate everything the sink
    // received. The oracle replays base + append; a snapshot that
    // leaked masked rows, a resume that replayed the snapshot, or an
    // append batch that missed files all break the hash.
    // GraftCatalogStreamingSpec pins the stream-only contracts
    // (change-commit rejection, skipChangeCommits, startingVersion,
    // toTable exactly-once).
    Q("q_stream_table",
      (s, d) => {
        val out = streamTableSink(s, d)
        s.read.parquet(s"$out/rows")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
             |FROM (
             |  SELECT lang, n_chars FROM documents
             |  UNION ALL
             |  SELECT 'st' AS lang, n_chars FROM documents
             |  WHERE doc_id % 13 = 2
             |)
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // STREAMING GDPR ERASURE, END TO END (applyDeleteBatch →
    // compactCommit → expireVersions → readCommitted): the three
    // lakehouse operators the battery proves separately, composed
    // into the lifecycle a right-to-be-forgotten queue actually runs —
    // stream-batch deletes land as sidecar-only versions on the CAS
    // chain, compaction materializes the accumulated vectors into
    // clustered files, vacuum physically reclaims every
    // pre-compaction file (erased bytes GONE, not hidden), and the
    // surviving head must still read arithmetically exact. The hash
    // gate catches the composition failures the piecewise specs
    // can't: a vacuum eating a live file, a replay cursor misread
    // across the compaction commit, a DV lost between stream batches.
    // GdprPipelineSpec drives the same lifecycle through a real
    // MemoryStream + checkpoint and pins the file-level reclaim.
    Q("q_gdpr_erase",
      (s, d) => {
        val root = gdprChain(s, d)
        graft.sources.ManifestPrune.readCommitted(s, root,
          graft.sources.ManifestPrune.currentVersion(s, root))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            sum(col("doc_id")).as("id_sum"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM documents WHERE doc_id % 13 <> 2 AND doc_id % 17 <> 4
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // COLUMN BACKFILL over the evolved layout — the job the
    // q_schema_evolution monitor exists to track: generation-1 rows
    // (lang IS NULL under the merged read) get the language-ID
    // heuristic applied, generation-2 rows keep their native value.
    // The scale-critical shape: the raw text payloads are joined in
    // ONLY for the missing subset (at 100 TB the backfill reads the
    // null-row fraction of the corpus, never all of it), the filled
    // table is the union of untouched + predicted rows, and the
    // output is the per-(source, lang) census with id sums binding
    // the row sets. Oracle replays generation membership and the
    // heuristic arithmetically.
    Q("q_backfill",
      (s, d) => {
        val root = graft.sources.SchemaEvolution.ensureLayout(s, d)
        val m = graft.sources.SchemaEvolution.readMerged(s, root)
        val tok = tokens(col("text"))
        def hits(ws: Seq[String]) =
          size(filter(tok, t => t.isInCollection(ws))).cast(LongType)
        val preds = m.filter(col("lang").isNull).select("doc_id", "source")
          .join(Tables.load(s, d, "documents").select("doc_id", "text"),
            "doc_id")
          .withColumn("en_hits", hits(Seq("the", "a", "of", "and")))
          .withColumn("fr_hits", hits(Seq("le", "la", "et", "de")))
          .select(col("doc_id"), col("source"),
            when(col("en_hits") >= col("fr_hits") && col("en_hits") > 0,
              "en").when(col("fr_hits") > 0, "fr").otherwise("und")
              .as("lang"))
        m.filter(col("lang").isNotNull)
          .select("doc_id", "source", "lang")
          .unionByName(preds)
          .groupBy("source", "lang")
          .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
          .orderBy("source", "lang")
      },
      Some("""WITH pred AS (
             |  SELECT doc_id, source,
             |    CASE WHEN en_hits >= fr_hits AND en_hits > 0 THEN 'en'
             |         WHEN fr_hits > 0 THEN 'fr' ELSE 'und' END AS lang
             |  FROM (
             |    SELECT doc_id, source,
             |      CAST(len(list_filter(string_split(text, ' '),
             |        t -> t IN ('the', 'a', 'of', 'and'))) AS BIGINT)
             |        AS en_hits,
             |      CAST(len(list_filter(string_split(text, ' '),
             |        t -> t IN ('le', 'la', 'et', 'de'))) AS BIGINT)
             |        AS fr_hits
             |    FROM documents WHERE doc_id % 2 = 0) t),
             |filled AS (
             |  SELECT doc_id, source, lang FROM documents
             |  WHERE doc_id % 2 = 1
             |  UNION ALL SELECT doc_id, source, lang FROM pred)
             |SELECT source, lang, count(*) AS n_docs,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM filled GROUP BY source, lang
             |ORDER BY source, lang""".stripMargin)),

    // TABLE-VERSION DIFF — the audit/CDC read over the CoW manifest
    // versions: "what changed between v1 and v2" computed from the two
    // version readers alone (no change log needed — the swap-by-path
    // commit keeps v1 fully readable). Inserted = keys only in v2,
    // updated = keys in both with different payload, unchanged = the
    // rest; FULL OUTER join on the key, aggregated to per-kind counts
    // with id sums binding the row sets. At scale the join cost is
    // two version scans — and the untouched files are SHARED between
    // versions (same paths in both manifests), so a file-level
    // short-circuit can skip them entirely; the row-level form here
    // is the semantics contract. Oracle replays both versions
    // arithmetically from the base table.
    Q("q_version_diff",
      (s, d) => {
        val mf2 = cowMergedManifest(s, d)
        val root = graft.sources.ManifestPrune.ensureLayout(s, d)
        val v1 = graft.sources.ManifestPrune
          .readVersion(s, s"$root/manifest")
          .select(col("doc_id"), col("lang").as("lang1"))
        val v2 = graft.sources.ManifestPrune.readVersion(s, mf2)
          .select(col("doc_id"), col("lang").as("lang2"))
        v1.join(v2, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            when(col("lang1").isNull, "inserted")
              .when(col("lang1") =!= col("lang2"), "updated")
              .otherwise("unchanged").as("kind"))
          .groupBy("kind")
          .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("id_sum"))
          .orderBy("kind")
      },
      Some("""WITH v2 AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 23 = 0 THEN 'xx' ELSE lang END AS lang2
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000, 'new' FROM documents
             |  WHERE doc_id < 10),
             |d AS (
             |  SELECT v2.doc_id,
             |    CASE WHEN v1.doc_id IS NULL THEN 'inserted'
             |         WHEN v1.lang <> v2.lang2 THEN 'updated'
             |         ELSE 'unchanged' END AS kind
             |  FROM v2 LEFT JOIN documents v1 ON v1.doc_id = v2.doc_id)
             |SELECT kind, count(*) AS n_rows,
             |  CAST(sum(doc_id) AS BIGINT) AS id_sum
             |FROM d GROUP BY kind ORDER BY kind""".stripMargin)),

    // SCHEMA EVOLUTION read (sources/SchemaEvolution.scala): the
    // two-generation layout — gen=1 files written WITHOUT `lang`,
    // gen=2 files with it — reconciled in ONE merged-footer scan;
    // generation-1 rows surface lang IS NULL (the add-nullable-column
    // contract), so count(lang) vs count(*) is exactly the backfill
    // progress monitor. The oracle replays generation membership
    // (doc_id parity) arithmetically against the original table —
    // a hash match proves the merged read loses nothing and
    // null-fills precisely the legacy rows.
    Q("q_schema_evolution",
      (s, d) => {
        val root = graft.sources.SchemaEvolution.ensureLayout(s, d)
        graft.sources.SchemaEvolution.readMerged(s, root)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("sum_chars"),
            count(col("lang")).as("n_with_lang"))
          .orderBy("source")
      },
      Some("""SELECT source, count(*) AS n_docs,
             |CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |count(CASE WHEN doc_id % 2 = 1 THEN lang END) AS n_with_lang
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // MATERIALIZED-VIEW rewrite: the query is written against the
    // BASE lineitem table; MvRewriteRule (injected via
    // SparkSessionExtensions) redirects it to the registered pricing
    // summary — at a COARSER grouping than the MV's keys, so the
    // rewrite must re-aggregate partials (sum of partial sums, sum of
    // partial counts), not just relabel a scan. The DuckDB oracle runs
    // the original query against the base table, so the hash gate
    // proves the rewrite is answer-identical; PlanShapeSpec proves the
    // plan actually reads the MV parquet and not the fact table.
    // (sum(l_quantity) is exact in double: quantities are
    // integer-valued and far below 2^53, so partial-sum order cannot
    // change the result — the same reason the MV merge is exact.)
    Q("q_mv_rewrite",
      (s, d) => {
        graft.plans.MvSetup.ensurePricingMv(s, d)
        Tables.load(s, d, "lineitem")
          .groupBy("l_returnflag")
          .agg(sum(col("l_quantity")).as("sum_qty"),
            count(lit(1)).as("n_rows"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, sum(l_quantity) AS sum_qty,
             |count(*) AS n_rows FROM lineitem
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // INCREMENTAL MV refresh — the complement of q_mv_rewrite's
    // query-side redirect: the MAINTENANCE side. The historical
    // partial aggregate (l_shipdate < 1997-01-01, ~75% of the fact
    // table) is materialized ONCE as parquet holding MERGEABLE
    // partials (DECIMAL sums + counts — associative, so any partial
    // tree is bit-identical: the dsum discipline); each refresh then
    // aggregates only the DELTA (shipdate >= cutoff, reaching the
    // scan as a pushed filter — plan-gated) and merges partials.
    // The DuckDB oracle aggregates the WHOLE table from scratch, so
    // the hash gate proves merge(base, delta) ≡ full recompute — the
    // invariant that lets a 100 TB deployment never rescan history.
    Q("q_mv_refresh",
      (s, d) => {
        val cutoff = "1997-01-01"
        val baseDir = mvRefreshBase(s, d, cutoff)
        val delta = Tables.load(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit(cutoff).cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum(col("l_quantity").cast(DecimalType(18, 2)))
              .as("p_qty"),
            count(lit(1)).as("p_cnt"))
        s.read.parquet(baseDir).unionByName(delta)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum(col("p_qty")).cast(DoubleType).as("sum_qty"),
            sum(col("p_cnt")).as("count_order"))
          .withColumn("avg_qty",
            col("sum_qty") / col("count_order").cast(DoubleType))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |  AS sum_qty,
             |count(*) AS count_order,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |  / count(*) AS avg_qty
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // PK–FK join ELIMINATION (plans/JoinElimination.scala): the query
    // joins customer to nation but reads only customer columns plus
    // the join key itself, so under the declared RELY constraints
    // (n_nationkey unique; c_nationkey non-null, referentially intact
    // — both true in the TPC-H data by construction) the join is a
    // bijection on customer rows and the optimizer drops it. The
    // DuckDB oracle EXECUTES the join; the Spark plan never does
    // (PlanShapeSpec asserts no join operator) — the hash gate
    // therefore proves elimination is answer-identical, and would
    // catch a dishonest declaration the same way.
    Q("q_join_elim",
      (s, d) => {
        graft.plans.JoinEliminationRule.ensure(s)
        graft.plans.FkCatalog.declare(s, graft.plans.FkCatalog.FkDecl(
          s"$d/customer.parquet", "c_nationkey",
          s"$d/nation.parquet", "n_nationkey"))
        val c = Tables.load(s, d, "customer")
        val n = Tables.load(s, d, "nation")
        c.join(n, c("c_nationkey") === n("n_nationkey"))
          .select(c("c_custkey"), c("c_name"),
            n("n_nationkey").as("nk"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, n_nationkey AS nk
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |ORDER BY c_custkey""".stripMargin)),

    // SELF-join elimination on a declared PK (SelfJoinEliminationRule,
    // plans/JoinElimination.scala): the generated-SQL shape where two
    // column subsets of the SAME table — one filtered — are re-joined
    // on the key to assemble a wide row. Under the declared doc_id PK
    // the join is a bijection, so the rule merges both sides into ONE
    // scan with the filters ANDed: no join, no second corpus scan, no
    // key shuffle (plan-asserted in PlanShapeSpec; disqualifiers in
    // SelfJoinEliminationSpec). The oracle EXECUTES the real
    // self-join, so the hash match proves answer-identity.
    Q("q_selfjoin_elim",
      (s, d) => {
        graft.plans.SelfJoinEliminationRule.ensure(s)
        graft.plans.FkCatalog.declarePk(s, s"$d/documents.parquet", "doc_id")
        val l = Tables.load(s, d, "documents")
          .select("doc_id", "n_chars")
          .filter(col("n_chars") >= 50)
        val r = Tables.load(s, d, "documents")
          .select("doc_id", "lang", "source")
        l.join(r, l("doc_id") === r("doc_id"))
          .select(l("doc_id"), col("n_chars"), col("lang"), col("source"))
          .orderBy("doc_id")
      },
      Some("""SELECT a.doc_id, a.n_chars, b.lang, b.source
             |FROM documents a JOIN documents b ON a.doc_id = b.doc_id
             |WHERE a.n_chars >= 50
             |ORDER BY a.doc_id""".stripMargin)),

    // DISTINCT ELIMINATION on a declared primary key (the second RELY
    // payoff, plans/JoinElimination.scala): SELECT DISTINCT over a
    // column set containing the PK is a per-row identity, yet Spark
    // plans a full hash-aggregate over a corpus-wide shuffle for it;
    // the rule rewrites the Aggregate to a Project. The same query
    // also counts DISTINCT o_orderkey under its declared PK, which
    // drops the distinct flag (unique + non-null ⇒ plain count is
    // identical) and with it the doubled one-distinct aggregation
    // stages. The oracle executes the real DISTINCTs; PlanShapeSpec
    // asserts the plan carries no distinct aggregation at all.
    Q("q_distinct_elim",
      (s, d) => {
        graft.plans.DistinctEliminationRule.ensure(s)
        graft.plans.FkCatalog.declarePk(s, s"$d/orders.parquet",
          "o_orderkey")
        Tables.load(s, d, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus")
          .distinct()
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("o_orderkey")).as("n_keys"))
      },
      Some("""SELECT count(*) AS n_rows,
             |  count(DISTINCT o_orderkey) AS n_keys
             |FROM (SELECT DISTINCT o_orderkey, o_custkey, o_orderstatus
             |      FROM orders)""".stripMargin)),

    // semi join (EXISTS)
    Q("q_semi_join",
      (s, d) => {
        val c = Tables.load(s, d, "customer")
        val o = Tables.load(s, d, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select("c_custkey", "c_name").orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    // anti join (NOT EXISTS)
    Q("q_anti_join",
      (s, d) => {
        val c = Tables.load(s, d, "customer")
        val o = Tables.load(s, d, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_name").orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    // window: rank within group (top-3 per nation)
    Q("q_window_rank",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("c_nationkey")
          .orderBy(desc("c_acctbal"), asc("c_custkey"))
        Tables.load(s, d, "customer")
          .withColumn("rn", row_number().over(w).cast(LongType))
          .filter(col("rn") <= 3)
          .select("c_nationkey", "c_custkey", "c_acctbal", "rn")
          .orderBy("c_nationkey", "rn")
      },
      Some("""SELECT c_nationkey, c_custkey, c_acctbal, rn FROM (
             |  SELECT c_nationkey, c_custkey, c_acctbal,
             |    CAST(row_number() OVER (PARTITION BY c_nationkey
             |      ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rn
             |  FROM customer) t
             |WHERE rn <= 3 ORDER BY c_nationkey, rn""".stripMargin)),

    // window: DISTRIBUTION functions (percent_rank / cume_dist /
    // ntile) — the rank-normalization surface a curriculum or
    // quantile-bucketing pipeline leans on. percent_rank and cume_dist
    // are single IEEE divisions of small exact integers ((rank-1)/
    // (n-1), running/total), which both engines compute identically —
    // one division introduces no accumulation-order ambiguity, unlike
    // summed doubles. ntile's remainder-distribution rule (first
    // n mod k buckets get the extra row) is the same in Spark and
    // DuckDB; the ORDER BY carries a unique tiebreak so every rank is
    // deterministic. Windows stay partitioned by nationkey — no
    // single-partition corpus window.
    Q("q_window_distribution",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("c_nationkey")
          .orderBy(desc("c_acctbal"), asc("c_custkey"))
        Tables.load(s, d, "customer")
          .withColumn("pr", percent_rank().over(w))
          .withColumn("cd", cume_dist().over(w))
          .withColumn("tile", ntile(4).over(w).cast(LongType))
          .select("c_nationkey", "c_custkey", "c_acctbal",
            "pr", "cd", "tile")
          .orderBy("c_nationkey", "c_custkey")
      },
      Some("""SELECT c_nationkey, c_custkey, c_acctbal,
             |  percent_rank() OVER (PARTITION BY c_nationkey
             |    ORDER BY c_acctbal DESC, c_custkey) AS pr,
             |  cume_dist() OVER (PARTITION BY c_nationkey
             |    ORDER BY c_acctbal DESC, c_custkey) AS cd,
             |  CAST(ntile(4) OVER (PARTITION BY c_nationkey
             |    ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS tile
             |FROM customer
             |ORDER BY c_nationkey, c_custkey""".stripMargin)),

    // window: running sum (exact via decimal — order-independent within
    // the frame, so engine-internal accumulation order is irrelevant)
    Q("q_window_running",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("l_suppkey")
          .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.load(s, d, "lineitem")
          .filter(col("l_suppkey") <= 3)
          .withColumn("run_qty",
            sum(col("l_quantity").cast(DecimalType(18, 2))).over(w)
              .cast(DoubleType))
          .select("l_suppkey", "l_orderkey", "l_linenumber", "run_qty")
          .orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
             |  PARTITION BY l_suppkey
             |  ORDER BY l_shipdate, l_orderkey, l_linenumber
             |  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_qty
             |FROM lineitem WHERE l_suppkey <= 3
             |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin)),

    // the rest of the window-function surface in one gated query:
    // lag/lead (frame-relative offsets), ntile (equal-count staging —
    // the curriculum-bucketing primitive), percent_rank and cume_dist
    // (rank-normalized scores: exact integer rank/count ratios, one
    // IEEE division each, so both engines agree bitwise), first value
    // over the full frame. The order key is fully tie-broken
    // (acctbal, custkey), which is what makes every one of these
    // deterministic under any partitioning.
    Q("q_window_misc",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("c_nationkey")
          .orderBy("c_acctbal", "c_custkey")
        val wf = w.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        Tables.load(s, d, "customer")
          .filter(col("c_nationkey") <= 5)
          .withColumn("prev_bal", lag(col("c_acctbal"), 1).over(w))
          .withColumn("next_bal", lead(col("c_acctbal"), 1).over(w))
          .withColumn("quart", ntile(4).over(w).cast(LongType))
          .withColumn("pr", percent_rank().over(w))
          .withColumn("cd", cume_dist().over(w))
          .withColumn("first_bal", first(col("c_acctbal")).over(wf))
          .select("c_nationkey", "c_custkey", "c_acctbal", "prev_bal",
            "next_bal", "quart", "pr", "cd", "first_bal")
          .orderBy("c_nationkey", "c_acctbal", "c_custkey")
      },
      Some("""SELECT c_nationkey, c_custkey, c_acctbal,
             |  lag(c_acctbal, 1) OVER w AS prev_bal,
             |  lead(c_acctbal, 1) OVER w AS next_bal,
             |  CAST(ntile(4) OVER w AS BIGINT) AS quart,
             |  percent_rank() OVER w AS pr,
             |  cume_dist() OVER w AS cd,
             |  first_value(c_acctbal) OVER (PARTITION BY c_nationkey
             |    ORDER BY c_acctbal, c_custkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             |    AS first_bal
             |FROM customer WHERE c_nationkey <= 5
             |WINDOW w AS (PARTITION BY c_nationkey
             |  ORDER BY c_acctbal, c_custkey)
             |ORDER BY c_nationkey, c_acctbal, c_custkey""".stripMargin)),

    // array/HOF surface over the token arrays: sort + bounded slice,
    // distinct cardinality, positional extract, membership, and a
    // per-element transform + max — each mirrored by the matching
    // DuckDB list function. Serialized heads go through array_join so
    // the gate hashes a stable string, and everything stays a map-only
    // projection (these run inside the scan's codegen stage).
    Q("q_array_funcs",
      (s, d) => Tables.load(s, d, "documents")
        .withColumn("tk", split(col("text"), " ", -1))
        .select(col("doc_id"),
          array_join(slice(array_sort(col("tk")), 1, 5), " ").as("head5"),
          size(array_distinct(col("tk"))).cast(LongType).as("n_uniq"),
          element_at(col("tk"), -1).as("last_tok"),
          array_contains(col("tk"), "the").as("has_the"),
          array_max(transform(col("tk"), x => length(x)))
            .cast(LongType).as("max_len"))
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
             |           FROM documents)
             |SELECT doc_id,
             |  array_to_string(list_slice(list_sort(tk), 1, 5), ' ') AS head5,
             |  CAST(len(list_distinct(tk)) AS BIGINT) AS n_uniq,
             |  list_extract(tk, len(tk)) AS last_tok,
             |  list_contains(tk, 'the') AS has_the,
             |  CAST(list_max(list_transform(tk, x -> len(x))) AS BIGINT)
             |    AS max_len
             |FROM t ORDER BY doc_id""".stripMargin)),

    // rollup (subtotal grouping sets); rollup-nulls folded to 'ALL' so
    // cross-engine null-ordering differences can't bite
    Q("q_rollup",
      (s, d) => Tables.load(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
                coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
                col("cnt"))
        .orderBy("rf", "ls"),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf,
             |coalesce(l_linestatus, 'ALL') AS ls, count(*) AS cnt
             |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
             |ORDER BY rf, ls""".stripMargin)),

    // set operations: INTERSECT / EXCEPT / UNION ALL in one result
    Q("q_set_ops",
      (s, d) => {
        val c = Tables.load(s, d, "customer")
          .select(col("c_nationkey").as("k")).distinct()
        val sup = Tables.load(s, d, "supplier")
          .select(col("s_nationkey").as("k")).distinct()
        c.intersect(sup).withColumn("tag", lit("both"))
          .unionByName(c.except(sup).withColumn("tag", lit("cust_only")))
          .select("tag", "k").orderBy("tag", "k")
      },
      Some("""SELECT 'both' AS tag, k FROM (
             |  SELECT DISTINCT c_nationkey AS k FROM customer
             |  INTERSECT SELECT DISTINCT s_nationkey FROM supplier) t1
             |UNION ALL
             |SELECT 'cust_only' AS tag, k FROM (
             |  SELECT DISTINCT c_nationkey AS k FROM customer
             |  EXCEPT SELECT DISTINCT s_nationkey FROM supplier) t2
             |ORDER BY tag, k""".stripMargin)),

    // outer join with null-group aggregation (count(col) skips nulls,
    // sum coalesced to 0 for order-less customers)
    Q("q_outer_join",
      (s, d) => {
        val c = Tables.load(s, d, "customer")
        val o = Tables.load(s, d, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("n_orders"),
               coalesce(sum(col("o_totalprice").cast(DecimalType(18, 2))),
                 lit(0).cast(DecimalType(18, 2))).cast(DoubleType).as("total"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, count(o_orderkey) AS n_orders,
             |CAST(coalesce(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),

    // CUBE grouping sets (all four subtotal combinations)
    Q("q_cube",
      (s, d) => Tables.load(s, d, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
                coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
                col("cnt"))
        .orderBy("rf", "ls"),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS rf,
             |coalesce(l_linestatus, 'ALL') AS ls, count(*) AS cnt
             |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
             |ORDER BY rf, ls""".stripMargin)),

    // arbitrary GROUPING SETS — not a rollup prefix chain and not the
    // full cube: {(source, lang), (lang), ()}. Plans as ONE Expand +
    // hash aggregate (rows x 3 before the partial agg), not three
    // scans unioned.
    Q("q_grouping_sets",
      (s, d) => Tables.load(s, d, "documents")
        .groupingSets(
          Seq(Seq(col("source"), col("lang")), Seq(col("lang")), Seq.empty),
          col("source"), col("lang"))
        .agg(count(lit(1)).as("cnt"), sum(col("n_chars")).as("chars"))
        .select(coalesce(col("source"), lit("ALL")).as("src"),
                coalesce(col("lang"), lit("ALL")).as("lg"),
                col("cnt"), col("chars"))
        .orderBy("src", "lg"),
      Some("""SELECT coalesce(source, 'ALL') AS src,
             |coalesce(lang, 'ALL') AS lg, count(*) AS cnt,
             |CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM documents
             |GROUP BY GROUPING SETS ((source, lang), (lang), ())
             |ORDER BY src, lg""".stripMargin)),

    // JSON extraction from a string column (events.props = {"k": N})
    Q("q_json_extract",
      (s, d) => Tables.load(s, d, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .groupBy("k").agg(count(lit(1)).as("cnt"))
        .orderBy("k"),
      Some("""SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             |count(*) AS cnt FROM events GROUP BY 1 ORDER BY k""".stripMargin)),

    // SEMI-STRUCTURED VARIANT ingestion (Spark 4's VARIANT type) —
    // the open-schema path for logs/telemetry: build a nested JSON
    // document (object + array), parse it ONCE into the binary
    // variant encoding, then pull typed values out by path
    // (variant_get with object fields and array indexing). Against
    // string-based get_json_object (q_json_extract), the variant is
    // parsed a single time however many paths are read, and the
    // binary encoding skips to fields without re-scanning text — the
    // 100 TB posture for wide telemetry rows. All extracted values
    // are strings/longs, so the aggregate hash-gates against DuckDB's
    // JSON path functions over the same reconstructed document.
    Q("q_variant",
      // spread: per-row JSON parse + variant_get ran single-task on
      // the one-row-group events scan (1.05 s of the 1.5 s wall)
      (s, d) => Tables.spread(Tables.load(s, d, "events"))
        .withColumn("doc", concat(
          lit("{\"meta\":{\"type\":\""), col("event_type"),
          lit("\",\"k\":"), get_json_object(col("props"), "$.k"),
          lit("},\"ids\":["), col("event_id"), lit(","), col("user_id"),
          lit("]}")))
        .withColumn("v", parse_json(col("doc")))
        .select(
          variant_get(col("v"), "$.meta.type", "string").as("etype"),
          variant_get(col("v"), "$.meta.k", "long").as("k"),
          variant_get(col("v"), "$.ids[1]", "long").as("uid"))
        .groupBy("etype")
        .agg(count(lit(1)).as("cnt"),
          sum(col("k")).as("k_sum"),
          countDistinct(col("uid")).as("n_users"))
        .orderBy("etype"),
      Some("""WITH j AS (
             |  SELECT '{"meta":{"type":"' || event_type || '","k":'
             |    || json_extract_string(props, '$.k')
             |    || '},"ids":[' || event_id || ',' || user_id || ']}'
             |    AS doc
             |  FROM events),
             |x AS (
             |  SELECT json_extract_string(doc, '$.meta.type') AS etype,
             |    CAST(json_extract(doc, '$.meta.k') AS BIGINT) AS k,
             |    CAST(json_extract(doc, '$.ids[1]') AS BIGINT) AS uid
             |  FROM j)
             |SELECT etype, count(*) AS cnt,
             |  CAST(sum(k) AS BIGINT) AS k_sum,
             |  count(DISTINCT uid) AS n_users
             |FROM x GROUP BY etype ORDER BY etype""".stripMargin)),

    // date/time functions over timestamp columns
    Q("q_date_parts",
      (s, d) => Tables.load(s, d, "orders")
        .groupBy(year(col("o_orderdate")).cast(LongType).as("y"),
                 month(col("o_orderdate")).cast(LongType).as("m"))
        .agg(count(lit(1)).as("cnt"),
             dsum(col("o_totalprice")).as("total"))
        .orderBy("y", "m"),
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
             |CAST(month(o_orderdate) AS BIGINT) AS m, count(*) AS cnt,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY 1, 2 ORDER BY y, m""".stripMargin)),

    // scalar math + CASE bank (sqrt/floor are IEEE-exact cross-engine;
    // additions go through decimal)
    Q("q_case_math",
      (s, d) => Tables.load(s, d, "lineitem")
        .filter(col("l_orderkey") <= 500)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          when(col("l_discount") >= 0.06, "HI")
            .when(col("l_discount") >= 0.03, "MID")
            .otherwise("LO").as("band"),
          (col("l_tax").cast(DecimalType(9, 2)) +
           col("l_discount").cast(DecimalType(9, 2)))
            .cast(DoubleType).as("t_plus_d"),
          sqrt(col("l_quantity")).as("sq"),
          floor(col("l_extendedprice")).cast(LongType).as("fl"),
          abs(col("l_quantity") - 25).as("dev"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |CASE WHEN l_discount >= 0.06 THEN 'HI'
             |     WHEN l_discount >= 0.03 THEN 'MID' ELSE 'LO' END AS band,
             |CAST(CAST(l_tax AS DECIMAL(9,2)) + CAST(l_discount AS DECIMAL(9,2)) AS DOUBLE) AS t_plus_d,
             |sqrt(l_quantity) AS sq,
             |CAST(floor(l_extendedprice) AS BIGINT) AS fl,
             |abs(l_quantity - 25) AS dev
             |FROM lineitem WHERE l_orderkey <= 500
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // pivot (wide aggregation); the oracle expresses the identical
    // semantics as conditional counts — coalesced because Spark's pivot
    // yields null for absent combinations while count() yields 0
    Q("q_pivot",
      (s, d) => Tables.load(s, d, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .count()
        .select(col("l_linestatus"),
          coalesce(col("A"), lit(0L)).as("A"),
          coalesce(col("N"), lit(0L)).as("N"),
          coalesce(col("R"), lit(0L)).as("R"))
        .orderBy("l_linestatus"),
      Some("""SELECT l_linestatus,
             |count(CASE WHEN l_returnflag = 'A' THEN 1 END) AS A,
             |count(CASE WHEN l_returnflag = 'N' THEN 1 END) AS N,
             |count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS R
             |FROM lineitem GROUP BY l_linestatus
             |ORDER BY l_linestatus""".stripMargin)),

    // pivot's inverse — UNPIVOT/melt wide metric columns into long
    // (key, metric, val) form, the normalization step feeding any
    // per-metric aggregation or plotting pipeline. Spark's native
    // melt operator (Dataset.unpivot, an Expand under the hood) emits
    // the 3 rows per input row MAP-SIDE with zero shuffle — the
    // orderBy is the only exchange in the plan. Values are read
    // untouched (no arithmetic), so doubles hash bit-exact against
    // the oracle's stacked UNION ALL.
    Q("q_unpivot",
      // spread: the 3x unpivot fan-out + sort sampling ran in the
      // ~1-task scan stage (0.9 s of the 1.9 s wall)
      (s, d) => Tables.spread(Tables.load(s, d, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount",
            "l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "metric", "val")
        .orderBy("l_orderkey", "l_linenumber", "metric"),
      Some("""SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
             |  l_quantity AS val FROM lineitem
             |UNION ALL
             |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
             |FROM lineitem
             |UNION ALL
             |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
             |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin)),

    // string function bank (lpad/rpad/reverse/repeat/translate/replace)
    Q("q_string_funcs",
      (s, d) => Tables.load(s, d, "region")
        .select(col("r_regionkey"),
          lpad(col("r_name"), 12, ".").as("padded"),
          reverse(col("r_name")).as("rev"),
          translate(col("r_name"), "AEIOU", "aeiou").as("lowvowel"),
          regexp_replace(col("r_name"), "A", "@").as("subst"),
          concat_ws("-", col("r_name"), col("r_name")).as("doubled"),
          substring(col("r_name"), 2, 3).as("mid"))
        .orderBy("r_regionkey"),
      Some("""SELECT r_regionkey, lpad(r_name, 12, '.') AS padded,
             |reverse(r_name) AS rev,
             |translate(r_name, 'AEIOU', 'aeiou') AS lowvowel,
             |regexp_replace(r_name, 'A', '@', 'g') AS subst,
             |r_name || '-' || r_name AS doubled,
             |substr(r_name, 2, 3) AS mid
             |FROM region ORDER BY r_regionkey""".stripMargin)),

    // null semantics: coalesce / nullif / null-safe equality over the
    // outer-join null-producing shape
    Q("q_null_handling",
      (s, d) => {
        val c = Tables.load(s, d, "customer")
        val o = Tables.load(s, d, "orders")
          .groupBy("o_custkey").agg(count(lit(1)).as("n"))
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .select(col("c_custkey"),
            coalesce(col("n"), lit(0L)).as("n_orders"),
            nullif(col("c_mktsegment"), lit("BUILDING")).as("seg_or_null"),
            col("n").isNull.cast(LongType).as("is_orderless"),
            (col("n") <=> lit(null)).cast(LongType).as("nullsafe_eq_null"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, coalesce(n, 0) AS n_orders,
             |nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
             |CAST(n IS NULL AS BIGINT) AS is_orderless,
             |CAST(n IS NOT DISTINCT FROM NULL AS BIGINT) AS nullsafe_eq_null
             |FROM customer LEFT JOIN (
             |  SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey) o
             |ON c_custkey = o_custkey ORDER BY c_custkey""".stripMargin)),

    // fixed-width histogram via integer bucketing (floor of a decimal
    // quotient — engine-exact, unlike float width_bucket variants)
    Q("q_histogram",
      (s, d) => Tables.load(s, d, "lineitem")
        // floor, not a bare cast: Spark's decimal->long cast truncates
        // while DuckDB's rounds — floor agrees everywhere
        .select(floor(col("l_extendedprice").cast(DecimalType(18, 2)) /
                 lit(5000)).cast(LongType).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
        .orderBy("bucket"),
      Some("""SELECT CAST(floor(CAST(l_extendedprice AS DECIMAL(18,2)) / 5000) AS BIGINT) AS bucket,
             |count(*) AS cnt FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // tumbling time window over the event stream table (batch analog of
    // the Structured Streaming windowed agg; epoch seconds keep the
    // timestamp comparison engine-neutral)
    Q("q_events_tumbling",
      (s, d) => Tables.load(s, d, "events")
        .groupBy(
          unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
             dsum(col("value")).as("sum_value"))
        .orderBy("hour_epoch", "event_type"),
      Some("""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
             |event_type, count(*) AS n,
             |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY hour_epoch, event_type""".stripMargin)),

    // HOPPING (sliding) windows — the overlapping-window surface the
    // tumbling query doesn't cover: 1-hour windows sliding every 30
    // minutes through Spark's real window() function, so each event
    // lands in exactly two windows (the Expand the planner generates
    // is the bounded 2x fan-out, the streaming-compatible shape). The
    // oracle derives the same two slide-aligned starts per event
    // arithmetically: floor(epoch/1800)*1800 and its predecessor.
    Q("q_events_hopping",
      (s, d) => Tables.load(s, d, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("win_start", "event_type"),
      Some("""WITH w AS (
             |  SELECT CAST(floor(epoch(ts) / 1800) * 1800 - o.o AS BIGINT)
             |    AS win_start, event_type, value
             |  FROM events, (VALUES (0), (1800)) o(o))
             |SELECT win_start, event_type, count(*) AS n,
             |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
             |FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin)),

    // gap-based sessionization (30-min inactivity), batch analog of the
    // streaming mapGroupsWithState sessionizer
    Q("q_events_sessionize",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.load(s, d, "events")
          .withColumn("prev", lag(col("ts"), 1).over(w))
          .withColumn("is_new",
            when(col("prev").isNull ||
                 unix_timestamp(col("ts")) - unix_timestamp(col("prev")) > 1800,
                 1L).otherwise(0L))
          .groupBy("user_id")
          .agg(sum(col("is_new")).as("n_sessions"),
               count(lit(1)).as("n_events"))
          .orderBy("user_id")
      },
      Some("""WITH x AS (
             |  SELECT user_id, ts, event_id,
             |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
             |  FROM events)
             |SELECT user_id,
             |  CAST(SUM(CASE WHEN prev IS NULL
             |    OR date_diff('second', prev, ts) > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
             |  count(*) AS n_events
             |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // NATIVE SESSION WINDOWS — the q_events_sessionize gap cut again,
    // but through Spark's session_window AGGREGATION (the
    // UpdatingSessions/MergingSessions exec pair) instead of a
    // hand-built lag+running-sum island id, and emitting the actual
    // session BOUNDARIES, not just counts: (user, [start, max+gap),
    // n_events). This is the operator the streaming sessionization
    // shares its semantics with — covering it in batch pins those
    // semantics under the oracle, incl. the boundary rule (a gap of
    // EXACTLY 30 min still MERGES — the next event lands on the open
    // window's inclusive end; only a strictly larger gap splits —
    // verified against the exec on boundary data in the streaming
    // spec). One shuffle on user_id, sessions
    // merge map-side. The oracle replays it as gaps-and-islands over
    // integer microseconds.
    Q("q_session_window",
      (s, d) => Tables.load(s, d, "events")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("w.start")).as("start_us"),
          unix_micros(col("w.end")).as("end_us"),
          col("n_events"))
        .orderBy("user_id", "start_us"),
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |  FROM events),
             |l AS (
             |  SELECT user_id, us,
             |    CASE WHEN lag(us) OVER w IS NULL
             |      OR us - lag(us) OVER w > 1800000000
             |    THEN 1 ELSE 0 END AS brk
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
             |g AS (
             |  SELECT user_id, us,
             |    sum(brk) OVER (PARTITION BY user_id ORDER BY us
             |      ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM l)
             |SELECT user_id, min(us) AS start_us,
             |  max(us) + 1800000000 AS end_us, count(*) AS n_events
             |FROM g GROUP BY user_id, sid
             |ORDER BY user_id, start_us""".stripMargin)),

    // Z-SCORE ANOMALY FLAGGING over event values — the monitoring
    // query every ingest pipeline runs, made hash-gateable by
    // eliminating BOTH division and sqrt: |v - mean| > 2*std is
    // cross-multiplied into (n*v - S)^2 > 4*(n*S2 - S^2) over
    // cent-scaled integer values (v100 = round(100*value)), so every
    // step is exact 64-bit arithmetic and the flag decision is
    // bit-identical across engines (magnitudes peak ~1.6e15, far
    // under 2^63). Two passes: per-type moments (one partial agg),
    // then a map-side flag against the broadcast moments — no second
    // shuffle of the events.
    Q("q_event_anomaly",
      (s, d) => {
        val e = Tables.load(s, d, "events")
          .select(col("event_type"),
            round(col("value") * 100).cast(LongType).as("v100"))
        val m = e.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("v100")).as("s1"),
            sum(col("v100") * col("v100")).as("s2"))
        e.join(broadcast(m), "event_type")
          .withColumn("dev", col("n") * col("v100") - col("s1"))
          .withColumn("is_anom",
            (col("dev") * col("dev") >
              lit(4L) * (col("n") * col("s2") - col("s1") * col("s1")))
              .cast("int").cast(LongType))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(col("is_anom")).as("n_anomalies"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (
             |  SELECT event_type,
             |    CAST(round(value * 100) AS BIGINT) AS v100 FROM events),
             |m AS (
             |  SELECT event_type, count(*) AS n,
             |    CAST(sum(v100) AS BIGINT) AS s1,
             |    CAST(sum(v100 * v100) AS BIGINT) AS s2
             |  FROM e GROUP BY event_type)
             |SELECT e.event_type, count(*) AS n_events,
             |  CAST(sum(CASE WHEN (m.n * e.v100 - m.s1) * (m.n * e.v100 - m.s1)
             |    > 4 * (m.n * m.s2 - m.s1 * m.s1) THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_anomalies
             |FROM e JOIN m ON e.event_type = m.event_type
             |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)),

    // ORDERED-STEP FUNNEL over the event stream: how far does each
    // user get through view -> click -> purchase, where each step must
    // strictly FOLLOW the previous one in event time (earliest-
    // completion semantics: step k's timestamp is the first qualifying
    // event after step k-1). The step dependency is join-carried — a
    // filtered partial aggregate per step, each joined to the previous
    // step's per-user time — so nothing ever windows over a user's
    // whole history, and every shuffle is on uniform user ids. The
    // classic window formulation (collect the full ordered event array
    // per user) is what this plan deliberately avoids at 100 TB.
    Q("q_event_funnel",
      (s, d) => {
        val e = Tables.load(s, d, "events")
          .select(col("user_id"), col("event_type"),
            unix_millis(col("ts")).as("tms"))
        val t1 = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("tms")).as("t_view"))
        val t2 = e.filter(col("event_type") === "click").join(t1, "user_id")
          .filter(col("tms") > col("t_view"))
          .groupBy("user_id").agg(min(col("tms")).as("t_click"))
        val t3 = e.filter(col("event_type") === "purchase").join(t2, "user_id")
          .filter(col("tms") > col("t_click"))
          .groupBy("user_id").agg(min(col("tms")).as("t_purchase"))
        e.select("user_id").distinct()
          .join(t1, Seq("user_id"), "left")
          .join(t2, Seq("user_id"), "left")
          .join(t3, Seq("user_id"), "left")
          .withColumn("depth",
            when(col("t_purchase").isNotNull, 3L)
              .when(col("t_click").isNotNull, 2L)
              .when(col("t_view").isNotNull, 1L)
              .otherwise(0L))
          .select("user_id", "depth", "t_view", "t_click", "t_purchase")
          .orderBy("user_id")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_type, epoch_ms(ts) AS tms FROM events),
             |t1 AS (SELECT user_id, min(tms) AS t_view FROM e
             |       WHERE event_type = 'view' GROUP BY user_id),
             |t2 AS (SELECT e.user_id, min(tms) AS t_click
             |       FROM e JOIN t1 USING (user_id)
             |       WHERE event_type = 'click' AND tms > t_view
             |       GROUP BY e.user_id),
             |t3 AS (SELECT e.user_id, min(tms) AS t_purchase
             |       FROM e JOIN t2 USING (user_id)
             |       WHERE event_type = 'purchase' AND tms > t_click
             |       GROUP BY e.user_id),
             |u AS (SELECT DISTINCT user_id FROM e)
             |SELECT u.user_id,
             |  CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
             |       WHEN t_click IS NOT NULL THEN 2
             |       WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             |    AS depth,
             |  t_view, t_click, t_purchase
             |FROM u LEFT JOIN t1 USING (user_id) LEFT JOIN t2 USING (user_id)
             |  LEFT JOIN t3 USING (user_id)
             |ORDER BY user_id""".stripMargin)),

    // per-group MODE with deterministic tie-break — each user's most
    // frequent event type (ties to the lexicographically first type):
    // the arg-max shape, run through the bounded-heap
    // `TopKPerGroupExec` with k=1 — a 1-element heap per user instead
    // of sorting each user's full type histogram; the same plan
    // carries any per-key arg-max at 100 TB (plan-asserted).
    Q("q_group_mode",
      (s, d) => {
        val counts = Tables.load(s, d, "events")
          .groupBy("user_id", "event_type")
          .agg(count(lit(1)).as("cnt"))
        graft.plans.TopKPerGroup.topKPerGroup(counts,
          Seq(col("user_id")), Seq(desc("cnt"), asc("event_type")), 1)
          .select(col("user_id"), col("event_type").as("mode_type"),
            col("cnt"))
          .orderBy("user_id")
      },
      Some("""WITH c AS (
             |  SELECT user_id, event_type, count(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |r AS (
             |  SELECT user_id, event_type, cnt,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY cnt DESC, event_type) AS rn
             |  FROM c)
             |SELECT user_id, event_type AS mode_type, cnt FROM r
             |WHERE rn <= 1 ORDER BY user_id""".stripMargin)),

    // two-sample KOLMOGOROV–SMIRNOV drift statistic, exactly — the
    // distribution-shift monitor (does `en` document length differ
    // from `de`?) computed with NO floats: D = max_v |F1(v) - F2(v)|
    // is held as the integer numerator |c1·n2 - c2·n1| over the
    // common denominator n1·n2, so the maximum, its location, and the
    // basis-point report are all exact integer arithmetic — a float
    // ECDF difference near the max would make the argmax engine-
    // dependent. Shape: one per-(value, group) count over the corpus,
    // then cumulative sums over the VALUE DOMAIN (distinct n_chars —
    // hundreds of rows, the skyline-staircase scale, not corpus
    // rows); the two sample sizes ride in as a broadcast singleton.
    Q("q_ks_drift",
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
          .filter(col("lang").isin("en", "de"))
        val counts = docs.groupBy("n_chars").agg(
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ca"),
          sum(when(col("lang") === "de", 1L).otherwise(0L)).as("cb"))
        val sizes = docs.agg(
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n1"),
          sum(when(col("lang") === "de", 1L).otherwise(0L)).as("n2"))
        import org.apache.spark.sql.expressions.Window
        val w = Window.orderBy("n_chars")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        counts
          .withColumn("cca", sum("ca").over(w))
          .withColumn("ccb", sum("cb").over(w))
          .crossJoin(broadcast(sizes))
          .withColumn("d_num", abs(col("cca") * col("n2") -
            col("ccb") * col("n1")))
          .orderBy(desc("d_num"), asc("n_chars"))
          .limit(1)
          .select(col("n_chars").as("at_value"),
            col("d_num").as("ks_num"), col("n1"), col("n2"),
            expr("(10000 * d_num) div (n1 * n2)").as("ks_bp"))
      },
      Some("""WITH d AS (
             |  SELECT n_chars, lang FROM documents
             |  WHERE lang IN ('en', 'de')),
             |c AS (
             |  SELECT n_chars,
             |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ca,
             |    sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS cb
             |  FROM d GROUP BY 1),
             |s AS (
             |  SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n1,
             |    sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS n2
             |  FROM d),
             |k AS (
             |  SELECT n_chars,
             |    sum(ca) OVER (ORDER BY n_chars
             |      ROWS UNBOUNDED PRECEDING) AS cca,
             |    sum(cb) OVER (ORDER BY n_chars
             |      ROWS UNBOUNDED PRECEDING) AS ccb
             |  FROM c)
             |SELECT n_chars AS at_value,
             |  CAST(abs(cca * n2 - ccb * n1) AS BIGINT) AS ks_num,
             |  CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
             |  CAST((10000 * abs(cca * n2 - ccb * n1)) // (n1 * n2)
             |    AS BIGINT) AS ks_bp
             |FROM k, s
             |ORDER BY ks_num DESC, n_chars LIMIT 1""".stripMargin)),

    // HIERARCHY TRAVERSAL by POINTER DOUBLING — the recursive-CTE
    // workload (org rollups, BOM explosion, thread ancestry) Spark has
    // no native recursion for, done the scale-correct way: each node
    // carries (ancestor, steps); one round rewrites ancestor :=
    // ancestor(ancestor), steps := steps + steps(ancestor), so the
    // reach DOUBLES per round — depth-D trees converge in ceil(log2 D)
    // rounds (6 fixed rounds cover depth 64, enough for any id-keyed
    // hierarchy) where naive parent-at-a-time propagation needs D
    // rounds of the same join. Each round is one equi-join on uniform
    // node ids + a lineage cut (the CC/PageRank iterative shape); the
    // root contributes 0 steps so converged nodes are fixpoints and
    // extra rounds are no-ops, making the fixed round count exact,
    // not approximate. Tree: parent(v) = (v-1) div 2 over doc_id (a
    // binary heap — deterministic, depth ~ log2 N). The oracle is a
    // genuine WITH RECURSIVE — the hash gate proves the log-round
    // batch iteration reproduces true recursion exactly.
    Q("q_tree_depth",
      (s, d) => {
        val state0 = Tables.load(s, d, "documents").select(
          col("doc_id").as("id"),
          when(col("doc_id") === 0, col("doc_id"))
            .otherwise(expr("(doc_id - 1) div 2")).as("anc"),
          when(col("doc_id") === 0, lit(0L)).otherwise(lit(1L))
            .as("steps"))
        PointerDoubling.resolve(state0, rounds = 6)
          .select(col("id").as("doc_id"), col("steps").as("depth"))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE a AS (
             |  SELECT doc_id, CAST(0 AS BIGINT) AS depth
             |  FROM documents WHERE doc_id = 0
             |  UNION ALL
             |  SELECT d.doc_id, a.depth + 1
             |  FROM documents d JOIN a ON (d.doc_id - 1) // 2 = a.doc_id
             |  WHERE d.doc_id > 0)
             |SELECT doc_id, depth FROM a ORDER BY doc_id""".stripMargin)),

    // time-series GAP FILL — regularize an irregular event stream to
    // a dense per-(user, day) grid, zero-filling the silent days: the
    // step every downstream rolling-window / trend / retention
    // computation silently assumes and the step ETL most often gets
    // wrong (a missing day is NOT a zero row unless someone makes it
    // one). Shape: per-user daily counts (one shuffle on uniform
    // (user, day) keys), per-user [min, max] span (tiny agg), then
    // `sequence(d0, d1)` + explode generates each user's dense day
    // axis with fan-out bounded by the span — a generator, not a
    // join against a global calendar table — and a left join pins
    // counts onto it. All exact integers and dates.
    Q("q_gap_fill",
      (s, d) => {
        val e = Tables.load(s, d, "events")
          .select(col("user_id"), to_date(col("ts")).as("day"))
        val counts = e.groupBy("user_id", "day")
          .agg(count(lit(1)).as("n_events"))
        val days = e.groupBy("user_id")
          .agg(min("day").as("d0"), max("day").as("d1"))
          .select(col("user_id"),
            explode(sequence(col("d0"), col("d1"))).as("day"))
        days.join(counts, Seq("user_id", "day"), "left")
          .select(col("user_id"), col("day"),
            coalesce(col("n_events"), lit(0L)).as("n_events"))
          .orderBy("user_id", "day")
      },
      Some("""WITH e AS (
             |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
             |c AS (SELECT user_id, day, count(*) AS n_events
             |      FROM e GROUP BY 1, 2),
             |s AS (SELECT user_id, min(day) AS d0, max(day) AS d1
             |      FROM e GROUP BY 1),
             |g AS (SELECT user_id,
             |        CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
             |             AS DATE) AS day
             |      FROM s)
             |SELECT g.user_id, g.day, COALESCE(c.n_events, 0) AS n_events
             |FROM g LEFT JOIN c ON g.user_id = c.user_id AND g.day = c.day
             |ORDER BY g.user_id, g.day""".stripMargin)),

    // frequent ITEM-PAIR mining (a-priori level 2, market-basket): a
    // basket is one (user, day); find event-type pairs co-occurring in
    // >= 10% of baskets (RELATIVE support — the real a-priori
    // formulation; kept in integer cross-multiplication so both
    // engines decide the threshold identically). Plan shape at scale:
    // baskets are deduped FIRST (distinct (user, day, type) — one
    // shuffle on uniform basket keys), then the pair generation is a
    // self equi-join ON THE BASKET KEY with fan-out bounded by
    // |event-type vocabulary|² per basket (vocabularies are small by
    // definition of the operator; a-priori's level-1 frequent-item
    // prefilter would bound it further) — never a corpus × corpus
    // join. The basket count is one scalar broadcast onto the
    // pair-count frame (same singleton pattern as q_corpus_mix).
    Q("q_event_pairs",
      (s, d) => {
        val u = Tables.load(s, d, "events")
          .select(col("user_id"), to_date(col("ts")).as("day"),
            col("event_type"))
          .distinct()
        val nb = u.select("user_id", "day").distinct()
          .agg(count(lit(1)).as("n_baskets"))
        val a = u.toDF("user_id", "day", "ta")
        val b = u.toDF("user_id", "day", "tb")
        a.join(b, Seq("user_id", "day"))
          .filter(col("ta") < col("tb"))
          .groupBy("ta", "tb").agg(count(lit(1)).as("support"))
          .crossJoin(broadcast(nb))
          .filter(col("support") * 10L >= col("n_baskets"))
          .select("ta", "tb", "support", "n_baskets")
          .orderBy(desc("support"), col("ta"), col("tb"))
      },
      Some("""WITH u AS (
             |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
             |  FROM events),
             |nb AS (SELECT count(*) AS n_baskets
             |       FROM (SELECT DISTINCT user_id, day FROM u)),
             |p AS (
             |  SELECT a.event_type AS ta, b.event_type AS tb,
             |         count(*) AS support
             |  FROM u a JOIN u b
             |    ON a.user_id = b.user_id AND a.day = b.day
             |   AND a.event_type < b.event_type
             |  GROUP BY 1, 2)
             |SELECT ta, tb, support, n_baskets FROM p, nb
             |WHERE support * 10 >= n_baskets
             |ORDER BY support DESC, ta, tb""".stripMargin)),

    // SCD TYPE-2 MERGE — the warehouse dimension-maintenance operator:
    // fold a change batch into a dimension as effective-dated history
    // rows instead of in-place overwrites. The change batch is derived
    // deterministically from the dimension itself (md5-bucket idiom,
    // same as q_data_split): buckets 0-9 rotate c_mktsegment to the
    // next segment in a fixed cycle (a REAL change), buckets 10-19
    // "update" it to its current value (the no-op a real CDC feed is
    // full of) — and the no-op rows are dropped exactly as MERGE's
    // WHEN MATCHED AND new <> old clause would, so only genuine
    // changes open a new version. History stitch: union (version 0 =
    // current rows, version 1 = surviving changes), then valid_to =
    // lead(version) per key and is_current = valid_to IS NULL.
    // Scale shape: change detection is map-side column arithmetic (a
    // real feed makes it a broadcast join of the CDC batch against
    // the dimension), and the window runs per key over <= 2 rows —
    // one hash shuffle on the dimension key, never a global sort.
    Q("q_scd2_merge",
      (s, d) => scd2History(s, d).orderBy("c_custkey", "valid_from"),
      Some(s"""WITH $scd2OracleCtes
             |SELECT c_custkey, segment, valid_from, valid_to, is_current
             |FROM hist2 ORDER BY c_custkey, valid_from""".stripMargin)),

    // POINT-IN-TIME (PIT) LOOKUP against the SCD2 dimension — the
    // warehouse temporal join q_asof_join's event-to-event form can't
    // express: "which segment was this customer in AS OF version v?"
    // resolved by equi-joining the fact's key and filtering the
    // validity interval (valid_from <= v < valid_to, open-ended
    // current rows). Orders are observed at BOTH versions, so a
    // customer whose segment rotated contributes to different cells
    // per observation — any off-by-one in the interval logic moves
    // rows between cells and breaks the hash. Scale shape: the join
    // is a HASH join on the dimension key (the validity predicate is
    // a residual filter, never the join condition — no range-join
    // machinery needed because the equi key carries the selectivity);
    // the dimension holds <= 2 rows per key by construction.
    Q("q_pit_join",
      (s, d) => {
        val dim = scd2History(s, d)
        val obs = Tables.load(s, d, "orders")
          .select(col("o_custkey"),
            explode(array(lit(0L), lit(1L))).as("as_of"))
        obs.join(dim, obs("o_custkey") === dim("c_custkey") &&
            dim("valid_from") <= obs("as_of") &&
            (dim("valid_to").isNull || dim("valid_to") > obs("as_of")))
          .groupBy("as_of", "segment")
          .agg(count(lit(1)).as("n_orders"),
            countDistinct(col("o_custkey")).as("n_customers"))
          .orderBy("as_of", "segment")
      },
      Some(s"""WITH $scd2OracleCtes,
             |obs AS (
             |  SELECT o_custkey, unnest([CAST(0 AS BIGINT),
             |    CAST(1 AS BIGINT)]) AS as_of
             |  FROM orders)
             |SELECT o.as_of, h.segment, count(*) AS n_orders,
             |  count(DISTINCT o.o_custkey) AS n_customers
             |FROM obs o JOIN hist2 h ON h.c_custkey = o.o_custkey
             |  AND h.valid_from <= o.as_of
             |  AND (h.valid_to IS NULL OR h.valid_to > o.as_of)
             |GROUP BY o.as_of, h.segment
             |ORDER BY o.as_of, h.segment""".stripMargin)),

    // COHORT RETENTION over the event stream — the product-analytics
    // staple: bucket users by the week of their first PURCHASE (the
    // conversion cohort; any-event weeks are degenerate on this data —
    // measured: every user has events in week 0, purchases spread
    // first-conversion over three weeks), then count how many of each
    // cohort purchase again k weeks later. Week = integer division of
    // the microsecond epoch (exact 64-bit arithmetic; a double
    // quotient of a ~1.7e18 epoch is above 2^53 and can misplace a
    // boundary event). Plan shape: activity is dropDuplicates
    // (user, week) after a pushed-down event_type filter — one shuffle
    // on uniform user-carrying keys with map-side partial dedup;
    // cohorts are a per-user min over that same deduped frame
    // (exchange reuse); the join back is user-keyed and the final
    // aggregate is (weeks x offsets)-sized, i.e. tiny. Nothing in the
    // plan windows over a user's history, so per-user event skew never
    // concentrates on one task.
    Q("q_retention_cohorts",
      (s, d) => {
        val wkUs = 604800L * 1000 * 1000
        val act = Tables.load(s, d, "events")
          .filter(col("event_type") === "purchase")
          .select(col("user_id"),
            expr(s"unix_micros(ts) div ${wkUs}L").as("wk"))
          .distinct()
        val cohort = act.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
        act.join(cohort, "user_id")
          .groupBy(col("cohort_wk"),
            (col("wk") - col("cohort_wk")).as("week_offset"))
          // (user, wk) is distinct, so count(*) IS the distinct-user
          // count per cell — no second distinct pass needed
          .agg(count(lit(1)).as("n_active"))
          .orderBy("cohort_wk", "week_offset")
      },
      Some("""WITH act AS (
             |  SELECT DISTINCT user_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS wk
             |  FROM events WHERE event_type = 'purchase'),
             |cohort AS (
             |  SELECT user_id, min(wk) AS cohort_wk FROM act GROUP BY user_id)
             |SELECT cohort_wk, wk - cohort_wk AS week_offset,
             |  count(*) AS n_active
             |FROM act JOIN cohort USING (user_id)
             |GROUP BY 1, 2 ORDER BY cohort_wk, week_offset""".stripMargin)),

    // NEXT-EVENT TRANSITION MATRIX (first-order Markov counts) — the
    // sequence-mining diagnostic behind session modeling and funnel
    // design: per user, order events by time and count each
    // (previous event type -> event type) step; a user's first event
    // transitions from the synthetic 'START' state. The per-user lag
    // is ONE window over user-partitioned, time-sorted events (the
    // same shuffle sessionization pays — per-user width bounds the
    // sort, uniform user ids bound the skew); everything after it is
    // an aggregate into a (types+1) x types matrix, i.e. KBs. The
    // transition share is exact integer basis points (floor of
    // 10000*n / row total) computed with a window over the TINY
    // aggregated matrix — engine-exact, no IEEE division.
    Q("q_event_transitions",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val byTime = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val steps = Tables.load(s, d, "events")
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"))
          .withColumn("prev_type",
            coalesce(lag(col("event_type"), 1).over(byTime), lit("START")))
        val m = steps.groupBy(col("prev_type"),
            col("event_type").as("next_type"))
          .agg(count(lit(1)).as("n"))
        val byPrev = Window.partitionBy("prev_type")
        m.withColumn("tot", sum(col("n")).over(byPrev))
          .withColumn("p_bp", expr("(10000 * n) div tot"))
          .select("prev_type", "next_type", "n", "p_bp")
          .orderBy("prev_type", "next_type")
      },
      Some("""WITH steps AS (
             |  SELECT coalesce(lag(event_type) OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id), 'START')
             |    AS prev_type, event_type AS next_type
             |  FROM events),
             |m AS (
             |  SELECT prev_type, next_type, count(*) AS n
             |  FROM steps GROUP BY 1, 2)
             |SELECT prev_type, next_type, n,
             |  CAST((10000 * n) // sum(n) OVER (PARTITION BY prev_type)
             |    AS BIGINT) AS p_bp
             |FROM m ORDER BY prev_type, next_type""".stripMargin)),

    // PER-GROUP LEAST-SQUARES TREND (OLS slope of event value over
    // time) — the drift monitor a training-data pipeline runs per
    // source/type: is this stream's value level moving? One partial
    // aggregate collects the exact cross-moments (n, Σx, Σy, Σxy, Σx²)
    // with x = whole seconds since a fixed epoch shift and y = cent-
    // scaled value — both integers (a raw 64-bit Σx² is already
    // within 4x of wrapping at sf0.1, so the sums go through
    // decimal). The moments are kept at DECIMAL(18,0): that is the
    // load-bearing choice, because the slope's closed form
    // (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) multiplies two moments, and
    // an engine whose decimal product would exceed its 38-digit cap
    // silently degrades the product to double BEFORE the cancelling
    // subtraction (measured: DuckDB does exactly that at (38,0)x(38,0),
    // diverging in the last ulp) — with 18-digit moments the product
    // precision stays inside the exact-decimal range of both engines.
    // 18 digits also bounds the
    // groups this works for (Σx² <= 1e18); at bigger groups, coarsen
    // x's unit or center x per group before summing — the slope is
    // shift-invariant, the epoch shift here is the same conditioning
    // trick. The slope is REPORTED as the exact rational (num, den)
    // rather than a divided double: the closed-form terms exceed 2^53,
    // and a decimal->double cast at that magnitude is not correctly
    // rounded on every engine (measured: DuckDB's int128 path composes
    // two double ops and can land one ulp off Java's BigDecimal cast),
    // so the division belongs to the consumer at display time. Groups
    // are the five event types: the aggregate is map-side partial + a
    // KB-sized final.
    //
    // GATE SHAPE (round 12): the gated row is the five raw moments
    // (n, sx, sy, sxy, sxx), with the INTERNAL sums still DECIMAL(18,0)
    // (Spark's raw int64 Σx² would be within 4x of wrapping at sf0.1 —
    // the decimal accumulator is the overflow-safe path) but every
    // OUTPUT cast to BIGINT: all five moments fit int64 with >15x
    // headroom (max observed |sxx| = 5.94e17 at sf0.1 vs 2^63 ≈
    // 9.2e18; GroupOlsSpec asserts the |sxx| < 2^62 guard so a bigger
    // SF fails loudly instead of wrapping). Rounds 9-11 gated the
    // decimal128 values directly and were local-green yet driver-red
    // three rounds running — a decimal canonicalization divergence in
    // the driver's DuckDB/arrow hash path that int64 removes entirely
    // (the same cast-to-BIGINT move that greened q_winsorize /
    // q_token_budget / q_ks_drift in r10). The num/den slope
    // composition stays in GroupOlsSpec (exact BigInt recompose vs an
    // independent per-row fold).
    Q("q_group_ols",
      (s, d) => {
        val d18 = DecimalType(18, 0)
        val e = Tables.load(s, d, "events")
          .select(col("event_type"),
            expr("unix_micros(ts) div 1000000 - 1700000000").as("x"),
            round(col("value") * 100).cast(LongType).as("y"))
        e.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("x").cast(d18)).cast(LongType).as("sx"),
            sum(col("y").cast(d18)).cast(LongType).as("sy"),
            sum((col("x") * col("y")).cast(d18)).cast(LongType).as("sxy"),
            sum((col("x") * col("x")).cast(d18)).cast(LongType).as("sxx"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(sum(CAST(x AS DECIMAL(18,0))) AS BIGINT) AS sx,
             |  CAST(sum(CAST(y AS DECIMAL(18,0))) AS BIGINT) AS sy,
             |  CAST(sum(CAST(x * y AS DECIMAL(18,0))) AS BIGINT) AS sxy,
             |  CAST(sum(CAST(x * x AS DECIMAL(18,0))) AS BIGINT) AS sxx
             |FROM (
             |  SELECT event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 - 1700000000 AS x,
             |    CAST(round(value * 100) AS BIGINT) AS y
             |  FROM events)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // TOP SESSION PATHS — sequence mining one level up from the
    // single-step transition matrix: the most common openings (first
    // three event types) of a session, where sessions are the same
    // 30-minute-gap cut as q_events_sessionize. Two windows over ONE
    // per-user shuffle (gap flag, then running sum for the session id
    // and the within-session rank); the path string is assembled by
    // three conditional aggregates per session — never a
    // collect_list of a session's whole history — and the path
    // frequency table that feeds the final top-20 is at most
    // |types|^3-sized. Tie-break on the path string keeps the limit
    // deterministic cross-engine.
    Q("q_session_paths",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val byTime = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val sess = Tables.load(s, d, "events")
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"))
          .withColumn("is_new",
            when(lag(col("ts"), 1).over(byTime).isNull ||
              unix_timestamp(col("ts")) -
                unix_timestamp(lag(col("ts"), 1).over(byTime)) > 1800,
              1L).otherwise(0L))
          .withColumn("sess_no", sum(col("is_new")).over(byTime))
        val bySess = Window.partitionBy("user_id", "sess_no")
          .orderBy("ts", "event_id")
        sess
          .withColumn("rn", row_number().over(bySess))
          .filter(col("rn") <= 3)
          .groupBy("user_id", "sess_no")
          .agg(
            max(when(col("rn") === 1, col("event_type"))).as("e1"),
            max(when(col("rn") === 2, col("event_type"))).as("e2"),
            max(when(col("rn") === 3, col("event_type"))).as("e3"))
          .select(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
          .groupBy("path").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("path"))
          .limit(20)
      },
      Some("""WITH x AS (
             |  SELECT user_id, event_id, ts, event_type,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |      OR date_diff('second', lag(ts) OVER w, ts) > 1800
             |      THEN 1 ELSE 0 END AS is_new
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sess AS (
             |  SELECT *, sum(is_new) OVER (
             |    PARTITION BY user_id ORDER BY ts, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
             |  FROM x),
             |ranked AS (
             |  SELECT user_id, sess_no, event_type, row_number() OVER (
             |    PARTITION BY user_id, sess_no ORDER BY ts, event_id) AS rn
             |  FROM sess),
             |paths AS (
             |  SELECT concat_ws('>',
             |      max(CASE WHEN rn = 1 THEN event_type END),
             |      max(CASE WHEN rn = 2 THEN event_type END),
             |      max(CASE WHEN rn = 3 THEN event_type END)) AS path
             |  FROM ranked WHERE rn <= 3 GROUP BY user_id, sess_no)
             |SELECT path, count(*) AS n FROM paths
             |GROUP BY path ORDER BY n DESC, path LIMIT 20""".stripMargin)),

    // DATA-QUALITY VALIDATION PASS (the Deequ/dbt-test analog): run a
    // rule suite against a table and report (rule, n_checked,
    // n_violations) per rule — the admission gate every ingest
    // pipeline runs before data reaches training. Three rule shapes,
    // each in its cheapest plan: row-level rules (domain membership,
    // range, non-null) are conditional aggregates fused into ONE scan
    // and unpivoted with stack(); the referential rule is a LEFT join
    // against the orders primary key counting unmatched rows (checked
    // and violated in the same pass — at scale this is the one
    // shuffle, and AQE broadcasts the dim side when it fits); the
    // uniqueness rule aggregates the candidate key and counts
    // surplus rows per duplicate group. The suite exercises both
    // outcomes on this data: domain/non-null/referential pass with
    // zero, while the strict range rule (quantity <= 45) and the
    // (l_orderkey, l_linenumber) uniqueness rule both fire — the
    // generator genuinely reuses line numbers, the exact class of
    // defect this operator exists to catch before training.
    Q("q_data_quality",
      (s, d) => {
        val li = Tables.load(s, d, "lineitem")
        val rowRules = li.agg(
            count(lit(1)).as("n"),
            sum((!col("l_returnflag").isin("A", "N", "R"))
              .cast(LongType)).as("v_domain"),
            sum((col("l_quantity") < 1 || col("l_quantity") > 45)
              .cast(LongType)).as("v_range"),
            sum(col("l_shipdate").isNull.cast(LongType)).as("v_null"))
          .selectExpr("stack(3, " +
            "'domain_returnflag', n, v_domain, " +
            "'range_quantity', n, v_range, " +
            "'nonnull_shipdate', n, v_null) AS " +
            "(rule, n_checked, n_violations)")
        val ref = li.select(col("l_orderkey"))
          .join(Tables.load(s, d, "orders").select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left")
          .agg(count(lit(1)).as("n_checked"),
            sum(col("o_orderkey").isNull.cast(LongType)).as("n_violations"))
          .select(lit("ref_orderkey").as("rule"), col("n_checked"),
            col("n_violations"))
        val uniq = li.groupBy("l_orderkey", "l_linenumber")
          .agg(count(lit(1)).as("c"))
          .agg(sum(col("c")).as("n_checked"),
            sum(col("c") - 1).as("n_violations"))
          .select(lit("unique_linekey").as("rule"), col("n_checked"),
            col("n_violations"))
        rowRules.unionByName(ref).unionByName(uniq).orderBy("rule")
      },
      Some("""WITH row_rules AS (
             |  SELECT count(*) AS n,
             |    sum(CASE WHEN l_returnflag NOT IN ('A','N','R')
             |      THEN 1 ELSE 0 END) AS v_domain,
             |    sum(CASE WHEN l_quantity < 1 OR l_quantity > 45
             |      THEN 1 ELSE 0 END) AS v_range,
             |    sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS v_null
             |  FROM lineitem),
             |u AS (
             |  SELECT 'domain_returnflag' AS rule, n, v_domain AS v
             |    FROM row_rules
             |  UNION ALL SELECT 'range_quantity', n, v_range FROM row_rules
             |  UNION ALL SELECT 'nonnull_shipdate', n, v_null FROM row_rules
             |  UNION ALL
             |  SELECT 'ref_orderkey', count(*),
             |    sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
             |  FROM lineitem l LEFT JOIN orders o
             |    ON l.l_orderkey = o.o_orderkey
             |  UNION ALL
             |  SELECT 'unique_linekey', sum(c), sum(c - 1) FROM (
             |    SELECT count(*) AS c FROM lineitem
             |    GROUP BY l_orderkey, l_linenumber) g)
             |SELECT rule, CAST(n AS BIGINT) AS n_checked,
             |  CAST(v AS BIGINT) AS n_violations
             |FROM u ORDER BY rule""".stripMargin))
  )
}

/** Pointer-doubling ancestor resolution (see q_tree_depth): state rows
  * are (id, anc, steps) with roots self-pointing at 0 steps; each
  * round substitutes anc := anc(anc) and accumulates steps, doubling
  * the resolved distance — ceil(log2 depth) rounds reach every root.
  * One equi-join on uniform node ids per round, lineage cut per round
  * (the CC/PageRank iterative shape). Converged rows are fixpoints
  * (the root hop adds 0), so surplus rounds cannot change the answer.
  */
object PointerDoubling {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions.col

  def resolve(state0: DataFrame, rounds: Int): DataFrame = {
    var state = graft.Tables.cut(state0)
    for (_ <- 1 to rounds) {
      val hop = state.select(col("id").as("h_id"),
        col("anc").as("h_anc"), col("steps").as("h_steps"))
      state = state.join(hop, state("anc") === hop("h_id"))
        .select(col("id"), col("h_anc").as("anc"),
          (col("steps") + col("h_steps")).as("steps"))
        .transform(graft.Tables.cut)
    }
    state
  }
}
