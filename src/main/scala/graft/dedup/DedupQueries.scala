package graft.dedup

import graft.Tables
import graft.functions.GraftFunctions._
import graft.queries.CoreQueries.Q
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operator family for LLM-training-data pipelines:
  * exact (hash-group), MinHash+LSH banding, 16-bit SimHash, and n-gram
  * Jaccard — all as pure Catalyst expressions over the `documents`
  * table, each with a DuckDB oracle built on the same md5-derived
  * hashing so results are verifiable bit-for-bit.
  *
  * Scale notes (100 TB posture):
  *  - exact dedup is a single hash-aggregate on md5(text) — one shuffle,
  *    map-side partial aggregation, no data skew (md5 is uniform).
  *  - MinHash/LSH: signature computation is embarrassingly parallel
  *    (per-row expressions); the candidate join shuffles on band value,
  *    whose cardinality is huge and uniform — joins stay balanced. Only
  *    candidate PAIRS (a tiny fraction) reach the exact-Jaccard verify.
  *  - SimHash comes in two widths: the 16-bit hamming-0 bucket demo
  *    (q_dedup_simhash) and the production 64-bit fingerprint with
  *    hamming<=3 band-rotation probing (q_dedup_simhash64).
  */
object DedupQueries {

  /** Output-layout knob for the persisted dedup stages: files sized
    * to ~2M rows each. At battery scale every stage lands in ONE
    * compact file (hashes unchanged vs the old repartition(1)); at
    * 10⁹ docs the banding design keeps pair mass O(N), so the pair
    * table writes ~N/2M files instead of funneling a corpus-sized
    * result through a single task — the knob the r9 review called
    * out. An empty result still writes one file (schema preserved). */
  private val RowsPerFile = 2L * 1000 * 1000
  private def compactFiles(rowEstimate: Long): Int =
    math.max(1L, (rowEstimate + RowsPerFile - 1) / RowsPerFile).toInt

  /** Shared Spark side of the 64-bit SimHash near-dup pairs (see
    * q_dedup_simhash64 for the algorithm notes): (a_id, b_id, hamming)
    * at hamming <= 3.
    *
    * SIX battery queries consume this stage (q_dedup_simhash64,
    * q_dedup_cluster, q_dedup_keep_one, q_dedup_source_matrix,
    * q_pagerank, q_dedup_incremental). At
    * 100 TB the fingerprint/pair table is written ONCE and read many
    * times — never recomputed from the raw corpus per downstream job —
    * and the battery does the real thing: the first consumer WRITES the
    * pair table as parquet under target/tmp (mirroring
    * IvfIndex.buildIndex's persisted-index layout), later consumers in
    * the same session/dir READ it — the registry holds only the
    * path, so no RDD blocks stay pinned for the process lifetime.
    * The fingerprint table is persisted the same way (parquet under
    * [[persistedFingerprints]]) — its consumers are the banded
    * self-join here and the incremental bloom dedup.
    *
    * Candidate generation is corpus-parameterized block probing
    * ([[SimhashBanding]]): the band count/width is chosen from the
    * fingerprint count so expected false-candidate volume stays O(N)
    * at any corpus size (b=4 / 16-bit keys at battery scale — the
    * minimal lossless split — b=7 / ~36-bit keys at N=10⁹). Any plan
    * is lossless at hamming <= 3, so the pair set — and every
    * downstream hash — is independent of the chosen width. */
  private def simhash64Pairs(s: org.apache.spark.sql.SparkSession,
                             d: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(Tables.once("pairDirCache", s, d) {
      // the fingerprint table is its own persisted stage (one row per
      // doc, 24 bytes each): the banded self-join's two sides read the
      // parquet back instead of each recomputing the tokenize + md5 +
      // vote aggregate over the full corpus
      val fp = persistedFingerprints(s, d)
      // the count parameterizes the bands (tiny parquet scan) AND the
      // output layout: banding keeps candidate/pair mass O(N), so the
      // fingerprint count is the right file-count estimator
      val n = fp.count()
      val plan = SimhashBanding.choose(n)
      val pairs = bandedPairs(fp, plan)
      val dir = Tables.matDir("simhash_pairs", s, d)
      pairs.repartition(compactFiles(n))
        .write.mode("overwrite").parquet(dir)
      dir
    })

  /** The PERSISTED word-trigram TF postings (doc_id, g, tf) — shared
    * by the weighted sparse-cosine and asymmetric-containment dedups:
    * both derive their df cap, sizes and join sides from this table,
    * and the per-doc window construction over the exploded corpus is
    * their dominant cost — paid once, written as parquet (pair-table
    * convention; tf rows double as the distinct (doc, gram) set). */
  private def trigramTf(s: org.apache.spark.sql.SparkSession,
                        d: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(Tables.once("tfDirCache", s, d) {
      // trigrams built MAP-SIDE via shingles() (zip_with slices) —
      // the old posexplode + window-lead form shuffled the exploded
      // corpus by doc_id just to reassemble adjacent tokens; the only
      // shuffle left in the shared build is the tf aggregate itself
      val tf = Tables.spread(Tables.load(s, d, "documents"))
        .select(col("doc_id"),
          explode(shingles(tokens(col("text")), 3)).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("tf"))
      val dir = Tables.matDir("trigram_tf", s, d)
      tf.write.mode("overwrite").parquet(dir)
      dir
    })

  /** The PERSISTED per-doc triangle statistics (doc_id, deg, n_tri)
    * of the near-dup graph — the third shared graph materialization
    * beside the pair and cluster tables, consumed by q_triangles and
    * q_clustering_coef, computed once per (session, sf dir) and
    * written as parquet (the pair-table convention; the cache holds
    * only the path). Computed on the fingerprint-CLASS quotient graph
    * ([[TriangleQuotient]]) — exact by the blow-up argument written
    * there — instead of enumerating document-level triangles: at the
    * 10x rung the doc graph's wedge close was 929M wedges even
    * degree-ordered, the quotient's is 10.8M. */
  private def simhash64TriangleStats(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(Tables.once("triStatsDirCache", s, d) {
      val fp = persistedFingerprints(s, d)
      val stats = TriangleQuotient.nodeStats(fp)
      val dir = Tables.matDir("simhash_tristats", s, d)
      // one row per document; the fingerprint parquet's row count is
      // a metadata read and sizes the output layout
      stats.repartition(compactFiles(fp.count()))
        .write.mode("overwrite").parquet(dir)
      dir
    })

  /** The PERSISTED simhash64 fingerprint table (doc_id, hi, lo):
    * "fingerprint the corpus once" as a real parquet write, read back
    * by every consumer — the pair stage's banded self-join and the
    * incremental bloom dedup (q_dedup_bloom). At 100 TB this is the
    * fingerprint table a daily job band-joins its new batch against;
    * recomputing it from raw text per consumer would be the single
    * largest wasted scan in the pipeline. */
  private[dedup] def persistedFingerprints(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(Tables.once("fpDirCache", s, d) {
      val dir = Tables.matDir("simhash_fps", s, d)
      // one row per document; the source parquet's row count is a
      // metadata read and sizes the output layout
      val n = Tables.load(s, d, "documents").count()
      fingerprints(s, d).repartition(compactFiles(n))
        .write.mode("overwrite").parquet(dir)
      dir
    })

  /** MAP-SIDE 64-bit average-hash (aHash) over the first 64 payload
    * bytes of `text`: bit p set iff 64·byte_p > Σ bytes, packed as
    * (hi = bits 32..63, lo = bits 0..31) — value-identical to the old
    * posexplode + per-doc window-sum + re-aggregate shape, which
    * shuffled a 64x-exploded corpus TWICE per consumer. Here the byte
    * array is zip_with'd with its positions and folded in ONE
    * expression; the mean rides in the fold's ZERO (evaluated once per
    * row), so nothing references an aliased array per element — the
    * re-inline trap the old in-source comment measured at 23 s stays
    * dodged, and the fingerprint needs no shuffle at all. */
  private val aHash64: org.apache.spark.sql.Column = {
    val bs = "transform(sequence(1, 64), i -> ascii(substring(text, i, 1)))"
    expr(
      s"""aggregate(
         |  zip_with($bs, sequence(0, 63),
         |    (b, p) -> named_struct('bv', b, 'pos', p)),
         |  named_struct(
         |    'sm', aggregate($bs, CAST(0 AS BIGINT), (a, x) -> a + x),
         |    'hi', CAST(0 AS BIGINT), 'lo', CAST(0 AS BIGINT)),
         |  (acc, e) -> named_struct(
         |    'sm', acc.sm,
         |    'hi', acc.hi + IF(e.pos >= 32 AND 64 * e.bv > acc.sm,
         |      shiftleft(CAST(1 AS BIGINT), e.pos % 32), CAST(0 AS BIGINT)),
         |    'lo', acc.lo + IF(e.pos < 32 AND 64 * e.bv > acc.sm,
         |      shiftleft(CAST(1 AS BIGINT), e.pos % 32), CAST(0 AS BIGINT))))"""
        .stripMargin)
  }

  /** Banded candidate generation + exact hamming<=r verify over a
    * fingerprint table (doc_id, hi, lo): probe keys per
    * [[SimhashBanding.Plan]], equi-join on (comb, bits), verify on
    * candidates only. Exposed at package level so the spec can prove
    * END-TO-END (not just on the JVM reference) that every lossless
    * width produces the identical pair set — the property the
    * corpus-parameterized `choose` relies on. */
  private[dedup] def bandedPairs(
      fp: org.apache.spark.sql.DataFrame,
      plan: SimhashBanding.Plan): org.apache.spark.sql.DataFrame = {
    val banded = bandedRows(fp, plan)
    val ba = banded.select(col("doc_id").as("a_id"), col("hi").as("a_hi"),
      col("lo").as("a_lo"), col("comb"), col("bits"))
    val bb = banded.select(col("doc_id").as("b_id"), col("hi").as("b_hi"),
      col("lo").as("b_lo"), col("comb"), col("bits"))
    ba.join(bb, Seq("comb", "bits"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "a_hi", "a_lo", "b_hi", "b_lo").distinct()
      .withColumn("hamming",
        (bit_count(col("a_hi").bitwiseXOR(col("b_hi"))) +
         bit_count(col("a_lo").bitwiseXOR(col("b_lo")))).cast(LongType))
      .filter(col("hamming") <= plan.r)
      .select("a_id", "b_id", "hamming")
  }

  /** The banded probe rows (doc_id, hi, lo, comb, bits) for a
    * fingerprint table: one row per (doc, block-subset), the join/
    * bloom key material both the pair self-join and the incremental
    * bloom prefilter are built from. */
  private[dedup] def bandedRows(
      fp: org.apache.spark.sql.DataFrame,
      plan: SimhashBanding.Plan): org.apache.spark.sql.DataFrame = {
    // full 64-bit fingerprint: hi carries bits 32..63 in its low
    // word, lo bits 0..31 — both always in [0, 2^32), so the
    // recombination is exact (sign bit = fingerprint bit 63)
    val fp64 = shiftleft(col("hi"), 32).bitwiseOR(col("lo"))
    val probes = SimhashBanding.probeStructs(fp64, plan)
    fp.withColumn("p", explode(array(probes: _*)))
      .select(col("doc_id"), col("hi"), col("lo"),
        col("p.comb").as("comb"), col("p.bits").as("bits"))
  }

  /** Build a Bloom filter over a banded-row table's probe keys
    * (xxhash64(comb, bits) — the key need not be reversible; a hash
    * collision only adds a false positive, which the exact verify
    * join removes). One partial-aggregating pass; the result is a
    * bounded byte[] sized from `estItems`, driver-held exactly like
    * the IVF centroid table. */
  private[dedup] def buildProbeBloom(
      rows: org.apache.spark.sql.DataFrame, estItems: Long): Array[Byte] = {
    import org.apache.spark.sql.GraftSqlShims
    import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val key = xxhash64(col("comb"), col("bits"))
    // ~10 bits/item => ~1% false-positive rate at the optimal hash
    // count, which BloomFilterAggregate derives from (items, bits)
    val agg = new BloomFilterAggregate(GraftSqlShims.expression(key),
      CatLit(math.max(estItems, 1L)), CatLit(math.max(estItems, 1L) * 10))
    rows.agg(GraftSqlShims.column(agg.toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** The membership predicate for [[buildProbeBloom]]'s sketch over
    * (comb, bits) — Spark's codegen'd BloomFilterMightContain with the
    * sketch inlined as a binary literal, so the prefilter runs inside
    * whole-stage codegen on the scan side with no join or shuffle. */
  private[dedup] def mightContainProbe(bloom: Array[Byte]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftSqlShims
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal => CatLit}
    GraftSqlShims.column(
      BloomFilterMightContain(CatLit(bloom, BinaryType),
        GraftSqlShims.expression(xxhash64(col("comb"), col("bits")))))
  }

  /** The simhash64 fingerprint plan (doc_id, hi, lo) for one sf dir —
    * the input the pair stage, the width-equivalence spec and the
    * streaming near-dup test build on. */
  private[graft] def fingerprints(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.spread(Tables.load(s, d, "documents"))
      .select(col("doc_id"), explode(tokenSet(col("text"))).as("tok"))
      .withColumn("h", md5(col("tok")))
      .groupBy("doc_id")
      .agg(graft.functions.SimHash64Agg.simhash64(col("h")).as("fp"))
      .select(col("doc_id"), col("fp.hi").as("hi"), col("fp.lo").as("lo"))

  /** The simhash64 duplicate-cluster table (id, cluster_id), computed
    * ONCE per (session, sf dir) and shared by q_dedup_cluster and
    * q_dedup_keep_one — the production pipeline writes the cluster
    * assignment once and every downstream job (canonical-keep, audit,
    * reporting) reads it; rerunning the connected-components rounds per
    * consumer would redo the whole iterative stage. Like the pair
    * table, the assignment is a real parquet write/read: the cache
    * holds only the path, and the CC rounds' localCheckpoint blocks
    * become garbage-collectable once the write finishes. */
  private def simhash64Clusters(s: org.apache.spark.sql.SparkSession,
                                d: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(Tables.once("clusterDirCache", s, d) {
      val comp =
        ConnectedComponents.run(simhash64Pairs(s, d).select("a_id", "b_id"))
          .localCheckpoint()
      val dir = Tables.matDir("simhash_clusters", s, d)
      // node-count-sized layout, same rule as the pair/triangle/
      // fingerprint tables (the count reads the checkpointed blocks)
      comp.repartition(compactFiles(comp.count()))
        .write.mode("overwrite").parquet(dir)
      dir
    })

  /** The PERSISTED 3-iteration label-propagation community assignment
    * (doc_id, community) — the pair/cluster-table convention applied
    * to the community structure: the iterative voting loop runs once
    * per (session, sf dir) and is written as parquet; q_label_prop
    * reports it and q_modularity grades it, so recomputing the loop
    * per consumer would double the only iterative stage either one
    * needs. Per round: join labels to edges on node id + a (node,
    * label) count + an argmax aggregate, lineage cut per round —
    * nothing corpus-sized on the driver. */
  private def labelPropCommunities(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    s.read.parquet(Tables.once("commDirCache", s, d) {
      val iters = 3
      val e = simhash64Pairs(s, d)
      val edges = e.select(col("a_id").as("u"), col("b_id").as("v"))
        .union(e.select(col("b_id").as("u"), col("a_id").as("v")))
        .localCheckpoint()
      var lab = edges.select(col("u").as("id")).distinct()
        .select(col("id"), col("id").as("lbl"))
        .localCheckpoint()
      for (_ <- 1 to iters) {
        val votes = edges.join(lab, edges("u") === lab("id"))
          .groupBy(col("v"), col("lbl")).agg(count(lit(1)).as("cnt"))
        // max votes, then smallest label: max_by on (cnt, -lbl)
        lab = votes.groupBy(col("v").as("id"))
          .agg(max_by(col("lbl"),
            struct(col("cnt").as("c"), (-col("lbl")).as("neg")))
            .as("lbl"))
          .localCheckpoint()
      }
      val dir = Tables.matDir("simhash_communities", s, d)
      // node-count-sized layout (lab is already checkpointed per round)
      lab.select(col("id").as("doc_id"), col("lbl").as("community"))
        .repartition(compactFiles(lab.count()))
        .write.mode("overwrite").parquet(dir)
      dir
    })

  /** Cross-family access to the shared pair materialization (e.g. the
    * end-to-end prep pipeline in TextQueries) — same single
    * computation per (session, dir) as the in-family consumers. */
  private[graft] def sharedSimhash64Pairs(
      s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = simhash64Pairs(s, d)

  /** The matching oracle CTE chain: fp (fingerprints) + pairs
    * (hamming <= 3 candidate pairs). */
  private[graft] def sharedPairsCte: String =
    s"""$simhash64FpCte,
       |$bandedPairsCte""".stripMargin

  /** Oracle CTE chain replaying the 3-iteration label propagation:
    * fp + pairs + edges + voting layers l1..l3, ending in
    * `com(doc_id, community)` — shared by q_label_prop (reports the
    * assignment) and q_modularity (grades it), mirroring the shared
    * [[labelPropCommunities]] materialization on the Spark side. */
  private lazy val labelPropOracleCtes: String = {
    val layers = (1 to 3).map { k =>
      s"""l$k AS (
         |  SELECT v AS id, lbl FROM (
         |    SELECT v, lbl,
         |      row_number() OVER (PARTITION BY v
         |        ORDER BY cnt DESC, lbl) AS rn
         |    FROM (
         |      SELECT e.v, l.lbl, count(*) AS cnt
         |      FROM edges e JOIN l${k - 1} l ON e.u = l.id
         |      GROUP BY e.v, l.lbl) g) t
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""$simhash64FpCte,
       |$bandedPairsCte,
       |edges AS MATERIALIZED (
       |  SELECT a_id AS u, b_id AS v FROM pairs
       |  UNION ALL SELECT b_id, a_id FROM pairs),
       |l0 AS (SELECT DISTINCT u AS id, u AS lbl FROM edges),
       |$layers,
       |com AS (SELECT id AS doc_id, CAST(lbl AS BIGINT) AS community
       |        FROM l3)""".stripMargin
  }

  /** Shared DuckDB CTE chain computing the same 64-bit fingerprints
    * (tk/hs/votes/fp) — the oracle spells out the expression form the
    * SimHash64Agg aggregate replaced. */
  private val simhash64FpCte: String = {
    val bitSums = (0 until 64).map { k =>
      val (j, b) = (k / 4, k % 4)
      s"SUM(CASE WHEN (instr('0123456789abcdef', substr(h, ${j + 1}, 1)) - 1) % ${1L << (b + 1)} >= ${1L << b} THEN 1 ELSE 0 END) AS c$k"
    }.mkString(",\n|    ")
    def half(bits: Range) = bits.map { k =>
      s"(CASE WHEN 2 * c$k >= n THEN CAST(${1L << (k % 32)} AS BIGINT) ELSE 0 END)"
    }.mkString(" + ")
    s"""tk AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
       |  FROM documents),
       |hs AS (SELECT doc_id, md5(tok) AS h FROM tk),
       |votes AS (
       |  SELECT doc_id, count(*) AS n,
       |    $bitSums
       |  FROM hs GROUP BY doc_id),
       |fp AS (
       |  SELECT doc_id,
       |    ${half(32 until 64)} AS hi,
       |    ${half(0 until 32)} AS lo
       |  FROM votes)""".stripMargin
  }

  /** The BANDED form of the hamming<=3 candidate join — EXACT by
    * pigeonhole: 3 differing bits over 64 bits split into 4 disjoint
    * 16-bit bands leave at least one band untouched, so every
    * qualifying pair shares at least one band key and the equi-join +
    * DISTINCT yields the IDENTICAL pair set to the all-pairs form
    * (verified value-for-value at the 10x rung: 4,450,153 pairs both
    * ways) at O(band collisions) instead of O(N²) — 6.7 s vs 73 s in
    * DuckDB at 50k docs, which is what keeps the sf1 oracle rung
    * inside its time budget. MATERIALIZED because the downstream
    * oracles (pagerank's five layers, the triangle close, the CC
    * rounds) reference `pairs` repeatedly. This is the same banding
    * the Spark side's SimhashBanding plan encodes; the oracle now
    * replays the bounded form instead of brute force. */
  private val bandedPairsCte: String =
    """bnd AS MATERIALIZED (
      |  SELECT doc_id, hi, lo, b.band,
      |    CASE b.band WHEN 0 THEN (hi >> 16) & 65535
      |                WHEN 1 THEN hi & 65535
      |                WHEN 2 THEN (lo >> 16) & 65535
      |                ELSE lo & 65535 END AS key
      |  FROM fp, (SELECT unnest(range(4)) AS band) b),
      |pairs AS MATERIALIZED (
      |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
      |    CAST(bit_count(xor(a.hi, b.hi))
      |      + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
      |  FROM bnd a JOIN bnd b ON a.band = b.band AND a.key = b.key
      |    AND a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3)"""
      .stripMargin

  /** Per-node triangle statistics computed at the FINGERPRINT-CLASS
    * level — the oracle form that keeps the triangle family inside
    * the sf1 time budget where even the degree-ordered wedge close
    * cannot (929M ordered wedges over the 4.45M-edge doc graph at the
    * 10x rung vs 10.8M over the 186k-edge class graph; >600 s vs ~7 s
    * in DuckDB).
    *
    * EXACT by a blow-up argument, not an approximation: adjacency in
    * the near-dup graph is hamming(fp_a, fp_b) <= 3 with a < b, which
    * depends ONLY on the two fingerprints — so all docs sharing a
    * fingerprint (a "class" of size m) are pairwise adjacent (hamming
    * 0) and have identical neighborhoods outside the class. The doc
    * graph is therefore the blow-up of the class graph (classes f~g
    * iff hamming <= 3, f <> g) with each class expanded to an m-clique.
    * For any doc v in class f, its triangle count splits exactly by
    * where the other two corners live:
    *   both in f:             C(m_f - 1, 2)
    *   one in f, one in g~f:  (m_f - 1) * S_f,  S_f = Σ_{g~f} m_g
    *   both in one g~f:       Σ_{g~f} C(m_g, 2)
    *   in g~f, h~f, g~h:      Σ_{class triangles {f,g,h}} m_g * m_h
    * — every doc in a class gets the same count, so one class-level
    * pass answers all 10x-rung docs. The class-triangle term reuses
    * the same pigeonhole-banded equi-join as `pairs`, just over
    * distinct fingerprints (sound for the identical reason: bands are
    * disjoint 16-bit slices, <= 3 differing bits leave one band
    * equal). Degrees fall out of the same split: deg(v in f) =
    * (m_f - 1) + S_f. Verified value-for-value against the wedge-close
    * form at sf0.01 and sf0.1 and against the Spark output at sf1.
    * Emits `cstat(cid, hi, lo, m, deg, ntri)`; join `fp` back on
    * (hi, lo) for per-doc rows. */
  private val classTriCtes: String =
    """cls AS MATERIALIZED (
      |  SELECT hi, lo, count(*) AS m, min(doc_id) AS cid
      |  FROM fp GROUP BY hi, lo),
      |cbnd AS MATERIALIZED (
      |  SELECT cid, hi, lo, m, b.band,
      |    CASE b.band WHEN 0 THEN (hi >> 16) & 65535
      |                WHEN 1 THEN hi & 65535
      |                WHEN 2 THEN (lo >> 16) & 65535
      |                ELSE lo & 65535 END AS key
      |  FROM cls, (SELECT unnest(range(4)) AS band) b),
      |cp AS MATERIALIZED (
      |  SELECT DISTINCT a.cid AS f, b.cid AS g, a.m AS mf, b.m AS mg
      |  FROM cbnd a JOIN cbnd b ON a.band = b.band AND a.key = b.key
      |    AND a.cid < b.cid
      |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3),
      |cpe AS MATERIALIZED (
      |  SELECT f, g, mg FROM cp
      |  UNION ALL SELECT g, f, mf FROM cp),
      |nb AS (
      |  SELECT f, sum(mg) AS s, sum(mg * (mg - 1) // 2) AS pairsum
      |  FROM cpe GROUP BY f),
      |ctri AS (
      |  SELECT w1.f AS x, w1.g AS y, w2.g AS z,
      |         w1.mf AS mx, w1.mg AS my, w2.mg AS mz
      |  FROM cp w1
      |  JOIN cp w2 ON w1.g = w2.f
      |  JOIN cp cl ON cl.f = w1.f AND cl.g = w2.g),
      |t4 AS (
      |  SELECT f, sum(p) AS cross3 FROM (
      |    SELECT x AS f, my * mz AS p FROM ctri
      |    UNION ALL SELECT y, mx * mz FROM ctri
      |    UNION ALL SELECT z, mx * my FROM ctri) c
      |  GROUP BY f),
      |cstat AS (
      |  SELECT c.cid, c.hi, c.lo, c.m,
      |    (c.m - 1) + coalesce(nb.s, 0) AS deg,
      |    (c.m - 1) * (c.m - 2) // 2
      |      + (c.m - 1) * coalesce(nb.s, 0)
      |      + coalesce(nb.pairsum, 0)
      |      + coalesce(t4.cross3, 0) AS ntri
      |  FROM cls c
      |  LEFT JOIN nb ON nb.f = c.cid
      |  LEFT JOIN t4 ON t4.f = c.cid)""".stripMargin

  /** Connected components for the oracle, O(log n) rounds instead of
    * the recursive `walk` CTE (which materializes every (node,
    * reachable-label) pair — Σ component² rows, the exact blowup that
    * timed the sf1 rung out). Hook + shortcut, unrolled: per round,
    * every node takes the min label over itself and its neighbors
    * (hook), then jumps to its label's label (shortcut) — pointer
    * chains at least halve per round, so 16 rounds converge for any
    * component whose min-label chain fits 2^16 hops (measured: 7
    * rounds at the 10x rung's 519 clusters). At the fixpoint labels
    * are constant per component and equal its min doc_id — the same
    * cluster_id ConnectedComponents produces; a non-converged run
    * would hash-mismatch, never silently pass. Expects an `edges`
    * CTE (both directions); emits `comp(id, cluster_id)`. */
  private val ccCompCtes: String = {
    val rounds = (1 to 16).map { k =>
      s"""h$k AS (
         |  SELECT e.v AS v, min(p.p) AS np
         |  FROM edges e JOIN p${k - 1} p ON e.u = p.v GROUP BY e.v),
         |m$k AS MATERIALIZED (
         |  SELECT p.v, least(p.p, coalesce(h$k.np, p.p)) AS p
         |  FROM p${k - 1} p LEFT JOIN h$k ON p.v = h$k.v),
         |p$k AS MATERIALIZED (
         |  SELECT a.v, least(a.p, b.p) AS p
         |  FROM m$k a JOIN m$k b ON a.p = b.v)""".stripMargin
    }.mkString(",\n")
    s"""p0 AS MATERIALIZED (
       |  SELECT u AS v, least(u, min(v)) AS p FROM edges GROUP BY u),
       |$rounds,
       |comp AS MATERIALIZED (
       |  SELECT v AS id, p AS cluster_id FROM p16)""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // exact dedup: keep the lowest doc_id per identical text
    Q("q_dedup_exact",
      (s, d) => Tables.load(s, d, "documents")
        .groupBy(md5(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select("keep_id", "n_copies")
        .orderBy("keep_id"),
      Some("""SELECT CAST(min(doc_id) AS BIGINT) AS keep_id,
             |count(*) AS n_copies
             |FROM documents GROUP BY md5(text)
             |ORDER BY keep_id""".stripMargin)),

    // LATEST-ROW-PER-KEY dedup — the CDC log-to-snapshot compaction
    // every upsert pipeline runs ("keep each key's newest record"):
    // one pass through the custom TopKPerGroupExec at k = 1 (bounded
    // single-slot heaps per key, no partition sort — at 100 TB this
    // is one key-shuffle and O(1) state per key, vs the window
    // form's full partition sort), deterministic under ties by the
    // unique event_id.
    Q("q_dedup_latest",
      (s, d) => graft.plans.TopKPerGroup.topKPerGroup(
          Tables.load(s, d, "events"),
          Seq(col("user_id"), col("event_type")),
          Seq(desc("ts"), desc("event_id")), 1)
        .select("user_id", "event_type", "event_id", "value")
        .orderBy("user_id", "event_type"),
      Some("""SELECT user_id, event_type, event_id, value FROM (
             |  SELECT user_id, event_type, event_id, value,
             |    row_number() OVER (PARTITION BY user_id, event_type
             |      ORDER BY ts DESC, event_id DESC) AS rn
             |  FROM events) t
             |WHERE rn = 1
             |ORDER BY user_id, event_type""".stripMargin)),

    // MinHash(8 hashes, 4 bands of 2) + LSH bucket join + exact Jaccard
    // verify at >= 0.3 — integer cross-multiplication avoids any float.
    //
    // Shingle construction is map-side (shingles() = zip_with over
    // aligned slices — arrays are HOF ARGUMENTS, so split runs once
    // per row; the per-element re-inline trap only bites lambdas that
    // REFERENCE an aliased array inside their body). Everything after
    // stays ROW-BASED: rows of (doc_id, shingle) keep every md5
    // single-pass and are the shape that scales — shuffles on uniform
    // keys, partial aggregation everywhere, no wide arrays crossing
    // joins.
    Q("q_dedup_minhash_lsh",
      (s, d) => {
        // distinct 3-token shingles as rows, built MAP-SIDE via
        // shingles() (zip_with slices since round 16 — the split runs
        // once per row, not per element, so the old window-lead
        // shuffle-by-doc_id is gone)
        val shRows = Tables.spread(Tables.load(s, d, "documents"))
          .select(col("doc_id"),
            explode(shingles(tokens(col("text")), 3)).as("sh"))
          .distinct()
          // materialize the shingle table ONCE: it feeds three
          // consumers (signature, verify-a, verify-b); without this the
          // per-doc sort+window+distinct above the shuffle re-runs per
          // consumer (only the exchange is reused). At 100 TB this is
          // "write shingles to a temp table" — here the in-memory
          // equivalent.
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // signature: md5 once per shingle row, 8 slice-mins per doc
        val sig = shRows
          .withColumn("h", md5(col("sh")))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n"),
            (0 until 8).map(j =>
              min(col("h").substr(j * 4 + 1, 4)).as(s"m$j")): _*)
        val bands = sig.select(col("doc_id"), col("n"),
          explode(array((0 until 4).map(j =>
            concat(col(s"m${2 * j}"), col(s"m${2 * j + 1}"))): _*)).as("band"))
        val a = bands.select(col("doc_id").as("a_id"), col("n").as("a_n"),
          col("band").as("a_band"))
        val b = bands.select(col("doc_id").as("b_id"), col("n").as("b_n"),
          col("band").as("b_band"))
        val cand = a.join(b, col("a_band") === col("b_band") &&
            col("a_id") < col("b_id") &&
            // size prefilter: jaccard >= 0.3 bounds the size ratio
            col("a_n") * 10 >= col("b_n") * 3 &&
            col("b_n") * 10 >= col("a_n") * 3)
          .select("a_id", "b_id", "a_n", "b_n").distinct()
        // exact-Jaccard verify as a sparse join: shared-shingle counts
        val sa = shRows.select(col("doc_id").as("a_id"), col("sh"))
        val sb = shRows.select(col("doc_id").as("b_id"), col("sh"))
        cand.join(sa, "a_id")
          .join(sb, Seq("b_id", "sh"))
          .groupBy("a_id", "b_id", "a_n", "b_n")
          .agg(count(lit(1)).as("inter"))
          .withColumn("uni", col("a_n") + col("b_n") - col("inter"))
          .filter(col("inter") * 10 >= col("uni") * 3)
          .select("a_id", "b_id", "inter", "uni")
          .orderBy("a_id", "b_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |sh AS (
             |  SELECT doc_id, list_distinct(list_transform(
             |    range(1, greatest(len(tk) - 1, 1)),
             |    i -> array_to_string(tk[i:i+2], ' '))) AS sh
             |  FROM toks WHERE len(tk) >= 3),
             |mh AS (
             |  SELECT doc_id, sh, list_transform(range(0, 8), k ->
             |    list_aggregate(list_transform(
             |      list_transform(sh, s -> md5(s)),
             |      m -> substr(m, CAST(k * 4 + 1 AS INT), 4)), 'min')
             |  ) AS sig FROM sh),
             |bands AS (
             |  SELECT doc_id, sh,
             |    unnest(list_transform(range(0, 4),
             |      j -> sig[2*j+1] || sig[2*j+2])) AS band
             |  FROM mh),
             |cand AS (
             |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
             |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
             |    CAST(len(a.sh) + len(b.sh) AS BIGINT) AS sz
             |  FROM bands a JOIN bands b
             |    ON a.band = b.band AND a.doc_id < b.doc_id
             |    AND len(a.sh) * 10 >= len(b.sh) * 3
             |    AND len(b.sh) * 10 >= len(a.sh) * 3)
             |SELECT a_id, b_id, inter, sz - inter AS uni FROM cand
             |WHERE inter * 10 >= (sz - inter) * 3
             |ORDER BY a_id, b_id""".stripMargin)),

    // 16-bit SimHash per doc + bucket sizes (hamming-0 near-dup groups).
    // Row-based: one md5 per distinct token (an array-HOF form per doc
    // would recompute tokenization and md5 for each of the 16 bits),
    // then 16 conditional-count aggregates vote the bits.
    Q("q_dedup_simhash",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val toks = Tables.load(s, d, "documents")
          .select(col("doc_id"), explode(tokenSet(col("text"))).as("tok"))
          .withColumn("h", md5(col("tok")))
        val perDoc = toks.groupBy("doc_id")
          .agg(count(lit(1)).as("n"),
            (0 until 16).map(k =>
              sum(when(col("h").substr(k + 1, 1) >= "8", 1L).otherwise(0L))
                .as(s"c$k")): _*)
        val simhash = (0 until 16).map(k =>
          when(col(s"c$k") * 2 >= col("n"), lit(1L << k)).otherwise(lit(0L)))
          .reduce(_ + _)
        perDoc.select(col("doc_id"), simhash.as("simhash"))
          .withColumn("bucket_size",
            count(lit(1)).over(Window.partitionBy("simhash")))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, simhash,
             |count(*) OVER (PARTITION BY simhash) AS bucket_size FROM (
             |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 16), k ->
             |    CASE WHEN 2 * len(list_filter(tk,
             |        t -> substr(md5(t), CAST(k + 1 AS INT), 1) >= '8'))
             |      >= len(tk)
             |    THEN (CAST(1 AS BIGINT) << k) ELSE 0 END)) AS BIGINT) AS simhash
             |  FROM (SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk
             |        FROM documents) d) t
             |ORDER BY doc_id""".stripMargin)),

    // production-width SimHash: 64-bit fingerprint (4 bits per md5
    // nibble, majority vote per bit over the doc's distinct tokens),
    // kept as two 32-bit halves (hi, lo) so every value stays positive
    // in BIGINT on both engines. Near-dup pairs at hamming <= 3 are
    // found by block probing (Manku et al., WWW'07 §3): split 64 bits
    // into b blocks; <= 3 flipped bits touch <= 3 blocks, so the pair
    // agrees exactly on some (b-3)-block subset — candidates come from
    // C(b,3) subset-keyed equi-joins (uniform keys, no sort), then the
    // exact hamming verify runs on candidate pairs only. b is a
    // FUNCTION OF CORPUS SIZE (SimhashBanding.choose: b=4/16-bit keys
    // here, b=7/~36-bit keys at N=10⁹) so the false-candidate volume
    // of the banded self-join stays O(N) at any scale; every width is
    // lossless at this radius, so the result set never depends on it.
    // The DuckDB oracle does the all-pairs compare instead
    // (oracle-side cost only) — identical result set.
    // fingerprint via the custom SimHash64Agg TypedImperativeAggregate:
    // one long[65] vote buffer updated in a tight loop instead of the
    // 65-buffer unrolled HashAggregate (same voting rule bit-for-bit —
    // the oracle SQL still spells out the expression form; see
    // SimHash64AggSpec for the equivalence test).
    Q("q_dedup_simhash64",
      (s, d) => simhash64Pairs(s, d).orderBy("a_id", "b_id"),
      Some(s"""WITH $simhash64FpCte,
             |$bandedPairsCte
             |SELECT a_id, b_id, hamming FROM pairs
             |ORDER BY a_id, b_id""".stripMargin)),

    // duplicate CLUSTERING: near-dup pairs are only half a dedup
    // pipeline — transitive grouping picks ONE canonical doc per
    // duplicate cluster. Spark side: large-star/small-star connected
    // components over the simhash64 pair edges
    // (graft.dedup.ConnectedComponents; O(log n) rounds, lineage cut
    // per round; cluster table computed once per run and shared with
    // q_dedup_keep_one). Oracle side: the same fixpoint via a DuckDB
    // recursive CTE. cluster_id = the smallest doc_id of the component
    // = the doc a keep-one dedup retains.
    Q("q_dedup_cluster",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val comp = simhash64Clusters(s, d)
        comp.select(col("id").as("doc_id"), col("cluster_id"))
          .withColumn("cluster_size",
            count(lit(1)).over(Window.partitionBy("cluster_id")))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $simhash64FpCte,
             |$bandedPairsCte,
             |edges AS MATERIALIZED (
             |  SELECT a_id AS u, b_id AS v FROM pairs
             |  UNION SELECT b_id, a_id FROM pairs),
             |$ccCompCtes
             |SELECT id AS doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
             |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
             |FROM comp ORDER BY doc_id""".stripMargin)),

    // the END of the dedup pipeline: materialize the kept corpus.
    // Pairs -> clusters -> drop every non-canonical cluster member
    // (keep the smallest doc_id per component) -> per-source kept
    // counts and volume. The drop list is cluster-members-only (tiny),
    // so the corpus pass is one LEFT ANTI broadcast join — at 100 TB
    // the dedup "write" is a map-side filter, never a corpus shuffle.
    Q("q_dedup_keep_one",
      (s, d) => {
        val comp = simhash64Clusters(s, d)
        val drop = comp.filter(col("id") =!= col("cluster_id"))
          .select(col("id").as("doc_id"))
        graft.Tables.load(s, d, "documents")
          .join(broadcast(drop), Seq("doc_id"), "left_anti")
          .groupBy("source")
          .agg(count(lit(1)).as("kept_docs"),
            sum(col("n_chars")).as("kept_chars"))
          .orderBy("source")
      },
      Some(s"""WITH RECURSIVE $simhash64FpCte,
             |$bandedPairsCte,
             |edges AS MATERIALIZED (
             |  SELECT a_id AS u, b_id AS v FROM pairs
             |  UNION SELECT b_id, a_id FROM pairs),
             |$ccCompCtes,
             |dropped AS (SELECT id FROM comp WHERE id <> cluster_id)
             |SELECT source, count(*) AS kept_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS kept_chars
             |FROM documents WHERE doc_id NOT IN (SELECT id FROM dropped)
             |GROUP BY source ORDER BY source""".stripMargin)),

    // cross-source contamination matrix: how many near-duplicate pairs
    // link each (source, source) combination — the audit that tells you
    // which dumps copy from each other before you weight them in a
    // training mix. Near-dup pairs (simhash64, hamming <= 3) are
    // annotated with both documents' sources via two joins against the
    // slim (doc_id, source) projection, then counted per unordered
    // source pair. The pair set is candidates-only (banded LSH), so the
    // matrix costs two hash joins on doc_id over a pair list that is
    // tiny relative to the corpus.
    Q("q_dedup_source_matrix",
      (s, d) => {
        val src = graft.Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"))
        simhash64Pairs(s, d)
          .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")), "a_id")
          .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")), "b_id")
          .select(least(col("sa"), col("sb")).as("src_a"),
            greatest(col("sa"), col("sb")).as("src_b"))
          .groupBy("src_a", "src_b")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("src_a", "src_b")
      },
      Some(s"""WITH $simhash64FpCte,
             |$bandedPairsCte,
             |s AS (SELECT doc_id, source FROM documents)
             |SELECT least(sa.source, sb.source) AS src_a,
             |  greatest(sa.source, sb.source) AS src_b,
             |  count(*) AS n_pairs
             |FROM pairs p
             |JOIN s sa ON p.a_id = sa.doc_id
             |JOIN s sb ON p.b_id = sb.doc_id
             |GROUP BY src_a, src_b
             |ORDER BY src_a, src_b""".stripMargin)),

    // CROSS-LANGUAGE near-dup matrix — the lang-axis sibling of the
    // source matrix above, answering a different question: same-lang
    // pairs are ordinary duplication, but a hamming<=3 SimHash match
    // ACROSS languages means the "translation" is so token-identical
    // it is almost certainly boilerplate/templated markup shared
    // between language editions (or mislabeled lang metadata) — the
    // families a multilingual corpus must catch before per-language
    // quotas are computed. Adds the within/cross split so the
    // off-diagonal mass is one glance. Same cost shape: two uniform
    // hash joins of the persisted pair table against a (doc_id, lang)
    // projection.
    Q("q_dedup_lang_matrix",
      (s, d) => {
        val lg = graft.Tables.load(s, d, "documents")
          .select(col("doc_id"), col("lang"))
        simhash64Pairs(s, d)
          .join(lg.select(col("doc_id").as("a_id"),
            col("lang").as("la")), "a_id")
          .join(lg.select(col("doc_id").as("b_id"),
            col("lang").as("lb")), "b_id")
          .select(least(col("la"), col("lb")).as("lang_a"),
            greatest(col("la"), col("lb")).as("lang_b"))
          .groupBy("lang_a", "lang_b")
          .agg(count(lit(1)).as("n_pairs"),
            max((col("lang_a") =!= col("lang_b")).cast("int")
              .cast(LongType)).as("is_cross"))
          .orderBy("lang_a", "lang_b")
      },
      Some(s"""WITH $simhash64FpCte,
             |$bandedPairsCte,
             |l AS (SELECT doc_id, lang FROM documents)
             |SELECT least(la.lang, lb.lang) AS lang_a,
             |  greatest(la.lang, lb.lang) AS lang_b,
             |  count(*) AS n_pairs,
             |  CAST(max(CASE WHEN la.lang <> lb.lang THEN 1 ELSE 0 END)
             |    AS BIGINT) AS is_cross
             |FROM pairs p
             |JOIN l la ON p.a_id = la.doc_id
             |JOIN l lb ON p.b_id = lb.doc_id
             |GROUP BY lang_a, lang_b
             |ORDER BY lang_a, lang_b""".stripMargin)),

    // incremental ingest dedup: the daily-batch production pattern —
    // new documents (source != 'src0') are dropped when they near-dup
    // match the HISTORICAL corpus ('src0'), never each other (within-
    // batch dedup is its own earlier stage). Reads the same shared
    // pair table as the other five consumers; the incremental
    // restriction is a filter on the endpoints' sources, so at 100 TB
    // the daily job is: fingerprint the (small) new batch, band-join
    // it against the persisted historical fingerprint table — the
    // corpus-sized side is read, never recomputed — and anti-join the
    // matched ids away. Output: per-source admission stats.
    Q("q_dedup_incremental",
      (s, d) => {
        val src = graft.Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"))
        val e = simhash64Pairs(s, d)
          .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")),
            "a_id")
          .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")),
            "b_id")
        val dupNew = e
          .filter(col("sa") === "src0" && col("sb") =!= "src0")
          .select(col("b_id").as("doc_id"))
          .unionByName(e
            .filter(col("sb") === "src0" && col("sa") =!= "src0")
            .select(col("a_id").as("doc_id")))
          .distinct()
        val newDocs = src.filter(col("source") =!= "src0")
        val kept = newDocs.join(dupNew, Seq("doc_id"), "left_anti")
          .groupBy("source").agg(count(lit(1)).as("n_kept"))
        newDocs.groupBy("source").agg(count(lit(1)).as("n_new"))
          .join(kept, Seq("source"), "left")
          .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
          .withColumn("n_dropped", col("n_new") - col("n_kept"))
          .orderBy("source")
      },
      Some(s"""WITH $simhash64FpCte,
             |$bandedPairsCte,
             |s AS (SELECT doc_id, source FROM documents),
             |dup_new AS (
             |  SELECT DISTINCT doc_id FROM (
             |    SELECT sb.doc_id FROM pairs p
             |      JOIN s sa ON p.a_id = sa.doc_id
             |      JOIN s sb ON p.b_id = sb.doc_id
             |    WHERE sa.source = 'src0' AND sb.source <> 'src0'
             |    UNION ALL
             |    SELECT sa.doc_id FROM pairs p
             |      JOIN s sa ON p.a_id = sa.doc_id
             |      JOIN s sb ON p.b_id = sb.doc_id
             |    WHERE sb.source = 'src0' AND sa.source <> 'src0') u),
             |new_docs AS (SELECT doc_id, source FROM s WHERE source <> 'src0')
             |SELECT source, count(*) AS n_new,
             |  CAST(sum(CASE WHEN doc_id NOT IN (SELECT doc_id FROM dup_new)
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             |  CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM dup_new)
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
             |FROM new_docs GROUP BY source ORDER BY source""".stripMargin)),

    // n-gram (token-set) Jaccard near-dup, blocked by `source` so the
    // pairwise compare never goes quadratic in the corpus — the blocking
    // key is the unit of parallelism at scale
    Q("q_dedup_ngram_jaccard",
      (s, d) => {
        // Two stages, both sparse (no arrays cross any join):
        //
        // 1. CANDIDATES via prefix filtering (AllPairs/PPJoin): order
        //    each doc's tokens by (document frequency asc, token) and
        //    join only on each doc's first floor(n/20)+1 tokens. Exact
        //    for J >= 0.95: a qualifying pair shares >= ceil(0.95*n)
        //    tokens, so at most floor(n/20) of a doc's tokens are
        //    UNshared — among its floor(n/20)+1 prefix tokens at least
        //    one is shared, and the globally-first shared token sits in
        //    BOTH prefixes. Per-key join bound: a (source, token) key
        //    only joins docs whose prefix contains that token, i.e.
        //    ~df_prefix^2 rows with df_prefix << df — stopword-class
        //    tokens rank last in every doc's df order, fall out of all
        //    prefixes, and can no longer form an O(n^2) hot key.
        // 2. VERIFY candidates only: equi-join the full token rows on
        //    (pair, token) and count the intersection with a hash
        //    aggregate — same exact inter/uni arithmetic as before.
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.spread(Tables.load(s, d, "documents"))
          .select(col("doc_id"), col("source"), tokenSet(col("text")).as("tk"))
          .withColumn("n", size(col("tk")).cast(LongType))
        val t = docs.select(col("doc_id"), col("source"), col("n"),
          explode(col("tk")).as("token"))
          // materialized once — token rows feed four consumers (df
          // computation, prefix ranking, verify-a, verify-b); the
          // in-memory stand-in for "write the token table" at scale
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // pin the cache before the four consumers launch as concurrent
        // subtree jobs and race to rebuild it (the kmv/q_dedup_phash
        // fix — measured six overlapping ~0.5 s rebuild stages here)
        t.count()
        val df_ = t.groupBy("source", "token").agg(count(lit(1)).as("df"))
        // prefix ranking stays a window sort: a bounded-heap
        // TopKPerGroup pre-reduction was tried (kMax = largest prefix
        // any doc needs) and MEASURED SLOWER at sf0.1 (2.6-3.5 s vs
        // 2.4-2.9 s) — the per-doc sort is not the bottleneck and the
        // heap's per-row overhead outweighs it at these widths.
        val byRarity = Window.partitionBy("doc_id").orderBy("df", "token")
        val prefix = t.join(df_, Seq("source", "token"))
          .withColumn("rn", row_number().over(byRarity))
          .filter(col("rn") <= floor(col("n") / 20.0) + 1)
        val pa = prefix.select(col("source").as("a_src"),
          col("token").as("a_tok"), col("doc_id").as("a_id"),
          col("n").as("a_n"))
        val pb = prefix.select(col("source").as("b_src"),
          col("token").as("b_tok"), col("doc_id").as("b_id"),
          col("n").as("b_n"))
        val cand = pa.join(pb, col("a_src") === col("b_src") &&
            col("a_tok") === col("b_tok") &&
            col("a_id") < col("b_id") &&
            // size prefilter: jaccard >= 0.95 needs near-equal set sizes
            col("a_n") * 100 >= col("b_n") * 95 &&
            col("b_n") * 100 >= col("a_n") * 95)
          .select("a_id", "b_id", "a_n", "b_n").distinct()
        val sa = t.select(col("doc_id").as("a_id"), col("token"))
        val sb = t.select(col("doc_id").as("b_id"), col("token"))
        cand.join(sa, "a_id")
          .join(sb, Seq("b_id", "token"))
          .groupBy("a_id", "b_id", "a_n", "b_n")
          .agg(count(lit(1)).as("inter"))
          .withColumn("uni", col("a_n") + col("b_n") - col("inter"))
          .filter(col("inter") * 100 >= col("uni") * 95)
          .select("a_id", "b_id", "inter", "uni")
          .orderBy("a_id", "b_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, source,
             |    list_distinct(string_split(text, ' ')) AS tk FROM documents)
             |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |  CAST(len(list_intersect(a.tk, b.tk)) AS BIGINT) AS inter,
             |  CAST(len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk)) AS BIGINT) AS uni
             |FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
             |  AND len(a.tk) * 100 >= len(b.tk) * 95
             |  AND len(b.tk) * 100 >= len(a.tk) * 95
             |WHERE len(list_intersect(a.tk, b.tk)) * 100 >=
             |  (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))) * 95
             |ORDER BY a_id, b_id""".stripMargin)),

    // SPARSE TF-COSINE similarity join — the WEIGHTED complement of the
    // set-based n-gram Jaccard above: documents as sparse term-
    // frequency vectors over df-capped TRIGRAM shingles. Unigrams are
    // useless on this corpus (31-token vocabulary — every token is a
    // stopword); 3-gram shingles give the feature space its
    // discriminative tail, exactly why the simhash/minhash fingerprints
    // shingle too. The df cap (<= 50 docs) prunes cross-family
    // boilerplate BY DEFINITION — standard rare-feature weighting, and
    // the thing that bounds the join: a fixed ABSOLUTE cap keeps every
    // per-gram candidate block <= 50 docs (<= 2,500 join rows) no
    // matter how the corpus grows — a relative cap (N/10) would send
    // per-gram fan-out quadratic again, the same knob-shaped scale
    // trap as the fixed simhash band width. Measured at sf0.01/sf0.1:
    // identical pair sets under cap 50 and cap N/10, cosine sharply
    // bimodal (near-dups >= 0.9, background <= 0.2), so the 0.8
    // threshold sits in the empty gap. This is the DAAT/postings
    // formulation of document similarity: dot products accumulate via
    // an equi-join on gram (never all-pairs, never a dense vector),
    // squared norms are one per-doc aggregate over the same kept rows
    // (materialized once for their three consumers — at 100 TB: write
    // the pruned postings table, aggregate it, self-join it), and
    // cos >= 4/5 is verified in exact integer arithmetic by
    // cross-multiplication: dot^2 * 25 >= 16 * |a|^2 * |b|^2 (dot is
    // nonnegative, tf weights are counts; magnitudes stay far under
    // 2^63). No division, no sqrt, hash-exact across engines.
    Q("q_dedup_sparse_cosine",
      (s, d) => {
        val tf = trigramTf(s, d)
        // ONE shuffle by gram collapses the postings into per-gram
        // blocks; the df cap is a size filter on the block, and the
        // C(df,2) candidate pairs are generated MAP-SIDE from the
        // ≤50-entry list (bounded per-row memory at ANY corpus size —
        // the cap that already bounded the old self-join's blocks).
        // This replaces the old df-aggregate + join-back + persisted
        // postings SELF-join (3 corpus-sized exchanges + 4 cache scans
        // + per-subtree broadcast builds, 2.7 s isolated at sf0.1)
        // with: aggregate once, explode pairs, aggregate pairs.
        // the explicit gram-hash repartition re-expands what AQE's
        // byte-based coalescing folded to ~2 partitions, so the
        // C(df,2) explode below fans out at cores-level parallelism
        // (AQE cannot see generator fan-out). Placed AFTER the
        // aggregate: pre-partitioning the input instead was measured
        // 4x SLOWER here — it disables the partial aggregate and the
        // concurrent broadcast-subtree jobs then race to rebuild the
        // 32-partition cache.
        val blocks = tf.groupBy("g")
          .agg(collect_list(struct(col("doc_id"), col("tf"))).as("ps"))
          .filter(size(col("ps")) <= 50)
          .repartition(s.sparkContext.defaultParallelism, col("g"))
          // two consumers (pair explode + norms) — the in-memory
          // stand-in for "write the pruned postings table" at scale
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // all i<j index pairs of the block, normalized so a_id < b_id
        // (collect_list order is nondeterministic; doc_ids within a
        // gram are unique, so the normalized pair set is deterministic)
        val pairCombs = expr(
          """flatten(transform(ps, (x, i) ->
            |  transform(slice(ps, i + 2, size(ps) - i - 1), y ->
            |    if(x.doc_id < y.doc_id,
            |       named_struct('a', x, 'b', y),
            |       named_struct('a', y, 'b', x)))))""".stripMargin)
        val norms = blocks.select(explode(col("ps")).as("e"))
          .select(col("e.doc_id").as("doc_id"),
            (col("e.tf") * col("e.tf")).as("sq"))
          .groupBy("doc_id").agg(sum(col("sq")).as("n2"))
        val dots = blocks.select(explode(pairCombs).as("p"))
          .select(col("p.a.doc_id").as("a_id"), col("p.b.doc_id").as("b_id"),
            (col("p.a.tf") * col("p.b.tf")).as("prod"))
          .groupBy("a_id", "b_id").agg(sum(col("prod")).as("dot"))
        dots
          .join(norms.select(col("doc_id").as("a_id"), col("n2").as("na2")),
            "a_id")
          .join(norms.select(col("doc_id").as("b_id"), col("n2").as("nb2")),
            "b_id")
          .filter(col("dot") * col("dot") * 25 >= col("na2") * col("nb2") * 16)
          .select("a_id", "b_id", "dot", "na2", "nb2")
          .orderBy("a_id", "b_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |tf AS (
             |  SELECT doc_id, g, count(*) AS tf FROM (
             |    SELECT doc_id,
             |      unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
             |        i -> array_to_string(tk[i:i+2], ' '))) AS g
             |    FROM toks WHERE len(tk) >= 3) x
             |  GROUP BY doc_id, g),
             |kept AS (
             |  SELECT tf.* FROM tf JOIN (
             |    SELECT g FROM tf GROUP BY g
             |    HAVING count(*) <= 50) r USING (g)),
             |norms AS (
             |  SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2
             |  FROM kept GROUP BY doc_id),
             |dots AS (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |    CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
             |  FROM kept a JOIN kept b
             |    ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT a_id, b_id, dot, na.n2 AS na2, nb.n2 AS nb2
             |FROM dots
             |JOIN norms na ON a_id = na.doc_id
             |JOIN norms nb ON b_id = nb.doc_id
             |WHERE dot * dot * 25 >= 16 * na.n2 * nb.n2
             |ORDER BY a_id, b_id""".stripMargin)),

    // ASYMMETRIC set containment C(A→B) = |A∩B| / |A| over distinct
    // trigram shingles — the subset-duplicate detector the symmetric
    // families (Jaccard/cosine) structurally miss: a short doc pasted
    // verbatim inside a much longer one scores near-zero Jaccard
    // (union is dominated by the long doc) but containment ~1. Output
    // is DIRECTED: (a_id, b_id) at C(A→B) >= 0.8, so a row says "a is
    // mostly inside b" and the reverse direction is its own row iff it
    // independently clears the threshold.
    //
    // Plan: distinct trigrams per doc (set semantics — one tokenize,
    // window leads, no HOF re-tokenization), df <= 50 postings cap
    // bounding every per-gram join block to 2,500 rows at ANY corpus
    // size (the same fixed ABSOLUTE cap q_dedup_sparse_cosine
    // documents — a boilerplate gram shared by everything can't pair
    // the corpus quadratically), intersection counts from one postings
    // self-join, threshold division-free by cross-multiplication
    // (5·inter >= 4·|A|). Both directions come from the SAME ordered
    // join output (a<b evaluated once, each direction tested on its
    // own side's size) — no doubled join.
    Q("q_dedup_containment",
      (s, d) => {
        // tf rows ARE the distinct (doc, gram) pairs — shared table
        val sets = trigramTf(s, d).select("doc_id", "g")
        val sizes = sets.groupBy("doc_id").agg(count(lit(1)).as("n"))
        // same per-gram-block shape as q_dedup_sparse_cosine: one
        // shuffle collapses postings to ≤50-id blocks (the df cap),
        // the C(df,2) co-occurrence pairs explode MAP-SIDE from the
        // bounded list — no df join-back, no postings self-join
        val blocks = sets.groupBy("g")
          .agg(collect_list(col("doc_id")).as("ds"))
          .filter(size(col("ds")) <= 50)
          // re-expand AQE's byte-based coalescing before the pair
          // explode (see q_dedup_sparse_cosine's note)
          .repartition(s.sparkContext.defaultParallelism, col("g"))
        val pairCombs = expr(
          """flatten(transform(ds, (x, i) ->
            |  transform(slice(ds, i + 2, size(ds) - i - 1), y ->
            |    named_struct('a', least(x, y), 'b', greatest(x, y)))))"""
            .stripMargin)
        val inter = blocks.select(explode(pairCombs).as("p"))
          .select(col("p.a").as("a_id"), col("p.b").as("b_id"))
          .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
          .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
          .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
        inter.filter(col("inter") * 5 >= col("na") * 4)
          .select(col("a_id").as("src_id"), col("b_id").as("dst_id"),
            col("inter"), col("na").as("n_src"))
          .union(inter.filter(col("inter") * 5 >= col("nb") * 4)
            .select(col("b_id").as("src_id"), col("a_id").as("dst_id"),
              col("inter"), col("nb").as("n_src")))
          .orderBy("src_id", "dst_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |sets AS (
             |  SELECT DISTINCT doc_id, g FROM (
             |    SELECT doc_id,
             |      unnest(list_transform(range(1, greatest(len(tk) - 1, 1)),
             |        i -> array_to_string(tk[i:i+2], ' '))) AS g
             |    FROM toks WHERE len(tk) >= 3) x),
             |sizes AS (
             |  SELECT doc_id, count(*) AS n FROM sets GROUP BY doc_id),
             |kept AS (
             |  SELECT s.* FROM sets s JOIN (
             |    SELECT g FROM sets GROUP BY g
             |    HAVING count(*) <= 50) r USING (g)),
             |inter AS (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |    CAST(count(*) AS BIGINT) AS inter
             |  FROM kept a JOIN kept b
             |    ON a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |sized AS (
             |  SELECT i.a_id, i.b_id, i.inter, sa.n AS na, sb.n AS nb
             |  FROM inter i
             |  JOIN sizes sa ON i.a_id = sa.doc_id
             |  JOIN sizes sb ON i.b_id = sb.doc_id)
             |SELECT a_id AS src_id, b_id AS dst_id, inter, na AS n_src
             |FROM sized WHERE inter * 5 >= na * 4
             |UNION ALL
             |SELECT b_id, a_id, inter, nb
             |FROM sized WHERE inter * 5 >= nb * 4
             |ORDER BY src_id, dst_id""".stripMargin)),

    // EXACT SPAN dedup (the Lee et al., "Deduplicating Training Data
    // Makes Language Models Better" family): near-dup operators above
    // match whole documents; this one finds VERBATIM REPEATED SPANS —
    // every 8-token n-gram position whose n-gram occurs >= 2 times
    // anywhere in the corpus (cross-doc boilerplate or in-doc loops),
    // reported as per-doc (n_grams, n_dup) so a cleaning pass can trim
    // or drop high-duplication docs. The suffix-array formulation of
    // the paper is inherently sequential; fixed-width n-gram positions
    // are its distributed-friendly standard approximation.
    //
    // Plan: posexplode token rows -> 7 window leads build each 8-gram
    // in place (one split per doc; no array lambdas, so nothing
    // re-tokenizes per element) -> md5 the gram -> (1) count occurrences
    // per hash (uniform 128-bit keys, map-side partial agg), (2) join
    // positions back on the same hash — the join reuses the aggregate's
    // exchange — (3) per-doc count. Gram rows are materialized once for
    // their two consumers: at 100 TB this is "write the fingerprint
    // table, aggregate it, join it", never an all-pairs compare, and
    // never a driver-side structure.
    Q("q_dedup_spans",
      (s, d) => {
        // 8-grams built MAP-SIDE from the token array (shingles() is
        // zip_with over aligned slices since round 16) — the previous
        // posexplode + 7 window leads shuffled the exploded corpus by
        // doc_id just to reassemble adjacent tokens; same gram strings,
        // zero shuffles before the df aggregate
        val grams = Tables.spread(Tables.load(s, d, "documents"))
          .select(col("doc_id"),
            explode(shingles(tokens(col("text")), 8)).as("g"))
          .select(col("doc_id"), md5(col("g")).as("gh"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val df_ = grams.groupBy("gh").agg(count(lit(1)).as("c"))
        grams.join(df_, "gh")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("c") >= 2, 1L).otherwise(0L)).as("n_dup"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |grams AS (
             |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(tk) - 6, 1)),
             |    i -> md5(array_to_string(tk[i:i+7], ' ')))) AS gh
             |  FROM toks WHERE len(tk) >= 8),
             |df AS (SELECT gh, count(*) AS c FROM grams GROUP BY gh)
             |SELECT g.doc_id, count(*) AS n_grams,
             |  CAST(sum(CASE WHEN df.c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
             |FROM grams g JOIN df ON g.gh = df.gh
             |GROUP BY g.doc_id ORDER BY doc_id""".stripMargin)),

    // SPAN SCRUB — the CLEANING pass q_dedup_spans only diagnoses:
    // rewrite every document with the tokens covered by any corpus-
    // duplicated 8-gram removed (Lee et al. apply exactly this edit
    // after finding duplicated substrings). A token at position t is
    // dropped iff some duplicated gram starts in [t-7, t]; the rebuilt
    // text is the kept tokens in original order, so the output is the
    // actual cleaned corpus, not a report.
    //
    // Plan: one tokenize (positions kept), gram fingerprints with
    // their start positions, count per hash, duplicated starts explode
    // to their 8 covered positions (bounded 8x fan-out of a tiny dup
    // list), anti-membership via left join, and per-doc reconstruction
    // through collect_list(struct(pos, tok)) + array_sort — the sort
    // is per-document (bounded by doc length), never a corpus sort.
    // At 100 TB every stage shuffles on uniform keys (gram hash, doc
    // id) and nothing is ever all-pairs or driver-sized.
    Q("q_dedup_span_scrub",
      (s, d) => {
        val toks = Tables.spread(Tables.load(s, d, "documents"))
          .select(col("doc_id"),
            posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
        // gram start positions ride posexplode of the map-side shingle
        // array (same 0-based token positions the window-lead form
        // produced) — no per-doc window shuffle to build grams
        val grams = Tables.spread(Tables.load(s, d, "documents"))
          .select(col("doc_id"),
            posexplode(shingles(tokens(col("text")), 8)).as(Seq("pos", "g")))
          .select(col("doc_id"), col("pos"), md5(col("g")).as("gh"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // pin before the df aggregate and the join's gram side launch
        // as concurrent subtree jobs and race the cold cache (the
        // kmv/ngram fix)
        grams.count()
        val dupCnt = grams.groupBy("gh").agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2)
        val covered = grams.join(dupCnt, "gh")
          .select(col("doc_id").as("c_doc"),
            explode(sequence(col("pos"), col("pos") + 7)).as("cpos"))
          .distinct()
        toks.join(covered,
            col("doc_id") === col("c_doc") && col("pos") === col("cpos"),
            "left")
          .select(col("doc_id"), col("pos"), col("tok"),
            col("cpos").isNotNull.as("rm"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("rm"), 1L).otherwise(0L)).as("n_removed"),
            concat_ws(" ", transform(
              array_sort(collect_list(when(!col("rm"),
                struct(col("pos"), col("tok"))))),
              x => x.getField("tok"))).as("text_clean"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |tr AS (
             |  SELECT doc_id, unnest(range(1, len(tk) + 1)) AS pos,
             |    unnest(tk) AS tok FROM toks),
             |gr AS (
             |  SELECT doc_id,
             |    unnest(range(1, greatest(len(tk) - 6, 1))) AS gpos,
             |    unnest(list_transform(range(1, greatest(len(tk) - 6, 1)),
             |      i -> md5(array_to_string(tk[i:i+7], ' ')))) AS gh
             |  FROM toks WHERE len(tk) >= 8),
             |df AS (SELECT gh, count(*) AS c FROM gr GROUP BY gh),
             |cov AS (
             |  SELECT DISTINCT g.doc_id, g.gpos + o.o AS pos
             |  FROM gr g JOIN df ON g.gh = df.gh, range(0, 8) o(o)
             |  WHERE df.c >= 2)
             |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |  CAST(sum(CASE WHEN cov.pos IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_removed,
             |  coalesce(array_to_string(
             |    list(t.tok ORDER BY t.pos) FILTER (WHERE cov.pos IS NULL),
             |    ' '), '') AS text_clean
             |FROM tr t LEFT JOIN cov
             |  ON t.doc_id = cov.doc_id AND t.pos = cov.pos
             |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)),

    // PageRank centrality over the near-dup graph — the second
    // iterative graph operator (clustering above finds the GROUPS;
    // centrality ranks members WITHIN them, the principled way to pick
    // a cluster's canonical document instead of "smallest id"). Five
    // damped iterations of r(v) = base + 0.85 * Σ_{u~v} r(u)/deg(u)
    // over the symmetric simhash64 pair edges (every node has deg >= 1,
    // so there is no dangling mass to special-case).
    //
    // Cross-engine exactness for an iterative float algorithm: all
    // arithmetic is INTEGER — ranks live in units of 1e-12
    // (SCALE = 10^12), each contribution is one truncating division
    // (rank * 85) div (100 * deg), and sums of longs are exact — so
    // Spark and DuckDB (10 unrolled CTE layers, `//`) agree bit-for-bit
    // at every iteration; floor == truncation because everything is
    // positive. Plan per iteration: join ranks to edges on the source,
    // aggregate contributions by target, left-join back to nodes —
    // shuffles only on uniform node ids, lineage cut per round exactly
    // like ConnectedComponents; only the tiny node/degree frames and
    // the broadcast node count sit outside the loop.
    Q("q_pagerank",
      (s, d) => {
        val Scale = 1000000000000L // ranks in units of 1e-12
        val iters = 5
        // NOTE (round 16): this loop was rewritten (map-side edge
        // explode, degree pre-joined into a checkpointed edge table,
        // unrolled no-checkpoint lineage) and REVERTED in full: the
        // sf0.1 bench read ~1.0x and the sf0.1->sf1 rung regressed
        // from 11.3 s to 18.6-21 s (exponent 0.74 -> 0.94) — the
        // extra 2x-edge materializations cost more than the saved
        // per-iteration degree join at 10x. The r15 shape below is
        // the measured-best form.
        val e = simhash64Pairs(s, d)
        val edges = e.select(col("a_id").as("u"), col("b_id").as("v"))
          .union(e.select(col("b_id").as("u"), col("a_id").as("v")))
          .transform(Tables.cut)
        val deg = edges.groupBy("u").agg(count(lit(1)).as("deg"))
        val nCnt = deg.agg(count(lit(1)).as("n"))
        // every node with its constant teleport share, (0.15*SCALE)/n
        val nodes = deg.select(col("u").as("id"))
          .crossJoin(broadcast(nCnt))
          .select(col("id"),
            expr(s"($Scale * 15) div (100 * n)").as("base"))
          .transform(Tables.cut)
        var r = nodes.select(col("id"), col("base").as("rank"))
        for (_ <- 1 to iters) {
          val contribs = edges
            .join(r, edges("u") === r("id"))
            .join(deg, "u")
            .select(col("v"), expr("(rank * 85) div (100 * deg)").as("c"))
            .groupBy("v").agg(sum(col("c")).as("s"))
          r = nodes.join(contribs, nodes("id") === contribs("v"), "left")
            .select(col("id"),
              (col("base") + coalesce(col("s"), lit(0L))).as("rank"))
            .transform(Tables.cut)
        }
        r.select(col("id").as("doc_id"), col("rank").as("prank"))
          .orderBy("doc_id")
      },
      Some {
        val layers = (1 to 5).map { k =>
          s"""r$k AS (
             |  SELECT nd.id, nd.base + coalesce(c.s, 0) AS rank
             |  FROM nd LEFT JOIN (
             |    SELECT e.v AS id,
             |      CAST(sum((r.rank * 85) // (100 * dg.deg)) AS BIGINT) AS s
             |    FROM edges e
             |    JOIN r${k - 1} r ON e.u = r.id
             |    JOIN dg ON dg.u = e.u
             |    GROUP BY e.v) c ON nd.id = c.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH $simhash64FpCte,
           |$bandedPairsCte,
           |edges AS MATERIALIZED (
           |  SELECT a_id AS u, b_id AS v FROM pairs
           |  UNION ALL SELECT b_id, a_id FROM pairs),
           |dg AS MATERIALIZED (
           |  SELECT u, count(*) AS deg FROM edges GROUP BY u),
           |nd AS MATERIALIZED (
           |  SELECT u AS id,
           |    (CAST(1000000000000 AS BIGINT) * 15)
           |      // (100 * (SELECT count(*) FROM dg)) AS base
           |  FROM dg),
           |r0 AS (SELECT id, base AS rank FROM nd),
           |$layers
           |SELECT id AS doc_id, CAST(rank AS BIGINT) AS prank
           |FROM r5 ORDER BY doc_id""".stripMargin
      }),

    // LABEL-PROPAGATION community detection (Raghavan et al. 2007) —
    // the graph clustering that, unlike connected components, does
    // NOT merge everything reachable: each node repeatedly adopts the
    // label most common among its neighbors, so a thin accidental
    // bridge between two dense duplicate families stays two
    // communities where CC collapses them into one. Deterministic
    // SYNCHRONOUS variant: 3 fixed rounds, every node initialized to
    // its own id, vote ties broken toward the SMALLEST label — no RNG
    // and no visit-order dependence, which is what makes a layered
    // SQL oracle possible at all (classic async LPA is
    // partition-order-dependent and could never hash-gate). Scale
    // shape per round: join labels to edges on node id + one
    // (node, label) count aggregate + one argmax aggregate — all on
    // uniform id keys, lineage cut per round; state is one label per
    // node, nothing corpus-sized on the driver. Ninth consumer of the
    // shared pair materialization.
    Q("q_label_prop",
      (s, d) => labelPropCommunities(s, d)
        .select(col("doc_id"), col("community"))
        .orderBy("doc_id"),
      Some(s"""WITH $labelPropOracleCtes
           |SELECT doc_id, community FROM com ORDER BY doc_id""".stripMargin)),

    // EXACT MODULARITY — the quality grade of the label-propagation
    // partition above (Newman: Q = Σ_c [L_c/m − (D_c/2m)²], L_c =
    // intra-community edges, D_c = community degree mass, m = total
    // edges). Multiplying through by 4m² clears every fraction:
    // contrib_c = 4·m·L_c − D_c², so the per-community rows hash-gate
    // as exact integers (Q itself = Σ contrib / 4m² if a float is
    // wanted — deliberately left to the consumer). The training-data
    // use: a near-dup graph whose communities carry high modularity
    // has real cluster structure (template families); near-zero
    // modularity says the hamming threshold is admitting noise edges.
    // Scale shape: BOTH upstream stages come from persisted parquet
    // (pair table + community table, plan-gated); the new work is two
    // uniform-key equi-joins of the edge list against the KB-sized
    // assignment plus community-sized aggregates, and m enters as a
    // broadcast 1-row crossJoin (the q_tfidf singleton shape).
    Q("q_modularity",
      (s, d) => {
        val e = simhash64Pairs(s, d).select("a_id", "b_id")
        val com = labelPropCommunities(s, d)
        val m = broadcast(e.agg(count(lit(1)).as("m")))
        val lab = e
          .join(com.select(col("doc_id").as("a_id"),
            col("community").as("ca")), "a_id")
          .join(com.select(col("doc_id").as("b_id"),
            col("community").as("cb")), "b_id")
        val intra = lab.filter(col("ca") === col("cb"))
          .groupBy(col("ca").as("community"))
          .agg(count(lit(1)).as("l_c"))
        val deg = e.select(col("a_id").as("id"))
          .union(e.select(col("b_id").as("id")))
          .groupBy("id").agg(count(lit(1)).as("deg"))
        val dsum = com.join(deg, com("doc_id") === deg("id"))
          .groupBy("community")
          .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("d_c"))
        dsum.join(intra, Seq("community"), "left")
          .withColumn("l_c", coalesce(col("l_c"), lit(0L)))
          .crossJoin(m)
          .withColumn("contrib", expr("4 * m * l_c - d_c * d_c"))
          .select("community", "n_nodes", "l_c", "d_c", "contrib")
          .orderBy("community")
      },
      Some(s"""WITH $labelPropOracleCtes,
           |m AS (SELECT count(*) AS m FROM pairs),
           |intra AS (
           |  SELECT ca.community, count(*) AS l_c
           |  FROM pairs p
           |    JOIN com ca ON p.a_id = ca.doc_id
           |    JOIN com cb ON p.b_id = cb.doc_id
           |  WHERE ca.community = cb.community
           |  GROUP BY ca.community),
           |deg AS (
           |  SELECT id, count(*) AS deg FROM (
           |    SELECT a_id AS id FROM pairs
           |    UNION ALL SELECT b_id FROM pairs) u
           |  GROUP BY id),
           |ds AS (
           |  SELECT c.community, count(*) AS n_nodes,
           |    CAST(sum(d.deg) AS BIGINT) AS d_c
           |  FROM com c JOIN deg d ON c.doc_id = d.id
           |  GROUP BY c.community)
           |SELECT ds.community, ds.n_nodes,
           |  CAST(coalesce(i.l_c, 0) AS BIGINT) AS l_c, ds.d_c,
           |  CAST(4 * m.m * coalesce(i.l_c, 0) - ds.d_c * ds.d_c AS BIGINT)
           |    AS contrib
           |FROM ds LEFT JOIN intra i USING (community) CROSS JOIN m
           |ORDER BY community""".stripMargin)),

    // DEGREE ASSORTATIVITY (Newman 2002) of the near-dup graph — does
    // heavy duplication attach to heavy duplication? Positive r means
    // template families interlink (one family hub explains many
    // pairs); negative means hub-and-spoke boilerplate. The Pearson
    // correlation over edge-endpoint degrees is cleared of every
    // fraction: with S1 = Σ(da+db), Sab = Σ(da·db), S2 = Σ(da²+db²)
    // over the m undirected edges,
    //   num = 4·m·Sab − S1²,  den = 2·m·S2 − S1²,  r = num/den
    // — num and den are EXACT integers (hash-gated); r is one final
    // IEEE division (the house convention). num/den are computed in
    // decimal128(38,0) (HUGEINT on the oracle side): S1 ≤ 2·m·maxdeg
    // is ~1e10 already at the sf1 rung (4.45M pairs, maxdeg 1548), so
    // S1² ~1e20 overflows int64 — caught by the sf1 oracle rung, and
    // exactly the kind of bound that first binds one decade up. The
    // gated row carries them as STRINGS: DuckDB's HUGEINT→Arrow
    // export is version-dependent (decimal128 on some releases,
    // float64 on others), so a typed compare of the raw 128-bit
    // column is not portable — the decimal rendering of an integer
    // is (r14 driver red vs local green on this exact row).
    // Scale shape: a degree aggregate over the persisted pair table,
    // two uniform joins to decorate the edges, one scalar aggregate —
    // nothing beyond the KB-sized pair list anywhere.
    Q("q_assortativity",
      (s, d) => {
        val e = simhash64Pairs(s, d).select("a_id", "b_id")
        val deg = e.select(col("a_id").as("id"))
          .union(e.select(col("b_id").as("id")))
          .groupBy("id").agg(count(lit(1)).as("deg"))
        e.join(deg.select(col("id").as("a_id"), col("deg").as("da")),
            "a_id")
          .join(deg.select(col("id").as("b_id"), col("deg").as("db")),
            "b_id")
          .agg(count(lit(1)).as("m"),
            sum(col("da") + col("db")).as("s1"),
            sum(col("da") * col("db")).as("sab"),
            sum(col("da") * col("da") + col("db") * col("db")).as("s2"))
          .withColumn("num", expr(
            "4 * CAST(m AS DECIMAL(38,0)) * sab" +
              " - CAST(s1 AS DECIMAL(38,0)) * s1"))
          .withColumn("den", expr(
            "2 * CAST(m AS DECIMAL(38,0)) * s2" +
              " - CAST(s1 AS DECIMAL(38,0)) * s1"))
          .withColumn("r", col("num").cast(DoubleType) /
            col("den").cast(DoubleType))
          .withColumn("num", col("num").cast(StringType))
          .withColumn("den", col("den").cast(StringType))
          .select("m", "s1", "sab", "s2", "num", "den", "r")
      },
      Some(s"""WITH $simhash64FpCte,
             |$bandedPairsCte,
             |deg AS (
             |  SELECT id, count(*) AS deg FROM (
             |    SELECT a_id AS id FROM pairs
             |    UNION ALL SELECT b_id FROM pairs) u
             |  GROUP BY id),
             |dd AS (
             |  SELECT p.a_id, p.b_id, x.deg AS da, y.deg AS db
             |  FROM pairs p
             |    JOIN deg x ON p.a_id = x.id
             |    JOIN deg y ON p.b_id = y.id),
             |agg AS (
             |  SELECT count(*) AS m,
             |    CAST(sum(da + db) AS BIGINT) AS s1,
             |    CAST(sum(da * db) AS BIGINT) AS sab,
             |    CAST(sum(da * da + db * db) AS BIGINT) AS s2
             |  FROM dd)
             |SELECT m, s1, sab, s2,
             |  CAST(4 * CAST(m AS HUGEINT) * sab - CAST(s1 AS HUGEINT) * s1
             |    AS VARCHAR) AS num,
             |  CAST(2 * CAST(m AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1
             |    AS VARCHAR) AS den,
             |  CAST(4 * CAST(m AS HUGEINT) * sab
             |       - CAST(s1 AS HUGEINT) * s1 AS DOUBLE)
             |    / CAST(2 * CAST(m AS HUGEINT) * s2
             |           - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) AS r
             |FROM agg""".stripMargin)),

    // RAND INDEX between the two persisted graph partitions — do the
    // exact connected components (q_dedup_cluster) and the heuristic
    // label-propagation communities (q_label_prop) agree on which
    // nodes belong together? Rand = (pairs same in both + pairs apart
    // in both) / all pairs; every term is computed from the DOUBLED
    // pair counts n·(n−1) so the whole statistic stays integral
    // (rand_ppm is one integer division). This is the partition-level
    // counterpart of q_dedup_agreement's per-pair family audit: CC is
    // a refinement upper bound (every community is a subset of a
    // component), so disagreement measures exactly how much label
    // propagation under-merges in 3 iterations.
    // Scale shape: BOTH inputs are KB-sized persisted parquet
    // (plan-gated); the contingency table is bounded by
    // #clusters × #communities; the three scalar frames meet in
    // singleton crossJoins (the q_tfidf broadcast shape).
    Q("q_partition_agreement",
      (s, d) => {
        val cc = simhash64Clusters(s, d)
          .select(col("id").as("doc_id"), col("cluster_id"))
        val j = cc.join(labelPropCommunities(s, d), "doc_id")
        val cont = j.groupBy("cluster_id", "community")
          .agg(count(lit(1)).as("n"))
        val sij = broadcast(cont.agg(
          sum(col("n") * (col("n") - 1)).as("same_both2")))
        val sa = broadcast(j.groupBy("cluster_id")
          .agg(count(lit(1)).as("n"))
          .agg(sum(col("n") * (col("n") - 1)).as("same_a2")))
        val sb = broadcast(j.groupBy("community")
          .agg(count(lit(1)).as("n"))
          .agg(sum(col("n") * (col("n") - 1)).as("same_b2")))
        j.agg(count(lit(1)).as("n_nodes"))
          .withColumn("total2",
            col("n_nodes") * (col("n_nodes") - 1))
          .crossJoin(sij).crossJoin(sa).crossJoin(sb)
          .withColumn("rand_ppm", expr(
            "(1000000 * (total2 - same_a2 - same_b2 + 2 * same_both2))" +
              " div total2"))
          .select("n_nodes", "same_both2", "same_a2", "same_b2",
            "total2", "rand_ppm")
      },
      Some(s"""WITH RECURSIVE $labelPropOracleCtes,
             |$ccCompCtes,
             |j AS (
             |  SELECT c.id AS doc_id, c.cluster_id, m.community
             |  FROM comp c JOIN com m ON c.id = m.doc_id),
             |cont AS (
             |  SELECT cluster_id, community, count(*) AS n
             |  FROM j GROUP BY cluster_id, community),
             |sij AS (SELECT CAST(sum(n * (n - 1)) AS BIGINT) AS v FROM cont),
             |sa AS (SELECT CAST(sum(n * (n - 1)) AS BIGINT) AS v FROM (
             |  SELECT cluster_id, count(*) AS n FROM j GROUP BY cluster_id) t),
             |sb AS (SELECT CAST(sum(n * (n - 1)) AS BIGINT) AS v FROM (
             |  SELECT community, count(*) AS n FROM j GROUP BY community) t),
             |tot AS (SELECT count(*) AS n_nodes,
             |  CAST(count(*) * (count(*) - 1) AS BIGINT) AS total2 FROM j)
             |SELECT tot.n_nodes, sij.v AS same_both2, sa.v AS same_a2,
             |  sb.v AS same_b2, tot.total2,
             |  (1000000 * (tot.total2 - sa.v - sb.v + 2 * sij.v))
             |    // tot.total2 AS rand_ppm
             |FROM tot, sij, sa, sb""".stripMargin)),

    // RECURSIVE-CTE BFS — iterative graph reachability expressed in
    // SQL (WITH RECURSIVE, Spark 4's UnionLoop operator) instead of a
    // driver-side loop: hop distance from a deterministic seed set
    // (node id % 50 = 0) over the near-dup graph, depth-capped at 3.
    // This covers the engine feature the q_pagerank/q_label_prop
    // driver loops deliberately avoid — recursion handled INSIDE one
    // query execution, so a user can ship iterative logic as plain
    // SQL. The depth cap (dist < 3) is the cycle guard: each
    // iteration is a uniform id equi-join + the running union, and
    // the min-aggregate at the end collapses the path multiplicity.
    // The recursive step dedups its FRONTIER (SELECT DISTINCT (v,
    // dist)): without it the loop materializes PATHS — deg³ per seed,
    // which a dense template family turns into 10⁸ rows at sf0.1
    // (measured: 269 s); with it each level is bounded by the node
    // count and the same query runs in well under a second. min(dist)
    // is unchanged by the dedup, so the result — and the DuckDB
    // mirror, which carries the identical DISTINCT — is identical.
    // Unbounded-depth closure on a cyclic graph still belongs to the
    // large-star/small-star operator (q_dedup_cluster). Tenth consumer
    // of the shared pair table.
    Q("q_recursive_bfs",
      (s, d) => {
        // the symmetric edge list is materialized ONCE (checkpoint)
        // before the recursion: the recursive step re-evaluates its
        // referenced relations every iteration, and the old inline
        // `edges` CTE re-read + re-exploded the pair parquet per level
        simhash64Pairs(s, d)
          .select(explode(array(
            struct(col("a_id").as("u"), col("b_id").as("v")),
            struct(col("b_id").as("u"), col("a_id").as("v")))).as("x"))
          .select(col("x.u").as("u"), col("x.v").as("v"))
          .transform(Tables.cut)
          .createOrReplaceTempView("np_edges")
        s.sql("""
          WITH RECURSIVE edges AS (
            SELECT u, v FROM np_edges
          ),
          reach(id, dist) AS (
            SELECT DISTINCT u AS id, 0 AS dist FROM edges WHERE u % 50 = 0
            UNION ALL
            SELECT DISTINCT e.v, r.dist + 1
            FROM reach r JOIN edges e ON e.u = r.id
            WHERE r.dist < 3
          )
          SELECT id AS doc_id, CAST(min(dist) AS BIGINT) AS hops
          FROM reach GROUP BY id ORDER BY doc_id""")
      },
      Some(s"""WITH RECURSIVE $simhash64FpCte,
             |$bandedPairsCte,
             |edges AS MATERIALIZED (
             |  SELECT a_id AS u, b_id AS v FROM pairs
             |  UNION ALL SELECT b_id, a_id FROM pairs),
             |reach(id, dist) AS (
             |  SELECT DISTINCT u AS id, 0 AS dist FROM edges WHERE u % 50 = 0
             |  UNION ALL
             |  SELECT DISTINCT e.v, r.dist + 1
             |  FROM reach r JOIN edges e ON e.u = r.id
             |  WHERE r.dist < 3)
             |SELECT id AS doc_id, CAST(min(dist) AS BIGINT) AS hops
             |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)),

    // triangle counting over the near-dup graph — the third graph
    // operator (clusters find groups, PageRank ranks members,
    // triangles measure how DENSELY a duplicate neighborhood is knit:
    // a high triangle count separates a genuine template family from
    // a chain of pairwise-coincidental matches). Computed on the
    // fingerprint-class quotient graph ([[TriangleQuotient]] — exact
    // by the blow-up argument): the wedge-close join runs over class
    // pairs, not doc pairs, so its mass tracks distinct near-dup
    // structure instead of duplicate multiplicity. A doc appears in
    // the output iff it sits in >= 1 triangle, with its exact count.
    // degree distribution of the near-dup graph — the shape diagnostic
    // run BEFORE committing to a clustering pass at scale: a heavy tail
    // (one node touching thousands of near-dups) means a template/
    // boilerplate family that salting or a degree cap must handle,
    // while a flat distribution means the pairwise stages are safe as
    // planned. Two tiny hash aggregates over the shared pair table
    // (degree per node, then nodes per degree) — nothing corpus-sized
    // moves. min_doc pins a concrete exemplar per degree bucket so a
    // skewed bucket is immediately inspectable.
    Q("q_graph_degree",
      (s, d) => {
        val p = simhash64Pairs(s, d)
        val ends = p.select(col("a_id").as("u"))
          .union(p.select(col("b_id").as("u")))
        ends.groupBy("u").agg(count(lit(1)).as("deg"))
          .groupBy("deg")
          .agg(count(lit(1)).as("n_nodes"), min(col("u")).as("min_doc"))
          .orderBy("deg")
      },
      Some(s"""WITH $simhash64FpCte,
             |$bandedPairsCte,
             |ends AS (
             |  SELECT a_id AS u FROM pairs
             |  UNION ALL SELECT b_id FROM pairs),
             |dg AS (SELECT u, count(*) AS deg FROM ends GROUP BY u)
             |SELECT deg, count(*) AS n_nodes,
             |  CAST(min(u) AS BIGINT) AS min_doc
             |FROM dg GROUP BY deg ORDER BY deg""".stripMargin)),

    Q("q_triangles",
      (s, d) => {
        simhash64TriangleStats(s, d)
          .filter(col("n_tri") > 0)
          .select(col("doc_id"), col("n_tri").as("n_triangles"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $simhash64FpCte,
             |$classTriCtes
             |SELECT fp.doc_id, CAST(cstat.ntri AS BIGINT) AS n_triangles
             |FROM fp JOIN cstat ON fp.hi = cstat.hi AND fp.lo = cstat.lo
             |WHERE cstat.ntri > 0
             |ORDER BY doc_id""".stripMargin)),

    // 2-CORE decomposition of the near-dup graph — the graph-cleaning
    // pass that runs BEFORE clustering at scale: degree-1 pendants
    // (coincidental one-off matches) are peeled iteratively until only
    // the densely-connected duplicate families remain, so the
    // connected-components rounds and every per-cluster pass after
    // them run on the 2-core instead of the full edge list. Peeling is
    // the standard iterative-filter plan: per round, degree-count the
    // current edge set, keep nodes with deg >= 2, semi-join the edge
    // list to the survivors on BOTH endpoints. Each round shuffles
    // only on uniform node ids over a shrinking edge list, with a
    // lineage cut per round like ConnectedComponents/PageRank.
    //
    // Cross-engine exactness for an iterative fixpoint: both sides run
    // a FIXED 6 rounds (peeling is idempotent at the fixpoint, so any
    // round count >= the convergence round gives the identical edge
    // set — KCoreSpec asserts round 7 == round 6 on real data, and a
    // worst-case path graph shows why the bound is diameter-shaped).
    // The oracle unrolls the same 6 peels as CTE layers.
    Q("q_kcore",
      (s, d) => {
        val p = simhash64Pairs(s, d).select("a_id", "b_id")
        val edges = p.select(col("a_id").as("u"), col("b_id").as("v"))
          .union(p.select(col("b_id").as("u"), col("a_id").as("v")))
        KCore.coreDegrees(edges, k = 2, rounds = 6).orderBy("doc_id")
      },
      Some {
        // every layer is referenced twice by its successor (degree
        // count + both-endpoint filter); MATERIALIZED stops DuckDB
        // from inlining the chain into a 3^rounds plan blowup
        val layers = (1 to 6).map { k =>
          s"""k$k AS MATERIALIZED (
             |  SELECT u FROM e${k - 1} GROUP BY u HAVING count(*) >= 2),
             |e$k AS MATERIALIZED (
             |  SELECT e.u, e.v FROM e${k - 1} e
             |  JOIN k$k a ON e.u = a.u
             |  JOIN k$k b ON e.v = b.u)""".stripMargin
        }.mkString(",\n")
        s"""WITH $simhash64FpCte,
           |$bandedPairsCte,
           |e0 AS MATERIALIZED (
           |  SELECT a_id AS u, b_id AS v FROM pairs
           |  UNION ALL SELECT b_id, a_id FROM pairs),
           |$layers
           |SELECT u AS doc_id, count(*) AS core_deg
           |FROM e6 GROUP BY u ORDER BY doc_id""".stripMargin
      }),

    // per-node clustering coefficient over the near-dup graph — the
    // local-density refinement of q_triangles: a node whose neighbors
    // are all pairwise-linked (coefficient 1) sits inside a template
    // family; a high-degree node with coefficient ~0 is a hub of
    // COINCIDENTAL matches that clustering should not fuse through.
    // Reported as the exact rational (n_tri, n_wedges) per node — the
    // coefficient is n_tri/n_wedges, and keeping numerator/denominator
    // as integers makes the row hash-gateable where a float ratio is
    // not (same convention as q_group_ols' slope). Plan: degree and
    // triangle credits both come from the shared quotient-graph stats
    // table (one read + a filter); nodes with deg < 2 have no wedges
    // and are excluded by definition.
    Q("q_clustering_coef",
      (s, d) => {
        simhash64TriangleStats(s, d)
          .filter(col("deg") >= 2)
          .select(col("doc_id"), col("deg"), col("n_tri"),
            expr("(deg * (deg - 1)) div 2").as("n_wedges"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $simhash64FpCte,
             |$classTriCtes
             |SELECT fp.doc_id, CAST(cstat.deg AS BIGINT) AS deg,
             |  CAST(cstat.ntri AS BIGINT) AS n_tri,
             |  CAST(cstat.deg * (cstat.deg - 1) // 2 AS BIGINT) AS n_wedges
             |FROM fp JOIN cstat ON fp.hi = cstat.hi AND fp.lo = cstat.lo
             |WHERE cstat.deg >= 2
             |ORDER BY doc_id""".stripMargin)),

    // CROSS-FAMILY AGREEMENT audit — do the TEXT near-dup pairs
    // (simhash64 over tokens) and the IMAGE near-dup pairs (aHash over
    // payload bytes) find the same duplicates? The modality-agreement
    // matrix is how a production pipeline calibrates thresholds: pairs
    // flagged by both families are near-certain duplicates, pairs
    // flagged by exactly one localize each family's blind spot (token
    // shuffles preserve the byte histogram; byte-level edits preserve
    // token sets). One FULL OUTER join of the two KB-sized pair
    // tables (both already materialized/shared) — nothing re-touches
    // the corpus. Counts + id sums bind the three partitions exactly.
    Q("q_dedup_agreement",
      (s, d) => {
        val tp = simhash64Pairs(s, d).select("a_id", "b_id")
          .withColumn("t", lit(1))
        val ip = {
          // shuffle-free aHash fingerprint — see [[aHash64]] and the
          // spread + persist notes at q_dedup_phash
          val fp = Tables.spread(Tables.load(s, d, "documents")
              .filter(length(col("text")) >= 64))
            .withColumn("ah", aHash64)
            .select(col("doc_id"), col("ah.hi").as("hi"),
              col("ah.lo").as("lo"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          bandedPairs(fp, SimhashBanding.choose(fp.count()))
            .select("a_id", "b_id").withColumn("i", lit(1))
        }
        tp.join(ip, Seq("a_id", "b_id"), "full_outer")
          .select(
            when(col("t").isNotNull && col("i").isNotNull, "both")
              .when(col("t").isNotNull, "text_only")
              .otherwise("image_only").as("found_by"),
            col("a_id"), col("b_id"))
          .groupBy("found_by")
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("a_id") + col("b_id")).as("id_sum"))
          .orderBy("found_by")
      },
      Some(s"""WITH $sharedPairsCte,
             |bf AS (
             |  SELECT doc_id, list_transform(range(1, 65),
             |    i -> ord(substr(text, i, 1))) AS bs
             |  FROM documents WHERE length(text) >= 64),
             |bt AS (SELECT doc_id, bs, list_sum(bs) AS s FROM bf),
             |ifp AS (
             |  SELECT doc_id,
             |    CAST(list_sum(list_transform(range(33, 65),
             |      i -> CASE WHEN 64 * bs[i] > s
             |      THEN CAST(1 AS BIGINT) << (i - 33) ELSE 0 END))
             |      AS BIGINT) AS hi,
             |    CAST(list_sum(list_transform(range(1, 33),
             |      i -> CASE WHEN 64 * bs[i] > s
             |      THEN CAST(1 AS BIGINT) << (i - 1) ELSE 0 END))
             |      AS BIGINT) AS lo
             |  FROM bt),
             |ipairs AS (
             |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
             |  FROM ifp a JOIN ifp b ON a.doc_id < b.doc_id
             |  WHERE bit_count(xor(a.hi, b.hi))
             |    + bit_count(xor(a.lo, b.lo)) <= 3),
             |j AS (
             |  SELECT coalesce(t.a_id, i.a_id) AS a_id,
             |    coalesce(t.b_id, i.b_id) AS b_id,
             |    CASE WHEN t.a_id IS NOT NULL AND i.a_id IS NOT NULL
             |      THEN 'both'
             |      WHEN t.a_id IS NOT NULL THEN 'text_only'
             |      ELSE 'image_only' END AS found_by
             |  FROM pairs t
             |  FULL OUTER JOIN ipairs i
             |    ON t.a_id = i.a_id AND t.b_id = i.b_id)
             |SELECT found_by, count(*) AS n_pairs,
             |  CAST(sum(a_id + b_id) AS BIGINT) AS id_sum
             |FROM j GROUP BY found_by ORDER BY found_by""".stripMargin)),

    // CLUSTER-DENSITY audit over the duplicate clusters — the quality
    // gate on connected components' one weakness: CC merges through
    // TRANSITIVE chains, so a cluster can be a true template family
    // (near-clique: n_edges ≈ n_possible) or an artifact of weak
    // links (chain: n_edges ≈ n_nodes − 1) and keep-one dedup treats
    // both the same. Reporting (n_edges, n_possible = C(n,2)) as
    // exact integers per cluster is the density rational that decides
    // whether a family needs re-verification before deletion. Plan:
    // joins the two shared materializations (pair table + cluster
    // assignment) — per-cluster edge counts are one join + aggregate
    // on uniform node ids; nothing new touches the corpus.
    Q("q_cluster_density",
      (s, d) => {
        val cl = simhash64Clusters(s, d)
          .select(col("id"), col("cluster_id"))
        val sz = cl.groupBy("cluster_id")
          .agg(count(lit(1)).as("n_nodes"), min(col("id")).as("min_doc"))
        val ec = simhash64Pairs(s, d).select(col("a_id").as("id"))
          .join(cl, "id")
          .groupBy("cluster_id").agg(count(lit(1)).as("n_edges"))
        sz.join(ec, Seq("cluster_id"), "left")
          .select(col("cluster_id"), col("n_nodes"),
            coalesce(col("n_edges"), lit(0L)).as("n_edges"),
            expr("(n_nodes * (n_nodes - 1)) div 2").as("n_possible"),
            col("min_doc"))
          .orderBy("cluster_id")
      },
      Some(s"""WITH RECURSIVE $simhash64FpCte,
             |$bandedPairsCte,
             |edges AS MATERIALIZED (
             |  SELECT a_id AS u, b_id AS v FROM pairs
             |  UNION SELECT b_id, a_id FROM pairs),
             |$ccCompCtes,
             |sz AS (
             |  SELECT cluster_id, count(*) AS n_nodes,
             |    CAST(min(id) AS BIGINT) AS min_doc
             |  FROM comp GROUP BY cluster_id),
             |ec AS (
             |  SELECT c.cluster_id, count(*) AS n_edges
             |  FROM pairs p JOIN comp c ON p.a_id = c.id
             |  GROUP BY c.cluster_id)
             |SELECT s.cluster_id, s.n_nodes,
             |  coalesce(e.n_edges, 0) AS n_edges,
             |  (s.n_nodes * (s.n_nodes - 1)) // 2 AS n_possible,
             |  s.min_doc
             |FROM sz s LEFT JOIN ec e ON s.cluster_id = e.cluster_id
             |ORDER BY s.cluster_id""".stripMargin)),

    // PERCEPTUAL-HASH near-dup over the image payload bytes — the
    // multimodal×dedup intersection: an average-hash (aHash) over the
    // first 64 payload bytes of each document's image (the synthetic
    // PNGs' IDAT stream is the UTF-8 text, so the oracle can replay
    // byte-for-byte via ord()): bit i set iff 64·byte_i > Σ bytes —
    // the mean threshold in integer cross-multiplication, no
    // division. The 64-bit fingerprint then rides the SAME
    // corpus-parameterized banding machinery as simhash64
    // (SimhashBanding probe tables, lossless at hamming ≤ 3) — one
    // fingerprint definition swap turns text near-dup into image
    // near-dup, which is exactly the reuse the banding stage was
    // built for. Pairs at hamming ≤ 3; the oracle brute-forces the
    // same threshold.
    Q("q_dedup_phash",
      (s, d) => {
        // one map-side projection via [[aHash64]] — no explode, no
        // per-doc window shuffle, no re-aggregate. The interpreted
        // fold is CPU-heavy per row, so the under-parallel single-file
        // scan is spread first (Tables.spread — identity at real file
        // counts), and the tiny (doc_id, hi, lo) result is persisted +
        // counted so the fold runs ONCE, not once per consumer
        val fp = Tables.spread(Tables.load(s, d, "documents")
            .filter(length(col("text")) >= 64))
          .withColumn("ah", aHash64)
          .select(col("doc_id"), col("ah.hi").as("hi"),
            col("ah.lo").as("lo"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val plan = SimhashBanding.choose(fp.count())
        bandedPairs(fp, plan).orderBy("a_id", "b_id")
      },
      Some("""WITH f AS (
             |  SELECT doc_id, list_transform(range(1, 65),
             |    i -> ord(substr(text, i, 1))) AS bs
             |  FROM documents WHERE length(text) >= 64),
             |t AS (SELECT doc_id, bs, list_sum(bs) AS s FROM f),
             |fp AS (
             |  SELECT doc_id,
             |    CAST(list_sum(list_transform(range(33, 65),
             |      i -> CASE WHEN 64 * bs[i] > s
             |      THEN CAST(1 AS BIGINT) << (i - 33) ELSE 0 END))
             |      AS BIGINT) AS hi,
             |    CAST(list_sum(list_transform(range(1, 33),
             |      i -> CASE WHEN 64 * bs[i] > s
             |      THEN CAST(1 AS BIGINT) << (i - 1) ELSE 0 END))
             |      AS BIGINT) AS lo
             |  FROM t)
             |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |  CAST(bit_count(xor(a.hi, b.hi))
             |    + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
             |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.hi, b.hi))
             |  + bit_count(xor(a.lo, b.lo)) <= 3
             |ORDER BY a_id, b_id""".stripMargin)),

    // per-EDGE neighborhood Jaccard over the near-dup graph — the
    // link-prediction / cluster-merge signal that decides whether an
    // edge is structural (its endpoints share most of their neighbors:
    // one template family) or incidental (a lone match between two
    // otherwise-unrelated families that clustering must not fuse
    // through). Complements q_clustering_coef, which scores NODES:
    // an edge with n_common = 0 inside two high-coefficient
    // neighborhoods is exactly the bridge a cluster-quality audit cuts.
    // Reported as the exact rational (n_common, n_union) per edge —
    // J = |N(a) ∩ N(b)| / |N(a) ∪ N(b)| with open neighborhoods, so
    // n_union = deg(a) + deg(b) - n_common (a and b are each other's
    // neighbors but never their own) — integers end-to-end, so the row
    // hash-gates where a float ratio would not (q_clustering_coef's
    // convention).
    //
    // Plan: 10th reader of the shared pair table. A common neighbor c
    // of edge (a, b) is exactly a triangle {a, b, c} — but the
    // PER-EDGE counts must NOT be computed by exploding the
    // materialized triangle table: triangle volume is
    // clique-CUBED (one 350-doc near-dup family is 7M triples), so
    // that shape writes, re-reads, and 3x-explodes a table that can
    // dwarf the corpus (the round-13 sf0.1→sf1 scale rung measured it
    // at exponent 1.39 — the one superlinear query in the battery).
    // Instead the wedge-close runs IN FLIGHT: adjacency ⋈ adjacency
    // on the shared neighbor, map-side partial-aggregated straight to
    // per-(a, b) wedge counts (the combine collapses each clique's
    // wedge storm inside the mapper), then semi-joined to the edge
    // set — output O(pairs), nothing triangle-sized ever
    // materializes and the pair table is never assumed
    // broadcast-small. Wedge enumeration itself is
    // the exact algorithm's inherent Σdeg² cost; the 100 TB lever is
    // a degree cap BEFORE this stage (the q_triangles note), which
    // bounds it to N·D². Re-measured exponent after this fix: see
    // BENCH_NOTES round 13.
    Q("q_graph_jaccard",
      (s, d) => {
        // WITNESS CAP D: each common-neighbor WITNESS w contributes
        // wedges only among its D lowest-id neighbors — the
        // bounded-contribution rule (q_bounded_contribution's trick
        // applied to graph wedges): wedge volume is Σ min(deg, D)² ≤
        // N·D², LINEAR in nodes at any clique size, where uncapped
        // wedges are clique-QUADRATIC (one 350-doc template family is
        // 21M wedges; the sf0.1→sf1 scale rung measured the uncapped
        // form at exponent 1.78). The cap must sit on the WITNESS
        // side: capping the endpoints' own neighbor lists instead
        // leaves low-id nodes witnessed by every clique member —
        // still clique-quadratic. Deterministic (ordered by neighbor
        // id) and replayed verbatim by the oracle. n_common ≤ the
        // true common count ≤ min(deg) (every counted witness IS a
        // real common neighbor), and n_union keeps the UNCAPPED
        // degrees, so J = n_common / n_union is a consistent
        // lower-bound estimate — exact wherever witness degrees ≤ D,
        // i.e. everywhere outside the giant families the cap exists
        // to bound.
        val D = 64
        val p = simhash64Pairs(s, d).select("a_id", "b_id")
        val e = p.select(col("a_id").as("u"), col("b_id").as("v"))
          .union(p.select(col("b_id").as("u"), col("a_id").as("v")))
        val deg = e.groupBy("u").agg(count(lit(1)).as("deg"))
        val adj0 = p.select(col("a_id").as("w"), col("b_id").as("n"))
          .union(p.select(col("b_id").as("w"), col("a_id").as("n")))
        // bounded heaps, no per-node sort — the TopKPerGroupExec path
        val adj = graft.plans.TopKPerGroup.topKPerGroup(adj0,
          Seq(col("w")), Seq(asc("n")), D)
        val wedges = adj.as("l")
          .join(adj.as("r"),
            col("l.w") === col("r.w") && col("l.n") < col("r.n"))
          .select(col("l.n").as("a_id"), col("r.n").as("b_id"))
        val common = wedges
          .groupBy("a_id", "b_id").agg(count(lit(1)).as("n_common"))
          .join(p, Seq("a_id", "b_id"), "left_semi")
        p.join(common, Seq("a_id", "b_id"), "left")
          .join(deg.select(col("u").as("a_id"), col("deg").as("deg_a")),
            "a_id")
          .join(deg.select(col("u").as("b_id"), col("deg").as("deg_b")),
            "b_id")
          .select(col("a_id"), col("b_id"),
            coalesce(col("n_common"), lit(0L)).as("n_common"),
            (col("deg_a") + col("deg_b") -
              coalesce(col("n_common"), lit(0L))).as("n_union"))
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH $sharedPairsCte,
             |e AS (
             |  SELECT a_id AS u, b_id AS v FROM pairs
             |  UNION ALL SELECT b_id, a_id FROM pairs),
             |dg AS (SELECT u, count(*) AS deg FROM e GROUP BY u),
             |ec AS (
             |  SELECT u, v FROM (
             |    SELECT u, v,
             |      row_number() OVER (PARTITION BY u ORDER BY v) AS rn
             |    FROM e) t
             |  WHERE rn <= 64),
             |cm AS (
             |  SELECT l.v AS a_id, r.v AS b_id, count(*) AS n_common
             |  FROM ec l
             |  JOIN ec r ON l.u = r.u AND l.v < r.v
             |  JOIN pairs p ON p.a_id = l.v AND p.b_id = r.v
             |  GROUP BY l.v, r.v)
             |SELECT p.a_id, p.b_id,
             |  coalesce(cm.n_common, 0) AS n_common,
             |  da.deg + db.deg - coalesce(cm.n_common, 0) AS n_union
             |FROM pairs p
             |LEFT JOIN cm ON cm.a_id = p.a_id AND cm.b_id = p.b_id
             |JOIN dg da ON da.u = p.a_id
             |JOIN dg db ON db.u = p.b_id
             |ORDER BY p.a_id, p.b_id""".stripMargin)),

    // EDIT-DISTANCE near-dup (field-level entity resolution): the
    // character-edit complement of the token-set families above —
    // catches small in-place mutations (typo farms, template fills)
    // that shift every shingle but few characters. Pairs at
    // levenshtein <= 8 within the same language — the threshold is
    // MEASURED from the corpus: true mutation pairs sit at distance
    // 0-4 and the next distances seen are 26+ (coincidental vocab
    // overlap), so k=8 splits the bimodal distribution at its gap.
    // k also prices the plan twice over: candidate volume scales with
    // the length-band width (|Δlen| <= k) and the banded-DP verify
    // with len*k, so a sloppy k=32 costs ~16x this plan for matches
    // the gap says are junk.
    //
    // Plan: |len(a) - len(b)| <= k is a NECESSARY condition for edit
    // distance <= k, so blocking is the range-join bin pattern on the
    // length axis: block key = (lang, floor(len/k)), probe side
    // explodes to its 3 adjacent bins, exact |Δlen| <= k filter on the
    // equi-join output — each pair meets exactly once (the probe bins
    // are distinct), so no distinct() is needed. The verify is Spark's
    // THRESHOLDED levenshtein (banded DP, O(len·k) not O(len²), -1
    // past the threshold), and only candidate pairs reach it — never
    // all-pairs. At 100 TB the length-bin key alone can skew (common
    // lengths pile up); production adds a second blocking axis (e.g.
    // a rolling-hash anchor from q_rolling_hash) exactly like the
    // multi-key blocking the LSH families already do.
    Q("q_dedup_edit",
      (s, d) => {
        val k = 8
        // spread before the bin explode and the banded-DP verify: the
        // gate corpus is one single-row-group file, so without it the
        // whole candidate join + levenshtein chain runs in ONE task
        // (two ~0.67 s single-task stages measured); plan-time gated,
        // identity on real multi-file scans (guide §2.5)
        val docs = Tables.spread(Tables.load(s, d, "documents"))
          .select(col("doc_id"), col("lang"), col("text"),
            length(col("text")).as("len"))
        val bin = floor(col("len") / k)
        val a = docs.select(col("doc_id").as("a_id"), col("lang"),
          col("text").as("a_text"), col("len").as("a_len"),
          bin.as("bin"))
        val b = docs.select(col("doc_id").as("b_id"), col("lang"),
          col("text").as("b_text"), col("len").as("b_len"),
          explode(array(bin - 1, bin, bin + 1)).as("bin"))
        a.join(b, Seq("lang", "bin"))
          .filter(col("a_id") < col("b_id") &&
            abs(col("a_len") - col("b_len")) <= k)
          .withColumn("dist",
            levenshtein(col("a_text"), col("b_text"), k).cast(LongType))
          .filter(col("dist") >= 0)
          .select("a_id", "b_id", "dist")
          .orderBy("a_id", "b_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, lang, text, length(text) AS len FROM documents)
             |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
             |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
             |FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
             |  AND abs(a.len - b.len) <= 8
             |WHERE levenshtein(a.text, b.text) <= 8
             |ORDER BY a_id, b_id""".stripMargin)),

    // URL-CANONICALIZATION dedup — web-ingest identity resolution:
    // the same page arrives under many raw URL spellings (scheme
    // case, www, default ports, trailing slash, fragments, tracking
    // params), and crawl dedup keys on the CANONICAL form before any
    // content hashing. The corpus has no URL column, so raw URLs are
    // synthesized deterministically from doc_id (the q_pii_scrub
    // precedent): 100 canonical classes, each surfacing under one of
    // 5 spelling variants chosen by doc_id. The canonicalizer is the
    // real chain: lowercase, strip scheme/www/default port, drop the
    // fragment, FILTER query params (utm_*/ref= dropped, meaningful
    // params kept and sorted) and trim the trailing slash — so the
    // variant carrying ?page=2 correctly stays a DIFFERENT page.
    // Map-only per row; the dedup itself is one hash-agg on the
    // canonical key — exact-dedup cost, applied before any content
    // pass at 100 TB.
    Q("q_dedup_url",
      (s, d) => {
        val c = (col("doc_id") % 100).cast(StringType)
        val m = (col("doc_id") % 100 % 10).cast(StringType)
        val v = expr("doc_id div 100") % 5
        val base = concat(lit("site"), m, lit(".example.com/p/"), c)
        val raw = when(v === 0, concat(lit("https://"), base))
          .when(v === 1, concat(lit("HTTP://WWW.Site"), m,
            lit(".Example.com:80/p/"), c, lit("/")))
          .when(v === 2, concat(lit("https://site"), m,
            lit(".example.com:443/p/"), c,
            lit("?utm_source=feed&utm_campaign=x")))
          .when(v === 3, concat(lit("https://www."), base, lit("#section-2")))
          .otherwise(concat(lit("https://"), base, lit("?page=2&ref=tw")))
        val low = lower(raw)
        val noScheme = regexp_replace(low, "^https?://", "")
        val noWww = regexp_replace(noScheme, "^www\\.", "")
        // [^/:] + explicit terminator: without them the pattern's
        // backtracking would match ':80' as a PREFIX of ':8080' and
        // fuse the remaining digits into the host
        val noPort = regexp_replace(noWww, "^([^/:]*):(80|443)(/|$)", "$1$3")
        val noFrag = regexp_replace(noPort, "#.*$", "")
        val path0 = regexp_replace(noFrag, "\\?.*$", "")
        val path = regexp_replace(path0, "/$", "")
        val qs = when(noFrag.contains("?"),
          substring_index(noFrag, "?", -1)).otherwise(lit(""))
        val kept = filter(split(qs, "&"),
          p => !(p.startsWith("utm_") || p.startsWith("ref=") || (p === "")))
        val canon = concat(path,
          when(size(kept) > 0,
            concat(lit("?"), array_join(array_sort(kept), "&")))
            .otherwise(lit("")))
        Tables.load(s, d, "documents")
          .select(col("doc_id"), canon.as("canon_url"))
          .groupBy("canon_url")
          .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
          .filter(col("n_docs") >= 2)
          .orderBy("canon_url")
      },
      Some("""WITH u AS (
             |  SELECT doc_id,
             |    CASE (doc_id // 100) % 5
             |      WHEN 0 THEN 'https://site' || (doc_id % 100) % 10 ||
             |        '.example.com/p/' || doc_id % 100
             |      WHEN 1 THEN 'HTTP://WWW.Site' || (doc_id % 100) % 10 ||
             |        '.Example.com:80/p/' || doc_id % 100 || '/'
             |      WHEN 2 THEN 'https://site' || (doc_id % 100) % 10 ||
             |        '.example.com:443/p/' || doc_id % 100 ||
             |        '?utm_source=feed&utm_campaign=x'
             |      WHEN 3 THEN 'https://www.site' || (doc_id % 100) % 10 ||
             |        '.example.com/p/' || doc_id % 100 || '#section-2'
             |      ELSE 'https://site' || (doc_id % 100) % 10 ||
             |        '.example.com/p/' || doc_id % 100 || '?page=2&ref=tw'
             |    END AS raw
             |  FROM documents),
             |st AS (
             |  SELECT doc_id,
             |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             |      lower(raw),
             |      '^https?://', ''), '^www\.', ''),
             |      '^([^/:]*):(80|443)(/|$)', '\1\3'), '#.*$', '') AS nf
             |  FROM u),
             |cn AS (
             |  SELECT doc_id,
             |    regexp_replace(regexp_replace(nf, '\?.*$', ''), '/$', '')
             |    || CASE WHEN len(list_filter(
             |         string_split(CASE WHEN instr(nf, '?') > 0
             |           THEN split_part(nf, '?', 2) ELSE '' END, '&'),
             |         p -> NOT (starts_with(p, 'utm_')
             |           OR starts_with(p, 'ref=') OR p = ''))) > 0
             |      THEN '?' || array_to_string(list_sort(list_filter(
             |         string_split(split_part(nf, '?', 2), '&'),
             |         p -> NOT (starts_with(p, 'utm_')
             |           OR starts_with(p, 'ref=') OR p = ''))), '&')
             |      ELSE '' END AS canon_url
             |  FROM st)
             |SELECT canon_url, count(*) AS n_docs,
             |  CAST(min(doc_id) AS BIGINT) AS keep_id
             |FROM cn GROUP BY canon_url HAVING count(*) >= 2
             |ORDER BY canon_url""".stripMargin)),

    // SORTED-NEIGHBORHOOD near-dup (Hernández/Stolfo SNM): the THIRD
    // blocking strategy in the family — q_dedup_edit blocks by length
    // band, the LSH queries by hash band; SNM blocks by SORT ORDER:
    // rank the corpus by a sort key (text, doc_id — total order, so
    // the rank is deterministic), then compare only pairs within a
    // fixed rank window w. Recall is traded for the cheapest blocking
    // there is — at 100 TB the ranked layout IS the written table
    // order (range repartition by sort key), so candidate generation
    // is one sorted scan with bounded fan-out, no quadratic anything;
    // production runs multiple passes with different sort keys to
    // recover recall (each pass independent, same operator).
    //
    // Plan: global rank via the q_global_ids two-phase shape (range
    // repartition + broadcast prefix-sum offsets + partition-local
    // row_number — no single-partition window), then the rank-window
    // pairs via the range-join bin pattern on the RANK axis: width-w
    // bins, the b side probes its own and previous bin, exact
    // 1 <= rk_b - rk_a <= w filter — each pair meets exactly once.
    // Verify: thresholded levenshtein on candidates only.
    Q("q_dedup_snm",
      (s, d) => {
        val w = 10
        val k = 48
        val base = Tables.load(s, d, "documents")
        // bucket on a 64-char text prefix (order-safe coarsening;
        // keeps the sampled boundary literals small) — the rank is
        // a pure function of the row, so the THREE re-executions of
        // `ranked` below (offsets, a-side, b-side) always agree
        val ranked = graft.queries.GlobalRank.withRank(
          base.select(col("doc_id"), col("text")), 32,
          substring(col("text"), 1, 64),
          Seq(col("text"), col("doc_id")), "rk", base.count())
        val a = ranked.select(col("doc_id").as("a_doc"),
          col("text").as("a_text"), col("rk").as("a_rk"),
          floor((col("rk") - 1) / w).as("bin"))
        val b = ranked.select(col("doc_id").as("b_doc"),
          col("text").as("b_text"), col("rk").as("b_rk"),
          explode(array(floor((col("rk") - 1) / w) - 1,
            floor((col("rk") - 1) / w))).as("bin"))
        a.join(b, "bin")
          .filter(col("b_rk") > col("a_rk") && col("b_rk") <= col("a_rk") + w)
          .withColumn("dist",
            levenshtein(col("a_text"), col("b_text"), k).cast(LongType))
          .filter(col("dist") >= 0)
          .select(least(col("a_doc"), col("b_doc")).as("a_id"),
            greatest(col("a_doc"), col("b_doc")).as("b_id"), col("dist"))
          .orderBy("a_id", "b_id")
      },
      Some("""WITH r AS MATERIALIZED (
             |  SELECT doc_id, text,
             |    row_number() OVER (ORDER BY text, doc_id) AS rk
             |  FROM documents),
             |cand AS MATERIALIZED (
             |  SELECT a.doc_id AS da, b.doc_id AS db,
             |    a.text AS ta, b.text AS tb
             |  FROM r a JOIN r b ON b.rk - a.rk BETWEEN 1 AND 10
             |  WHERE abs(length(a.text) - length(b.text)) <= 48),
             |scored AS MATERIALIZED (
             |  SELECT da, db, CAST(levenshtein(ta, tb) AS BIGINT) AS dist
             |  FROM cand)
             |SELECT least(da, db) AS a_id, greatest(da, db) AS b_id, dist
             |FROM scored WHERE dist <= 48
             |ORDER BY a_id, b_id""".stripMargin)),

    // BLOOM-PREFILTERED incremental near-dup dedup: the daily-batch
    // admission check (q_dedup_incremental's semantics) computed the
    // way a 100 TB deployment actually runs it — WITHOUT re-running
    // the corpus-wide pair self-join. History ('src0') fingerprints
    // are read from the persisted fingerprint table; their banded
    // probe keys feed ONE partial-aggregating pass into a Bloom
    // filter (bounded bytes, driver-held like the IVF centroids).
    // The new batch's probe rows are then filtered MAP-SIDE by the
    // codegen'd might_contain — a row whose key misses the bloom
    // provably has no hamming<=r partner in history (the banding is
    // lossless and blooms have no false negatives), so the corpus-
    // sized shuffle-and-join only ever sees the tiny might-contain
    // fraction. Survivors go through the exact banded equi-join +
    // hamming verify, which also removes bloom false positives —
    // the result is EXACT, the bloom is purely a cost optimization
    // (the same contract as salting: result-identical to the plain
    // plan, proven in BloomIncrementalSpec).
    //
    // At N=1e9 history docs the sketch is ~GBs as one literal; the
    // production form shards it per band (C(b,r) blooms, each sized
    // n_docs) or ships it via the runtime-filter subquery channel —
    // the PATTERN (probe-key membership prefilter + exact verify) is
    // unchanged. Output: per admitted-batch doc flagged as a dup of
    // history — (doc_id, n_hist_matches, min_hamming).
    Q("q_dedup_bloom",
      (s, d) => {
        val src = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"))
        val fp = persistedFingerprints(s, d)
        val plan = SimhashBanding.choose(fp.count())
        val rows = bandedRows(fp, plan).join(src, "doc_id")
        val hist = rows.filter(col("source") === "src0")
        // sizing: fp.count() (already computed for the band plan) times
        // probes per doc upper-bounds history's probe rows — a larger
        // estimate only lowers the false-positive rate, and it saves
        // the extra count job over the uncached hist plan
        val bloom = buildProbeBloom(hist, fp.count() * plan.combos.size)
        val pruned = rows.filter(col("source") =!= "src0")
          .filter(mightContainProbe(bloom))
        val ha = hist.select(col("doc_id").as("a_id"), col("hi").as("a_hi"),
          col("lo").as("a_lo"), col("comb"), col("bits"))
        val nb = pruned.select(col("doc_id").as("b_id"), col("hi").as("b_hi"),
          col("lo").as("b_lo"), col("comb"), col("bits"))
        ha.join(nb, Seq("comb", "bits"))
          .select("a_id", "b_id", "a_hi", "a_lo", "b_hi", "b_lo").distinct()
          .withColumn("hamming",
            (bit_count(col("a_hi").bitwiseXOR(col("b_hi"))) +
             bit_count(col("a_lo").bitwiseXOR(col("b_lo")))).cast(LongType))
          .filter(col("hamming") <= plan.r)
          .groupBy("b_id")
          .agg(count(lit(1)).as("n_hist_matches"),
            min(col("hamming")).as("min_hamming"))
          .select(col("b_id").as("doc_id"),
            col("n_hist_matches"), col("min_hamming"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $simhash64FpCte,
             |$bandedPairsCte,
             |s AS (SELECT doc_id, source FROM documents),
             |nh AS (
             |  SELECT CASE WHEN sa.source = 'src0' THEN p.b_id ELSE p.a_id END
             |    AS doc_id, p.hamming AS h
             |  FROM pairs p
             |  JOIN s sa ON p.a_id = sa.doc_id
             |  JOIN s sb ON p.b_id = sb.doc_id
             |  WHERE (sa.source = 'src0') <> (sb.source = 'src0'))
             |SELECT doc_id, count(*) AS n_hist_matches,
             |  CAST(min(h) AS BIGINT) AS min_hamming
             |FROM nh GROUP BY doc_id ORDER BY doc_id""".stripMargin))
  )
}
