package graft.similarity

import graft.Tables
import graft.functions.GraftFunctions._
import graft.queries.CoreQueries.Q
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity-search operators over the `embeddings` table
  * (vec_id, embedding: array<float> dim 64, label).
  *
  * Cosine here uses SCALED-INTEGER arithmetic (GraftFunctions
  * .vecScaled/dotLong): floats become round(x*1e6) longs once per row,
  * every dot/norm is then exact 64-bit integer math — order-independent
  * (so bitwise-reproducible in DuckDB for the oracle gate) and ~10x
  * faster than the BigDecimal path. Self-norms are computed once per
  * ROW before the pairwise join, not per pair. The codegen'd float
  * CosineSimilarity expression is the non-oracle production fast path.
  *
  * Scale path: brute force is the correctness baseline (still fully
  * distributed: broadcast the query set, scan+topK per partition). The
  * bucketed variant prunes candidates by a partition key (label here;
  * IVF centroid id in production) — same plan shape, 1/K the scan per
  * query.
  */
object SimilarityQueries {

  private val NearDupThreshold = 0.4 // data max ~0.51; away from edges

  /** Shared oracle-SQL fragment: per-row scaled vector + integer norm. */
  private val scaledCte =
    """sc AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS sv
      |  FROM embeddings),
      |nrm AS (
      |  SELECT vec_id, label, sv,
      |    CAST(list_sum(list_transform(range(1, 65), i -> sv[i] * sv[i])) AS BIGINT) AS nn
      |  FROM sc)""".stripMargin

  private val cosExpr =
    """CAST(list_sum(list_transform(range(1, 65), i -> a_sv[i] * b_sv[i])) AS DOUBLE)
      |      / sqrt(CAST(a_nn AS DOUBLE) * CAST(b_nn AS DOUBLE))""".stripMargin

  /** Deterministic +-1 hyperplane sign for (plane j, dimension i):
    * +1 iff the top nibble of md5("j_i") is < 8 — the identical
    * construction the q_ann_srp oracle spells as
    * instr('01234567', substr(md5(j || '_' || i), 1, 1)) > 0. */
  private def srpSign(j: Int, i: Int): Int = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${j}_${i}".getBytes("UTF-8"))
    if (((h(0) >> 4) & 0xF) < 8) 1 else -1
  }

  /** Spark side of the shared shape: (vec_id, label, sv, nn).
    * (Round 16: a Tables.spread of the single-file embeddings scan was
    * measured NET-NEGATIVE across the ANN family — the 2000-row frame
    * is small enough that the extra exchange and its effect on the
    * racing broadcast subtrees cost more than the map parallelism
    * gained. Left unspread deliberately.) */
  private def scaled(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.load(s, d, "embeddings")
      .select(col("vec_id"), col("label"), vecScaled(col("embedding")).as("sv"))
      .withColumn("nn", dotLong(col("sv"), col("sv")))

  /** One Lloyd round from the deterministic seeds, shared by q_kmeans
    * (membership report) and q_kmeans_quality (SS decomposition):
    * returns (a1 = post-round assignment carrying sv/nn, c1 = the
    * trained floor-mean centroid table). Both assignment passes are
    * map-only literal-argmax projections — the corpus is scanned,
    * never shuffled; only the KB centroid frames move. */
  private def kmeansRound1(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val e = scaled(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a0 = IvfIndex.withCentroid(e, col("sv"),
      ivfCentroids(e), simScaled)
    val c1 = a0
      .select(col("centroid_id"),
        posexplode(col("sv")).as(Seq("pos", "v")))
      .groupBy("centroid_id", "pos")
      .agg(floor(sum(col("v")).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).cast(LongType).as("m"))
      .groupBy("centroid_id")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("cv"))
    (IvfIndex.withCentroid(e, col("sv"), c1, simScaled), c1)
  }

  /** Exact scaled-integer cosine with per-pair norms — the oracle-
    * verifiable sim passed through the IVF train/assign/search path
    * (the production float path precomputes norms per row instead). */
  private val simScaled: (org.apache.spark.sql.Column,
                          org.apache.spark.sql.Column) =>
      org.apache.spark.sql.Column =
    (a, b) => cosineFromScaled(a, b, dotLong(a, a), dotLong(b, b))

  /** q_ann_ivf's persisted inverted index, built ONCE per (session,
    * sf dir) — the production "one index build, many searches" shape:
    * [[IvfIndex.buildIndex]] repartitions the corpus by centroid_id and
    * writes hive-partitioned parquet under target/ (build output), and
    * every subsequent search partition-prunes into it via
    * [[IvfIndex.searchIndexed]]. Deterministic centroids (lowest-8
    * vec_ids, zero Lloyd iterations) keep the whole path
    * SQL-expressible for the oracle. */
  private def ivfIndexDir(s: org.apache.spark.sql.SparkSession,
                          d: String): String =
    Tables.once("ivfIndexCache", s, d) {
      val e = scaled(s, d)
      val emb = e.select(col("vec_id"), col("sv").as("embedding"))
      val dir = graft.Tables.matDir("ivf_index", s, d)
      IvfIndex.buildIndex(emb, ivfCentroids(e), dir, simScaled)
      dir
    }

  /** q_ann_incremental's index: built on PART of the corpus, then
    * grown to the full corpus through [[IvfIndex.extendIndex]] —
    * frozen centroids, append-only maintenance. Deterministic
    * assignment makes the grown index row-identical to a full
    * rebuild, so the q_ann_ivf oracle verifies the incremental path
    * end-to-end. */
  private def ivfIncIndexDir(s: org.apache.spark.sql.SparkSession,
                             d: String): String =
    Tables.once("ivfIncCache", s, d) {
      val e = scaled(s, d)
      val emb = e.select(col("vec_id"), col("sv").as("embedding"))
      val dir = graft.Tables.matDir("ivf_index_inc", s, d)
      val cents = ivfCentroids(e)
      IvfIndex.buildIndex(emb.filter(col("vec_id") % 3 =!= 2), cents,
        dir, simScaled)
      IvfIndex.extendIndex(emb.filter(col("vec_id") % 3 === 2), cents,
        dir, simScaled)
      dir
    }

  /** q_ann_graph's persisted per-cell graph index (the IVF layout
    * plus an adjacency column), built ONCE per (session, sf dir) over
    * the same deterministic centroids as the IVF index. */
  private def graphIndexDir(s: org.apache.spark.sql.SparkSession,
                            d: String): String =
    Tables.once("graphIndexCache", s, d) {
      val e = scaled(s, d)
      val dir = graft.Tables.matDir("graph_index", s, d)
      GraphAnn.buildGraphIndex(e, ivfCentroids(e), dir, m = 8,
        simScaled)
      dir
    }

  /** Deterministic demo centroids: the 8 lowest vec_ids as-is —
    * exactly IvfIndex.train(e, 8, 0). */
  private def ivfCentroids(e: org.apache.spark.sql.DataFrame) =
    e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast(IntegerType).as("centroid_id"),
        col("sv").as("cv"))

  /** PQ demo codebook shared by q_ann_pq and q_ann_ivfpq:
    * books(m)(c) = the 32-dim centroid for code c of subspace m, cut
    * from the 8 lowest vec_ids' scaled sub-vectors (the ivfCentroids
    * convention; Lloyd refinement would plug in IvfIndex.train per
    * subspace unchanged). Driver state: 2 x 8 x 32 longs. */
  private def pqBooks(
      e: org.apache.spark.sql.DataFrame): Seq[Array[Array[Long]]] = {
    val seeds = e.orderBy("vec_id").limit(8)
      .select("vec_id", "sv").collect()
      .map(_.getSeq[Long](1).toArray)
    Seq(seeds.map(_.slice(0, 32)), seeds.map(_.slice(32, 64)))
  }

  /** Map-side PQ encoder for subspace m: argmin over the 8 codes of
    * ||sub - book[c]||^2, the vector's own (code-constant) norm
    * dropped out of the argmin. */
  private def pqEncCol(books: Seq[Array[Array[Long]]])(
      sub: org.apache.spark.sql.Column, m: Int): org.apache.spark.sql.Column = {
    val entries = books(m).zipWithIndex.map { case (cv, c) =>
      struct(
        (lit(cv.map(x => x * x).sum) -
          lit(2L) * dotLong(sub, typedLit(cv))).as("score"),
        lit(c).as("c"))
    }
    array_min(array(entries.toIndexedSeq: _*)).getField("c")
  }

  /** Exact squared L2 between two long vectors (ADC table entries). */
  private def pqD2(a: Array[Long], b: Array[Long]): Long = {
    var acc = 0L; var i = 0
    while (i < a.length) { val dd = a(i) - b(i); acc += dd * dd; i += 1 }
    acc
  }

  /** Shared oracle CTE chain for the IVF search path (assign corpus to
    * centroids, probe the query's top-2 lists, rank candidates) —
    * consumed by q_ann_ivf (the result itself) and q_ann_recall (the
    * result compared against the exact baseline). Expects `nrm` from
    * [[scaledCte]]; yields `r` = (query_id, neighbor_id, sim, rank). */
  private val ivfProbeCtes: String =
    s"""cent AS (SELECT CAST(vec_id AS INT) AS centroid_id,
       |    sv AS c_sv, nn AS c_nn FROM nrm WHERE vec_id < 8),
       |asg AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT e.vec_id, c.centroid_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        CAST(list_sum(list_transform(range(1, 65),
       |          i -> e.sv[i] * c.c_sv[i])) AS DOUBLE)
       |          / sqrt(CAST(e.nn AS DOUBLE) * CAST(c.c_nn AS DOUBLE)) DESC,
       |        c.centroid_id) AS rn
       |    FROM nrm e CROSS JOIN cent c) t
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT query_id, a_sv, a_nn, centroid_id FROM (
       |    SELECT q.vec_id AS query_id, q.sv AS a_sv, q.nn AS a_nn,
       |      c.centroid_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        CAST(list_sum(list_transform(range(1, 65),
       |          i -> q.sv[i] * c.c_sv[i])) AS DOUBLE)
       |          / sqrt(CAST(q.nn AS DOUBLE) * CAST(c.c_nn AS DOUBLE)) DESC,
       |        c.centroid_id) AS prn
       |    FROM nrm q CROSS JOIN cent c WHERE q.vec_id < 5) t
       |  WHERE prn <= 2)""".stripMargin

  private val ivfSearchCtes: String =
    s"""$ivfProbeCtes,
       |s AS (
       |  SELECT p.query_id, e.vec_id AS neighbor_id,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> p.a_sv[i] * e.sv[i])) AS DOUBLE)
       |      / sqrt(CAST(p.a_nn AS DOUBLE) * CAST(e.nn AS DOUBLE)) AS sim
       |  FROM nrm e JOIN asg ON e.vec_id = asg.vec_id
       |    JOIN probes p ON asg.centroid_id = p.centroid_id
       |  WHERE e.vec_id <> p.query_id),
       |r AS (SELECT query_id, neighbor_id, sim,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
       |  FROM s)""".stripMargin

  val all: Seq[Q] = Seq(

    // brute-force exact top-10 cosine neighbors for 5 query vectors;
    // the query side is tiny -> broadcast, no shuffle of the big side.
    // Per-query top-k runs through the custom TopKPerGroupExec (bounded
    // heaps, no partition sort); the rank column is then a window over
    // the already-reduced <= 10-rows-per-query result, which is free.
    Q("q_ann_bruteforce",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = scaled(s, d)
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("sv").as("a_sv"),
            col("nn").as("a_nn"))
        val c = e.select(col("vec_id").as("neighbor_id"), col("sv").as("b_sv"),
          col("nn").as("b_nn"))
        val pairs = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
          .withColumn("cos", cosineFromScaled(
            col("a_sv"), col("b_sv"), col("a_nn"), col("b_nn")))
        val top = graft.plans.TopKPerGroup.topKPerGroup(pairs,
          Seq(col("query_id")), Seq(desc("cos"), asc("neighbor_id")), 10)
        val w = Window.partitionBy("query_id")
          .orderBy(desc("cos"), asc("neighbor_id"))
        top.withColumn("rank", row_number().over(w).cast(LongType))
          .select("query_id", "neighbor_id", "rank", "cos")
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $scaledCte,
             |q AS (SELECT vec_id AS query_id, sv AS a_sv, nn AS a_nn
             |      FROM nrm WHERE vec_id < 5),
             |c AS (SELECT vec_id AS neighbor_id, sv AS b_sv, nn AS b_nn FROM nrm),
             |s AS (
             |  SELECT query_id, neighbor_id,
             |    $cosExpr AS cos
             |  FROM c JOIN q ON neighbor_id <> query_id),
             |r AS (
             |  SELECT query_id, neighbor_id, cos,
             |    CAST(row_number() OVER (PARTITION BY query_id
             |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
             |  FROM s)
             |SELECT query_id, neighbor_id, rank, cos FROM r
             |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // FILTERED ANN, pre-filter strategy — the production vector-store
    // query shape ("neighbors among docs WHERE lang='en'"): the
    // metadata predicate prunes the CANDIDATE corpus before any
    // distance math (documents joined on vec_id = doc_id, filter
    // pushed into the scan), so cost is selectivity × scan and the
    // k-guarantee holds over the filtered population. The alternative
    // — top-k then filter — silently under-fills k whenever the
    // filter is selective; pre-filtering is the honest default, and
    // q_ann_filtered_ivf below shows the index-composed form.
    Q("q_ann_filtered",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = scaled(s, d)
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("sv").as("a_sv"),
            col("nn").as("a_nn"))
        val en = Tables.load(s, d, "documents")
          .filter(col("lang") === "en")
          .select(col("doc_id").as("vec_id"))
        val c = e.join(en, Seq("vec_id"), "left_semi")
          .select(col("vec_id").as("neighbor_id"), col("sv").as("b_sv"),
            col("nn").as("b_nn"))
        val pairs = c.join(broadcast(q),
            col("neighbor_id") =!= col("query_id"))
          .withColumn("cos", cosineFromScaled(
            col("a_sv"), col("b_sv"), col("a_nn"), col("b_nn")))
        val top = graft.plans.TopKPerGroup.topKPerGroup(pairs,
          Seq(col("query_id")), Seq(desc("cos"), asc("neighbor_id")), 5)
        val w = Window.partitionBy("query_id")
          .orderBy(desc("cos"), asc("neighbor_id"))
        top.withColumn("rank", row_number().over(w).cast(LongType))
          .select("query_id", "neighbor_id", "rank", "cos")
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $scaledCte,
             |q AS (SELECT vec_id AS query_id, sv AS a_sv, nn AS a_nn
             |      FROM nrm WHERE vec_id < 5),
             |c AS (SELECT e.vec_id AS neighbor_id, e.sv AS b_sv,
             |        e.nn AS b_nn
             |      FROM nrm e
             |      WHERE e.vec_id IN (SELECT doc_id FROM documents
             |                         WHERE lang = 'en')),
             |s AS (
             |  SELECT query_id, neighbor_id,
             |    $cosExpr AS cos
             |  FROM c JOIN q ON neighbor_id <> query_id),
             |r AS (
             |  SELECT query_id, neighbor_id, cos,
             |    CAST(row_number() OVER (PARTITION BY query_id
             |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
             |  FROM s)
             |SELECT query_id, neighbor_id, rank, cos FROM r
             |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // bucketed ANN (IVF-style): candidates restricted to the query's
    // bucket — here the label column stands in for a centroid
    // assignment; the plan shape (bucket equi-join prunes the scan) is
    // the 100 TB path
    Q("q_ann_bucketed",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = scaled(s, d)
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("sv").as("a_sv"),
            col("nn").as("a_nn"), col("label").as("qlabel"))
        val c = e.select(col("vec_id").as("neighbor_id"), col("sv").as("b_sv"),
          col("nn").as("b_nn"), col("label"))
        val w = Window.partitionBy("query_id")
          .orderBy(desc("cos"), asc("neighbor_id"))
        c.join(broadcast(q),
            col("label") === col("qlabel") &&
            col("neighbor_id") =!= col("query_id"))
          .withColumn("cos", cosineFromScaled(
            col("a_sv"), col("b_sv"), col("a_nn"), col("b_nn")))
          .withColumn("rank", row_number().over(w).cast(LongType))
          .filter(col("rank") <= 5)
          .select("query_id", "neighbor_id", "rank", "cos")
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $scaledCte,
             |q AS (SELECT vec_id AS query_id, sv AS a_sv, nn AS a_nn,
             |        label AS qlabel FROM nrm WHERE vec_id < 5),
             |c AS (SELECT vec_id AS neighbor_id, sv AS b_sv, nn AS b_nn,
             |        label FROM nrm),
             |s AS (
             |  SELECT query_id, neighbor_id,
             |    $cosExpr AS cos
             |  FROM c JOIN q ON label = qlabel AND neighbor_id <> query_id),
             |r AS (
             |  SELECT query_id, neighbor_id, cos,
             |    CAST(row_number() OVER (PARTITION BY query_id
             |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
             |  FROM s)
             |SELECT query_id, neighbor_id, rank, cos FROM r
             |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // embedding-cosine near-duplicate pairs above a threshold, blocked
    // by label (the candidate-pruning key at scale)
    Q("q_dedup_embedding",
      (s, d) => {
        // both self-join sides are the FULL corpus, so materialize the
        // scaled vectors + norms once instead of recomputing them per
        // side (the ANN queries skip this: their query side is a
        // pushed-down 5-row filter, so its recompute is already free)
        val e = scaled(s, d)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val a = e.select(col("label"), col("vec_id").as("a_id"),
          col("sv").as("a_sv"), col("nn").as("a_nn"))
        val b = e.select(col("label"), col("vec_id").as("b_id"),
          col("sv").as("b_sv"), col("nn").as("b_nn"))
        a.join(b, Seq("label"))
          .filter(col("a_id") < col("b_id"))
          .withColumn("cos", cosineFromScaled(
            col("a_sv"), col("b_sv"), col("a_nn"), col("b_nn")))
          .filter(col("cos") >= NearDupThreshold)
          .select("a_id", "b_id", "cos")
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH $scaledCte,
             |p AS (
             |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             |    a.sv AS a_sv, b.sv AS b_sv, a.nn AS a_nn, b.nn AS b_nn
             |  FROM nrm a JOIN nrm b
             |    ON a.label = b.label AND a.vec_id < b.vec_id),
             |s AS (
             |  SELECT a_id, b_id,
             |    $cosExpr AS cos
             |  FROM p)
             |SELECT a_id, b_id, cos FROM s WHERE cos >= $NearDupThreshold
             |ORDER BY a_id, b_id""".stripMargin)),

    // IVF inverted-list search under the oracle, through the PERSISTED
    // index — the production path end-to-end: IvfIndex.buildIndex
    // (assign via map-only argmax, repartition by centroid_id, write
    // hive-partitioned parquet; once per session/dir via ivfIndexDir)
    // then IvfIndex.searchIndexed (probe ranking, STATIC partition
    // filter so the scan provably reads only the probed inverted
    // lists, broadcast probe join + TopKPerGroupExec). Deterministic
    // centroids (lowest-8 vec_ids, zero Lloyd iterations — exactly
    // IvfIndex.train(e, 8, 0)) make the whole build/search path
    // SQL-expressible; result set is identical to the join-based
    // IvfIndex.search (IvfIndexSpec proves the equivalence), so the
    // oracle SQL spells out the logical form. PlanShapeSpec asserts
    // the probed scan's PartitionFilters prune to nProbe lists.
    Q("q_ann_ivf",
      (s, d) => {
        val e = scaled(s, d)
        val qs = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("sv").as("qv"))
        IvfIndex.searchIndexed(s, ivfIndexDir(s, d), ivfCentroids(e), qs,
          topK = 5, nProbe = 2, simScaled)
          .withColumn("rank", col("rank").cast(LongType))
          .select("query_id", "neighbor_id", "rank", "sim")
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $scaledCte,
             |$ivfSearchCtes
             |SELECT query_id, neighbor_id, rank, sim FROM r
             |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // INCREMENTAL IVF maintenance (IvfIndex.extendIndex): the index
    // was built on 2/3 of the corpus and GROWN to the rest by
    // assigning only the new vectors against the frozen centroids —
    // append-only files, no old index file touched
    // (IvfIncrementalSpec), maintenance cost O(new vectors). The
    // deterministic assignment makes the grown index row-identical
    // to a full rebuild, so the same DuckDB replay verifies the
    // search end-to-end.
    Q("q_ann_incremental",
      (s, d) => {
        val e = scaled(s, d)
        val qs = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("sv").as("qv"))
        IvfIndex.searchIndexed(s, ivfIncIndexDir(s, d),
          ivfCentroids(e), qs, topK = 5, nProbe = 2, simScaled)
          .withColumn("rank", col("rank").cast(LongType))
          .select("query_id", "neighbor_id", "rank", "sim")
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $scaledCte,
             |$ivfSearchCtes
             |SELECT query_id, neighbor_id, rank, sim FROM r
             |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // FILTERED ANN through the IVF index — the scale form of
    // q_ann_filtered: the metadata key set semi-joins INSIDE the
    // probed inverted lists (IvfIndex.searchIndexed's `candidates`),
    // so the scan is still bounded by nProbe lists AND the filter,
    // and the k results are the true filtered top-k of the probed
    // population (no over-fetch heuristics). At 100 TB this is the
    // difference between "filter a billion scored pairs" and "score
    // the filtered members of 2 cells".
    Q("q_ann_filtered_ivf",
      (s, d) => {
        val e = scaled(s, d)
        val qs = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("sv").as("qv"))
        val en = Tables.load(s, d, "documents")
          .filter(col("lang") === "en")
          .select(col("doc_id").as("vec_id"))
        IvfIndex.searchIndexed(s, ivfIndexDir(s, d), ivfCentroids(e), qs,
          topK = 5, nProbe = 2, simScaled, candidates = Some(en))
          .withColumn("rank", col("rank").cast(LongType))
          .select("query_id", "neighbor_id", "rank", "sim")
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $scaledCte,
             |$ivfProbeCtes,
             |s AS (
             |  SELECT p.query_id, e.vec_id AS neighbor_id,
             |    CAST(list_sum(list_transform(range(1, 65),
             |      i -> p.a_sv[i] * e.sv[i])) AS DOUBLE)
             |      / sqrt(CAST(p.a_nn AS DOUBLE) * CAST(e.nn AS DOUBLE))
             |      AS sim
             |  FROM nrm e JOIN asg ON e.vec_id = asg.vec_id
             |    JOIN probes p ON asg.centroid_id = p.centroid_id
             |  WHERE e.vec_id <> p.query_id
             |    AND e.vec_id IN (SELECT doc_id FROM documents
             |                     WHERE lang = 'en')),
             |r AS (SELECT query_id, neighbor_id, sim,
             |    CAST(row_number() OVER (PARTITION BY query_id
             |      ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rank
             |  FROM s)
             |SELECT query_id, neighbor_id, rank, sim FROM r
             |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // GRAPH-BASED ANN (per-IVF-cell NSW, the HNSW family) — the gated
    // configuration runs the graph WALK in exhaustive mode (ef =
    // unbounded beam): the backbone ring makes every cell connected,
    // so the walk provably visits each probed member and must land on
    // EXACTLY the IVF probe search's answer — which is why the oracle
    // is the same SQL replay as q_ann_ivf. The hash gate therefore
    // proves the whole graph machinery (build adjacency, entry-point
    // walk, beam bookkeeping, bit-identical scaled cosine in Scala vs
    // both engines); the APPROXIMATE configurations (small ef, fewer
    // visits than the cell) are pinned by GraphAnnRecallSpec, the
    // q_salted_join convention — the gate fixes semantics, the spec
    // fixes the scale claim.
    Q("q_ann_graph",
      (s, d) => {
        val e = scaled(s, d)
        val qs = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("sv").as("qv"))
        GraphAnn.searchGraph(s, graphIndexDir(s, d), ivfCentroids(e),
          qs, topK = 5, nProbe = 2, ef = Int.MaxValue, simScaled)
          .withColumn("rank", col("rank").cast(LongType))
          .select("query_id", "neighbor_id", "rank", "sim")
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $scaledCte,
             |$ivfSearchCtes
             |SELECT query_id, neighbor_id, rank, sim FROM r
             |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // recall@5 of the IVF path against the exact brute-force baseline,
    // computed IN-ENGINE — the evaluation loop a production ANN
    // deployment runs continuously (index drift, quantization or probe
    // changes surface here first, long before a user notices). Both
    // sides reuse operators already under the gate: the probed
    // persisted-index search (same single index build per session/dir)
    // and the broadcast+TopKPerGroupExec exact top-5. The exact side
    // always yields 5 rows per query, so the left join cannot drop a
    // query; recall = hits/5 is one IEEE division of small integers,
    // bit-identical in both engines.
    Q("q_ann_recall",
      (s, d) => {
        val e = scaled(s, d)
        val qs = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("sv").as("qv"))
        val ivf = IvfIndex.searchIndexed(s, ivfIndexDir(s, d),
            ivfCentroids(e), qs, topK = 5, nProbe = 2, simScaled)
          .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("sv").as("a_sv"),
            col("nn").as("a_nn"))
        val c = e.select(col("vec_id").as("neighbor_id"),
          col("sv").as("b_sv"), col("nn").as("b_nn"))
        val pairs = c.join(broadcast(q),
            col("neighbor_id") =!= col("query_id"))
          .withColumn("cos", cosineFromScaled(
            col("a_sv"), col("b_sv"), col("a_nn"), col("b_nn")))
        val exact = graft.plans.TopKPerGroup.topKPerGroup(pairs,
          Seq(col("query_id")), Seq(desc("cos"), asc("neighbor_id")), 5)
          .select("query_id", "neighbor_id")
        exact.join(ivf, Seq("query_id", "neighbor_id"), "left")
          .groupBy("query_id")
          .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .withColumn("recall",
            col("n_hits").cast(DoubleType) / lit(5.0))
          .orderBy("query_id")
      },
      Some(s"""WITH $scaledCte,
             |$ivfSearchCtes,
             |ivf5 AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 5),
             |q2 AS (SELECT vec_id AS query_id, sv AS a_sv, nn AS a_nn
             |       FROM nrm WHERE vec_id < 5),
             |c2 AS (SELECT vec_id AS neighbor_id, sv AS b_sv, nn AS b_nn
             |       FROM nrm),
             |s2 AS (
             |  SELECT query_id, neighbor_id,
             |    $cosExpr AS cos
             |  FROM c2 JOIN q2 ON neighbor_id <> query_id),
             |ex5 AS (
             |  SELECT query_id, neighbor_id FROM (
             |    SELECT query_id, neighbor_id,
             |      row_number() OVER (PARTITION BY query_id
             |        ORDER BY cos DESC, neighbor_id) AS rank
             |    FROM s2) t
             |  WHERE rank <= 5)
             |SELECT e.query_id,
             |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL
             |           THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
             |  CAST(CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL
             |           THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE) / 5.0
             |    AS recall
             |FROM ex5 e LEFT JOIN ivf5 i
             |  ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
             |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin)),

    // int8 scalar-quantized ANN: per-vector symmetric quantization
    // q_i = round(sv_i * 127 / max|sv|), then top-k by QUANTIZED cosine
    // dot(qa,qb)/sqrt(|qa||qb|) — the per-vector scale factors cancel
    // in cosine, so the score is pure small-integer arithmetic (exact,
    // order-independent, bit-reproducible in DuckDB). 100 TB posture:
    // the search corpus shrinks 8x (int8 vs int64/float64 — store qv as
    // BYTE array + one scale per vector), the dot product runs on
    // int8-range values through the same codegen'd DotLong, and exact
    // re-ranking (see q_ann_bruteforce) only ever touches the top-k
    // survivors. The spec measures recall@10 vs the exact ranking.
    Q("q_ann_quantized",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = scaled(s, d)
          .withColumn("mx",
            greatest(array_max(transform(col("sv"), x => abs(x))), lit(1L)))
          .withColumn("qv", transform(col("sv"),
            x => round(x.cast(DoubleType) * 127.0 / col("mx").cast(DoubleType))
              .cast(LongType)))
          .withColumn("qn", dotLong(col("qv"), col("qv")))
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("qv").as("a_qv"),
            col("qn").as("a_qn"))
        val c = e.select(col("vec_id").as("neighbor_id"), col("qv").as("b_qv"),
          col("qn").as("b_qn"))
        val pairs = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
          .withColumn("qcos", cosineFromScaled(
            col("a_qv"), col("b_qv"), col("a_qn"), col("b_qn")))
        val top = graft.plans.TopKPerGroup.topKPerGroup(pairs,
          Seq(col("query_id")), Seq(desc("qcos"), asc("neighbor_id")), 10)
        val w = Window.partitionBy("query_id")
          .orderBy(desc("qcos"), asc("neighbor_id"))
        top.withColumn("rank", row_number().over(w).cast(LongType))
          .select("query_id", "neighbor_id", "rank", "qcos")
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $scaledCte,
             |qz AS (
             |  SELECT vec_id,
             |    list_transform(sv, x -> CAST(round(CAST(x AS DOUBLE) * 127.0
             |      / CAST(greatest(list_max(list_transform(sv, y -> abs(y))), 1)
             |             AS DOUBLE)) AS BIGINT)) AS qv
             |  FROM sc),
             |qn AS (
             |  SELECT vec_id, qv,
             |    CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i]))
             |      AS BIGINT) AS nn
             |  FROM qz),
             |q AS (SELECT vec_id AS query_id, qv AS a_qv, nn AS a_qn
             |      FROM qn WHERE vec_id < 5),
             |c AS (SELECT vec_id AS neighbor_id, qv AS b_qv, nn AS b_qn FROM qn),
             |s AS (
             |  SELECT query_id, neighbor_id,
             |    CAST(list_sum(list_transform(range(1, 65),
             |      i -> a_qv[i] * b_qv[i])) AS DOUBLE)
             |      / sqrt(CAST(a_qn AS DOUBLE) * CAST(b_qn AS DOUBLE)) AS qcos
             |  FROM c JOIN q ON neighbor_id <> query_id),
             |r AS (
             |  SELECT query_id, neighbor_id, qcos,
             |    CAST(row_number() OVER (PARTITION BY query_id
             |      ORDER BY qcos DESC, neighbor_id) AS BIGINT) AS rank
             |  FROM s)
             |SELECT query_id, neighbor_id, rank, qcos FROM r
             |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)),

    // SIGNED-RANDOM-PROJECTION ANN (hyperplane LSH, Charikar): the
    // FOURTH search family — brute force scans everything, bucketed/
    // IVF prune by a learned partition, SRP prunes by an ANGLE sketch:
    // bit j of a 64-bit fingerprint is the sign of the projection onto
    // pseudo-random hyperplane j, so hamming(fp_a, fp_b) concentrates
    // around 64*angle/pi — candidates at hamming <= 28 cover
    // neighbors out to ~79 degrees (this corpus's true top-5 sit at
    // cos 0.2-0.5, i.e. 60-78 degrees, hamming 21-28), while a random
    // pair (~90 degrees, hamming ~32, sd ~4) sits a standard deviation
    // past the cut. The cut is a recall/cost dial: more planes (128+)
    // sharpen the concentration and push random pairs further out.
    //
    // Everything is exact and engine-reproducible: projections are
    // integer dot products over the scaled vectors with a +-1 sign
    // matrix derived from md5(j || '_' || i) (the same construction on
    // both engines), the prefilter is integer hamming, and the re-rank
    // is the battery's exact scaled cosine. Plan shape at 100 TB: the
    // fingerprint stage is a narrow generate (64 rows/vec) + broadcast
    // 4096-row sign join + two partial aggs — constant work per
    // vector, 16 bytes of output — and the candidate stage broadcasts
    // only the query fingerprints. A full-corpus pairwise SRP would
    // band the fingerprint exactly like simhash64 (same machinery,
    // same losslessness argument at a hamming radius); the threshold
    // form here is the per-query search shape.
    Q("q_ann_srp",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import s.implicits._
        val e = scaled(s, d)
        val signs = (for (j <- 0 until 64; i <- 0 until 64)
          yield (i, j, srpSign(j, i).toLong)).toDF("i", "j", "sgn")
        // r17: spreading the exploded projection rows (the 8.2M-row
        // sign fan-out otherwise runs in the scan's one task) was
        // measured WORSE under the min-of-3 targeted bench (2.22 ->
        // 3.28 s): the extra exchange + AQE stage barrier costs more
        // than the map parallelism buys on this 128k-row frame — the
        // r16 family-wide no-spread finding holds here too
        val vr = e.select(col("vec_id"),
          posexplode(col("sv")).as(Seq("i", "x")))
        val bitval = when(col("p") >= 0,
          expr("shiftleft(CAST(1 AS BIGINT), CAST(j % 32 AS INT))"))
          .otherwise(lit(0L))
        val fp = vr.join(broadcast(signs), "i")
          .groupBy("vec_id", "j")
          .agg(sum(col("sgn") * col("x")).as("p"))
          .groupBy("vec_id")
          .agg(sum(when(col("j") >= 32, bitval).otherwise(lit(0L))).as("hi"),
            sum(when(col("j") < 32, bitval).otherwise(lit(0L))).as("lo"))
        val withVec = fp.join(e.select("vec_id", "sv", "nn"), "vec_id")
        val q = withVec.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("hi").as("a_hi"),
            col("lo").as("a_lo"), col("sv").as("a_sv"), col("nn").as("a_nn"))
        val c = withVec
          .select(col("vec_id").as("neighbor_id"), col("hi").as("b_hi"),
            col("lo").as("b_lo"), col("sv").as("b_sv"), col("nn").as("b_nn"))
        val pairs = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
          .withColumn("ham",
            bit_count(col("a_hi").bitwiseXOR(col("b_hi"))) +
              bit_count(col("a_lo").bitwiseXOR(col("b_lo"))))
          .filter(col("ham") <= 28)
          .withColumn("cos", cosineFromScaled(
            col("a_sv"), col("b_sv"), col("a_nn"), col("b_nn")))
        val top = graft.plans.TopKPerGroup.topKPerGroup(pairs,
          Seq(col("query_id")), Seq(desc("cos"), asc("neighbor_id")), 5)
        val w = Window.partitionBy("query_id")
          .orderBy(desc("cos"), asc("neighbor_id"))
        top.withColumn("rank", row_number().over(w).cast(LongType))
          .select("query_id", "neighbor_id", "rank", "cos")
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $scaledCte,
             |sgn AS (
             |  SELECT CAST(t2.i AS INTEGER) AS i, CAST(t1.j AS INTEGER) AS j,
             |    CASE WHEN instr('01234567',
             |      substr(md5(CAST(t1.j AS VARCHAR) || '_' ||
             |                 CAST(t2.i AS VARCHAR)), 1, 1)) > 0
             |      THEN 1 ELSE -1 END AS s
             |  FROM range(0, 64) t1(j), range(0, 64) t2(i)),
             |vr AS (
             |  SELECT vec_id, CAST(r.i AS INTEGER) - 1 AS i0,
             |    sv[CAST(r.i AS INTEGER)] AS x
             |  FROM sc, range(1, 65) r(i)),
             |proj AS (
             |  SELECT vec_id, g.j, CAST(sum(g.s * v.x) AS BIGINT) AS p
             |  FROM vr v JOIN sgn g ON g.i = v.i0
             |  GROUP BY vec_id, g.j),
             |f AS (
             |  SELECT vec_id,
             |    CAST(sum(CASE WHEN j >= 32 AND p >= 0
             |      THEN (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END) AS BIGINT)
             |      AS hi,
             |    CAST(sum(CASE WHEN j < 32 AND p >= 0
             |      THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS lo
             |  FROM proj GROUP BY vec_id),
             |qf AS (
             |  SELECT f.vec_id AS query_id, f.hi AS a_hi, f.lo AS a_lo,
             |    n.sv AS a_sv, n.nn AS a_nn
             |  FROM f JOIN nrm n ON f.vec_id = n.vec_id WHERE f.vec_id < 5),
             |cf AS (
             |  SELECT f.vec_id AS neighbor_id, f.hi AS b_hi, f.lo AS b_lo,
             |    n.sv AS b_sv, n.nn AS b_nn
             |  FROM f JOIN nrm n ON f.vec_id = n.vec_id),
             |cand AS (
             |  SELECT query_id, neighbor_id,
             |    $cosExpr AS cos
             |  FROM cf JOIN qf ON neighbor_id <> query_id
             |  WHERE bit_count(xor(a_hi, b_hi)) + bit_count(xor(a_lo, b_lo))
             |    <= 28),
             |r AS (
             |  SELECT query_id, neighbor_id, cos,
             |    CAST(row_number() OVER (PARTITION BY query_id
             |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
             |  FROM cand)
             |SELECT query_id, neighbor_id, rank, cos FROM r
             |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // PRODUCT QUANTIZATION ANN (Jégou et al., PAMI'11) — the
    // COMPRESSION-based search family beside the partitioning ones
    // (bucketed/IVF), the sketch one (SRP) and the element-wise one
    // (int8): each vector is stored as M=2 one-byte codes (its nearest
    // codebook centroid per 32-dim subspace), and query-time distance
    // is the Asymmetric Distance Computation — a per-query lookup
    // table of query-to-centroid distances, summed over subspaces.
    // The codebook here is the deterministic seed codebook (the 8
    // lowest vec_ids' sub-vectors, the q_ann_ivf convention); Lloyd
    // refinement per subspace would plug in IvfIndex.train unchanged.
    //
    // Scale shape: the codebook is M*K*32 longs of driver/broadcast
    // state at ANY corpus size; ENCODE is one map-only pass (argmin of
    // K codegen'd dot_long scores per subspace — the vector's own norm
    // is constant across codes and drops out of the argmin); the ADC
    // tables are 5 queries x 8 codes x 2 subspaces = 80 driver-built
    // rows broadcast onto the encoded corpus (two broadcast hash
    // joins, no shuffle), and the top-5 heap is TopKPerGroupExec. At
    // 100 TB the encoded corpus is 2 bytes/vector where the raw
    // vectors are 256 — the memory ratio that makes billion-scale
    // in-RAM search possible. All-integer arithmetic end-to-end, so
    // the ADC estimates hash-gate exactly.
    Q("q_ann_pq",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import s.implicits._
        val e = scaled(s, d)
        val books = pqBooks(e)
        val encd = e.select(col("vec_id"),
          pqEncCol(books)(slice(col("sv"), 1, 32), 0).as("c0"),
          pqEncCol(books)(slice(col("sv"), 33, 32), 1).as("c1"))
        // ADC lookup tables (FAISS's per-query dtable), driver-built
        val queries = e.filter(col("vec_id") < 5)
          .select("vec_id", "sv").collect()
          .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
        val dt0 = (for ((qid, qv) <- queries.toSeq; c <- 0 until 8)
          yield (qid, c, pqD2(qv.slice(0, 32), books(0)(c))))
          .toDF("query_id", "code0", "d0")
        val dt1 = (for ((qid, qv) <- queries.toSeq; c <- 0 until 8)
          yield (qid, c, pqD2(qv.slice(32, 64), books(1)(c))))
          .toDF("q1", "code1", "d1")
        val est = encd
          .join(broadcast(dt0), encd("c0") === dt0("code0"))
          .join(broadcast(dt1),
            col("query_id") === col("q1") && encd("c1") === dt1("code1"))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            (col("d0") + col("d1")).as("est"))
        val top = graft.plans.TopKPerGroup.topKPerGroup(est,
          Seq(col("query_id")), Seq(asc("est"), asc("neighbor_id")), 5)
        val w = Window.partitionBy("query_id")
          .orderBy(asc("est"), asc("neighbor_id"))
        top.withColumn("rank", row_number().over(w).cast(LongType))
          .select("query_id", "neighbor_id", "rank", "est")
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $scaledCte,
             |seed AS (SELECT CAST(vec_id AS INT) AS c, sv FROM nrm
             |         WHERE vec_id < 8),
             |cb0 AS (SELECT c, sv[1:32] AS cv FROM seed),
             |cb1 AS (SELECT c, sv[33:64] AS cv FROM seed),
             |enc0 AS (
             |  SELECT vec_id, c AS c0 FROM (
             |    SELECT e.vec_id, b.c,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        list_sum(list_transform(range(1, 33),
             |          i -> (e.sv[i] - b.cv[i]) * (e.sv[i] - b.cv[i]))),
             |        b.c) AS rn
             |    FROM nrm e CROSS JOIN cb0 b) t WHERE rn = 1),
             |enc1 AS (
             |  SELECT vec_id, c AS c1 FROM (
             |    SELECT e.vec_id, b.c,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        list_sum(list_transform(range(1, 33),
             |          i -> (e.sv[i + 32] - b.cv[i]) * (e.sv[i + 32] - b.cv[i]))),
             |        b.c) AS rn
             |    FROM nrm e CROSS JOIN cb1 b) t WHERE rn = 1),
             |q AS (SELECT vec_id AS query_id, sv FROM nrm WHERE vec_id < 5),
             |dt0 AS (
             |  SELECT q.query_id, b.c AS code0,
             |    CAST(list_sum(list_transform(range(1, 33),
             |      i -> (q.sv[i] - b.cv[i]) * (q.sv[i] - b.cv[i])))
             |      AS BIGINT) AS d0
             |  FROM q CROSS JOIN cb0 b),
             |dt1 AS (
             |  SELECT q.query_id, b.c AS code1,
             |    CAST(list_sum(list_transform(range(1, 33),
             |      i -> (q.sv[i + 32] - b.cv[i]) * (q.sv[i + 32] - b.cv[i])))
             |      AS BIGINT) AS d1
             |  FROM q CROSS JOIN cb1 b),
             |est AS (
             |  SELECT dt0.query_id, e0.vec_id AS neighbor_id,
             |    dt0.d0 + dt1.d1 AS est
             |  FROM enc0 e0 JOIN enc1 e1 ON e0.vec_id = e1.vec_id
             |  JOIN dt0 ON dt0.code0 = e0.c0
             |  JOIN dt1 ON dt1.query_id = dt0.query_id
             |    AND dt1.code1 = e1.c1
             |  WHERE e0.vec_id <> dt0.query_id),
             |r AS (
             |  SELECT query_id, neighbor_id, est,
             |    CAST(row_number() OVER (PARTITION BY query_id
             |      ORDER BY est, neighbor_id) AS BIGINT) AS rank
             |  FROM est)
             |SELECT query_id, neighbor_id, rank, est FROM r
             |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // IVF-PQ — the two ANN halves COMPOSED the way FAISS's flagship
    // IndexIVFPQ does it (Jégou et al., PAMI'11 §IV): the IVF coarse
    // quantizer prunes WHICH vectors are scored (read only the
    // probed inverted lists out of the persisted partitioned index —
    // same static partition filter as q_ann_ivf), and PQ compresses
    // HOW each survivor is scored (2-byte codes + per-query ADC
    // tables instead of raw vectors). At 100 TB both cuts multiply:
    // nProbe/K of the corpus is read, and each read row costs a
    // 2-lookup integer add instead of a 64-dim dot — the shape that
    // serves billion-vector search from RAM. Candidate restriction
    // is the broadcast probe join; ADC tables are 80 driver-built
    // rows; the top-5 heap is TopKPerGroupExec. All-integer, so the
    // composed estimates hash-gate exactly against the oracle, whose
    // CTEs are literally the IVF probe chain + the PQ encode chain
    // joined on the candidate set.
    Q("q_ann_ivfpq",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import s.implicits._
        val e = scaled(s, d)
        val qs = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("sv").as("qv"))
        // probe ranking: identical to IvfIndex.searchIndexed
        val wp = Window.partitionBy("query_id")
          .orderBy(desc("csim"), asc("centroid_id"))
        val probes = qs.crossJoin(broadcast(ivfCentroids(e)))
          .withColumn("csim", simScaled(col("qv"), col("cv")))
          .withColumn("prn", row_number().over(wp))
          .filter(col("prn") <= 2)
          .select(col("query_id"), col("centroid_id"))
        val probedIds = probes.select("centroid_id").distinct()
          .collect().map(_.getInt(0)).toSeq // bounded by K
        val lists = s.read.parquet(ivfIndexDir(s, d))
          .filter(col("centroid_id").isin(probedIds: _*))
        val books = pqBooks(e)
        // PQ-encode only the probed lists (build-time encode at scale;
        // same codes either way — the encoder is per-row)
        val encd = lists.select(col("vec_id"), col("centroid_id"),
          pqEncCol(books)(slice(col("embedding"), 1, 32), 0).as("c0"),
          pqEncCol(books)(slice(col("embedding"), 33, 32), 1).as("c1"))
        val queries = e.filter(col("vec_id") < 5)
          .select("vec_id", "sv").collect()
          .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
        val dt0 = (for ((qid, qv) <- queries.toSeq; c <- 0 until 8)
          yield (qid, c, pqD2(qv.slice(0, 32), books(0)(c))))
          .toDF("q0", "code0", "d0")
        val dt1 = (for ((qid, qv) <- queries.toSeq; c <- 0 until 8)
          yield (qid, c, pqD2(qv.slice(32, 64), books(1)(c))))
          .toDF("q1", "code1", "d1")
        val est = encd.join(broadcast(probes), Seq("centroid_id"))
          .filter(col("vec_id") =!= col("query_id"))
          .join(broadcast(dt0),
            col("query_id") === col("q0") && col("c0") === col("code0"))
          .join(broadcast(dt1),
            col("query_id") === col("q1") && col("c1") === col("code1"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            (col("d0") + col("d1")).as("est"))
        val top = graft.plans.TopKPerGroup.topKPerGroup(est,
          Seq(col("query_id")), Seq(asc("est"), asc("neighbor_id")), 5)
        val w = Window.partitionBy("query_id")
          .orderBy(asc("est"), asc("neighbor_id"))
        top.withColumn("rank", row_number().over(w).cast(LongType))
          .select("query_id", "neighbor_id", "rank", "est")
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $scaledCte,
             |$ivfProbeCtes,
             |seed AS (SELECT CAST(vec_id AS INT) AS c, sv FROM nrm
             |         WHERE vec_id < 8),
             |cb0 AS (SELECT c, sv[1:32] AS cv FROM seed),
             |cb1 AS (SELECT c, sv[33:64] AS cv FROM seed),
             |enc0 AS (
             |  SELECT vec_id, c AS c0 FROM (
             |    SELECT e.vec_id, b.c,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        list_sum(list_transform(range(1, 33),
             |          i -> (e.sv[i] - b.cv[i]) * (e.sv[i] - b.cv[i]))),
             |        b.c) AS rn
             |    FROM nrm e CROSS JOIN cb0 b) t WHERE rn = 1),
             |enc1 AS (
             |  SELECT vec_id, c AS c1 FROM (
             |    SELECT e.vec_id, b.c,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        list_sum(list_transform(range(1, 33),
             |          i -> (e.sv[i + 32] - b.cv[i]) * (e.sv[i + 32] - b.cv[i]))),
             |        b.c) AS rn
             |    FROM nrm e CROSS JOIN cb1 b) t WHERE rn = 1),
             |q AS (SELECT vec_id AS query_id, sv FROM nrm WHERE vec_id < 5),
             |dt0 AS (
             |  SELECT q.query_id, b.c AS code0,
             |    CAST(list_sum(list_transform(range(1, 33),
             |      i -> (q.sv[i] - b.cv[i]) * (q.sv[i] - b.cv[i])))
             |      AS BIGINT) AS d0
             |  FROM q CROSS JOIN cb0 b),
             |dt1 AS (
             |  SELECT q.query_id, b.c AS code1,
             |    CAST(list_sum(list_transform(range(1, 33),
             |      i -> (q.sv[i + 32] - b.cv[i]) * (q.sv[i + 32] - b.cv[i])))
             |      AS BIGINT) AS d1
             |  FROM q CROSS JOIN cb1 b),
             |cand AS (
             |  SELECT p.query_id, a.vec_id AS neighbor_id
             |  FROM asg a JOIN probes p ON a.centroid_id = p.centroid_id
             |  WHERE a.vec_id <> p.query_id),
             |est AS (
             |  SELECT ca.query_id, ca.neighbor_id, dt0.d0 + dt1.d1 AS est
             |  FROM cand ca
             |  JOIN enc0 e0 ON ca.neighbor_id = e0.vec_id
             |  JOIN enc1 e1 ON ca.neighbor_id = e1.vec_id
             |  JOIN dt0 ON dt0.query_id = ca.query_id AND dt0.code0 = e0.c0
             |  JOIN dt1 ON dt1.query_id = ca.query_id AND dt1.code1 = e1.c1),
             |r2 AS (
             |  SELECT query_id, neighbor_id, est,
             |    CAST(row_number() OVER (PARTITION BY query_id
             |      ORDER BY est, neighbor_id) AS BIGINT) AS rank
             |  FROM est)
             |SELECT query_id, neighbor_id, rank, est FROM r2
             |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // MMR DIVERSIFIED RE-RANK (Carbonell & Goldstein, SIGIR'98) — the
    // post-retrieval step that turns a similarity top-k into a USEFUL
    // top-k: greedy selection of 5 results per query maximizing
    // λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s) at λ = 1/2 — near
    // duplicates of an already-selected result are penalized by
    // exactly their redundancy. This is the de-dup-at-read-time
    // complement of the corpus dedup family: RAG and eval pipelines
    // run it on every retrieval.
    //
    // Scale shape: the DISTRIBUTED stage is candidate generation
    // (brute-force top-20 per query through TopKPerGroupExec — swap in
    // the IVF probe at 100 TB); the greedy rounds then run DRIVER-SIDE
    // over the collected candidate set, which is ≤ queries × 20 rows
    // BY CONSTRUCTION — the K-bounded driver-state precedent of
    // IvfIndex (≤ 257 rows) — because 5 rounds of join+argmax over
    // KB-sized frames cost ~25 scheduled stages of pure planning
    // overhead (measured 14.4 s at sf0.1 vs 0.9 s for this form; the
    // corpus-side cost is identical). Determinism: rel comes out of
    // the distributed stage's exactly-rounded IEEE division; the
    // driver sim mirrors the oracle's expression op-for-op (exact
    // long dot → one cast, one product of casts, sqrt, divide — all
    // correctly rounded, so bit-identical cross-engine); λ = 1/2
    // makes both MMR terms exact halvings; ties break on cand_id —
    // the greedy trajectory hash-gates despite doubles.
    Q("q_mmr_rerank",
      (s, d) => {
        val e = scaled(s, d)
        val q = e.filter(col("vec_id") < 3)
          .select(col("vec_id").as("query_id"), col("sv").as("qv"),
            col("nn").as("qn"))
        val cands = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .withColumn("rel", cosineFromScaled(
            col("qv"), col("sv"), col("qn"), col("nn")))
        val top20 = graft.plans.TopKPerGroup.topKPerGroup(cands,
          Seq(col("query_id")), Seq(desc("rel"), asc("vec_id")), 20)
          .select(col("query_id"), col("vec_id").as("cand_id"),
            col("rel"), col("sv"), col("nn"))
          .collect() // bounded: queries × 20 rows by construction
        case class C(id: Long, rel: Double, sv: Array[Long], nn: Long)
        def sim(a: C, b: C): Double = {
          var dot = 0L; var i = 0
          while (i < a.sv.length) { dot += a.sv(i) * b.sv(i); i += 1 }
          dot.toDouble / math.sqrt(a.nn.toDouble * b.nn.toDouble)
        }
        val rows = top20
          .map(r => (r.getLong(0), C(r.getLong(1), r.getDouble(2),
            r.getSeq[Long](3).toArray, r.getLong(4))))
          .groupBy(_._1).toSeq.flatMap { case (qid, arr) =>
            val cs = arr.map(_._2).sortBy(c => (-c.rel, c.id)).toVector
            var selected = Vector(cs.head)
            var out = Vector((qid, cs.head.id, 1L, cs.head.rel))
            for (t <- 2 to 5) {
              val rem = cs.filterNot(c => selected.exists(_.id == c.id))
              val best = rem
                .map(c => (c, 0.5 * c.rel - 0.5 * selected.map(sim(c, _)).max))
                .minBy { case (c, sc) => (-sc, c.id) }
              selected :+= best._1
              out :+= ((qid, best._1.id, t.toLong, best._2))
            }
            out
          }
        import s.implicits._
        rows.toDF("query_id", "cand_id", "rank", "score")
          .orderBy("query_id", "rank")
      },
      Some {
        def cos(a: String, b: String, an: String, bn: String) =
          s"""CAST(list_sum(list_transform(range(1, 65),
             |      i -> $a[i] * $b[i])) AS DOUBLE)
             |      / sqrt(CAST($an AS DOUBLE) * CAST($bn AS DOUBLE))""".stripMargin
        val layers = (2 to 5).map { t =>
          s"""sel$t AS (
             |  SELECT query_id, cand_id, CAST($t AS BIGINT) AS rank, score
             |  FROM (
             |    SELECT r.query_id, r.cand_id,
             |      CAST(0.5 AS DOUBLE) * r.rel
             |        - CAST(0.5 AS DOUBLE) * m.ms AS score,
             |      row_number() OVER (PARTITION BY r.query_id
             |        ORDER BY CAST(0.5 AS DOUBLE) * r.rel
             |          - CAST(0.5 AS DOUBLE) * m.ms DESC, r.cand_id) AS rn
             |    FROM top r
             |    JOIN (SELECT p.query_id, p.a_id, max(p.sim) AS ms
             |          FROM ps p JOIN all${t - 1} s
             |            ON p.query_id = s.query_id AND p.b_id = s.cand_id
             |          GROUP BY p.query_id, p.a_id) m
             |      ON r.query_id = m.query_id AND r.cand_id = m.a_id
             |    WHERE NOT EXISTS (SELECT 1 FROM all${t - 1} s2
             |      WHERE s2.query_id = r.query_id
             |        AND s2.cand_id = r.cand_id)) t
             |  WHERE rn = 1),
             |all$t AS (SELECT * FROM all${t - 1}
             |          UNION ALL SELECT * FROM sel$t)""".stripMargin
        }.mkString(",\n")
        s"""WITH $scaledCte,
           |q AS (SELECT vec_id AS query_id, sv AS qv, nn AS qn
           |      FROM nrm WHERE vec_id < 3),
           |c0 AS (
           |  SELECT query_id, vec_id AS cand_id,
           |    ${cos("qv", "sv", "qn", "nn")} AS rel, sv, nn
           |  FROM nrm JOIN q ON vec_id <> query_id),
           |top AS (
           |  SELECT query_id, cand_id, rel, sv, nn FROM (
           |    SELECT c0.*, row_number() OVER (PARTITION BY query_id
           |      ORDER BY rel DESC, cand_id) AS rn FROM c0) t
           |  WHERE rn <= 20),
           |ps AS (
           |  SELECT a.query_id, a.cand_id AS a_id, b.cand_id AS b_id,
           |    ${cos("a.sv", "b.sv", "a.nn", "b.nn")} AS sim
           |  FROM top a JOIN top b ON a.query_id = b.query_id
           |    AND a.cand_id <> b.cand_id),
           |sel1 AS (
           |  SELECT query_id, cand_id, CAST(1 AS BIGINT) AS rank,
           |    rel AS score
           |  FROM (
           |    SELECT query_id, cand_id, rel,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY rel DESC, cand_id) AS rn FROM top) t
           |  WHERE rn = 1),
           |all1 AS (SELECT * FROM sel1),
           |$layers
           |SELECT query_id, cand_id, rank, score FROM all5
           |ORDER BY query_id, rank""".stripMargin
      }),

    // CONTRASTIVE TRAINING-PAIR GENERATION — the step that turns a
    // corpus + an ANN index into embedding-model training data
    // (SimCSE/CLIP-style): for each anchor, one POSITIVE (its exact
    // nearest neighbor by cosine — in production the ANN index serves
    // this; the exact form keeps the oracle bit-for-bit) and three
    // NEGATIVES drawn deterministically by md5 of (anchor, slot),
    // skip-past-collision so a negative never equals the anchor or
    // the positive. Output is the exploded triplet table a training
    // job consumes. Scale shape: anchors broadcast against the corpus
    // scan for the positive (the q_ann_bruteforce pattern — swap in
    // the IVF probe at 100 TB), negatives are pure per-row arithmetic
    // against the corpus SIZE, not the corpus.
    Q("q_contrastive_pairs",
      (s, d) => {
        val e = scaled(s, d)
        val n = e.count() // corpus size: bounds the negative draw
        val q = e.filter(col("vec_id") < 50)
          .select(col("vec_id").as("anchor"), col("sv").as("a_sv"),
            col("nn").as("a_nn"))
        val c = e.select(col("vec_id").as("cand"), col("sv").as("b_sv"),
          col("nn").as("b_nn"))
        val pos = graft.plans.TopKPerGroup.topKPerGroup(
          c.join(broadcast(q), col("cand") =!= col("anchor"))
            .withColumn("cos", cosineFromScaled(
              col("a_sv"), col("b_sv"), col("a_nn"), col("b_nn"))),
          Seq(col("anchor")), Seq(desc("cos"), asc("cand")), 1)
          .select(col("anchor"), col("cand").as("positive"))
        // negative slot k: start at md5(anchor_k) mod n, then walk
        // forward past the anchor and the positive (mod n) — id space
        // is dense 0..n-1, so the draw is always resolvable
        val withSlots = pos.select(col("anchor"), col("positive"),
          explode(array((0 until 3).map(lit(_)): _*)).as("slot"))
          .withColumn("seed", pmod(conv(substring(md5(
            concat(col("anchor").cast(StringType), lit("_"),
              col("slot").cast(StringType))), 1, 8), 16, 10)
            .cast(LongType), lit(n)))
          .withColumn("negative",
            when(pmod(col("seed"), lit(n)) =!= col("anchor") &&
                 pmod(col("seed"), lit(n)) =!= col("positive"),
              pmod(col("seed"), lit(n)))
            .when(pmod(col("seed") + 1, lit(n)) =!= col("anchor") &&
                  pmod(col("seed") + 1, lit(n)) =!= col("positive"),
              pmod(col("seed") + 1, lit(n)))
            .otherwise(pmod(col("seed") + 2, lit(n))))
        withSlots.select(col("anchor"), col("positive"),
            col("slot").cast(LongType).as("slot"), col("negative"))
          .orderBy("anchor", "slot")
      },
      Some(s"""WITH $scaledCte,
             |nct AS (SELECT count(*) AS n FROM nrm),
             |q AS (SELECT vec_id AS anchor, sv AS a_sv, nn AS a_nn
             |      FROM nrm WHERE vec_id < 50),
             |c AS (SELECT vec_id AS cand, sv AS b_sv, nn AS b_nn FROM nrm),
             |sc2 AS (
             |  SELECT anchor, cand,
             |    $cosExpr AS cos
             |  FROM c JOIN q ON cand <> anchor),
             |pos AS (
             |  SELECT anchor, cand AS positive FROM (
             |    SELECT anchor, cand,
             |      row_number() OVER (PARTITION BY anchor
             |        ORDER BY cos DESC, cand) AS rn
             |    FROM sc2) t WHERE rn = 1),
             |slots AS (
             |  SELECT p.anchor, p.positive, CAST(s.s AS BIGINT) AS slot,
             |    CAST(('0x' || substr(md5(CAST(p.anchor AS VARCHAR) || '_' ||
             |      CAST(s.s AS VARCHAR)), 1, 8)) AS BIGINT) % n AS seed, n
             |  FROM pos p, range(0, 3) s(s), nct)
             |SELECT anchor, positive, slot,
             |  CASE
             |    WHEN seed % n <> anchor AND seed % n <> positive
             |      THEN seed % n
             |    WHEN (seed + 1) % n <> anchor AND (seed + 1) % n <> positive
             |      THEN (seed + 1) % n
             |    ELSE (seed + 2) % n
             |  END AS negative
             |FROM slots ORDER BY anchor, slot""".stripMargin)),

    // SemDeDup-style semantic near-duplicate pairs: cluster the
    // embedding space (k-means assignment to the deterministic IVF
    // centroids — map-only literal argmax, no shuffle of the corpus)
    // and compare vectors ONLY within their cluster. Same candidate-
    // pruning idea as q_dedup_embedding's label blocking, but the
    // blocking key is LEARNED from the vectors themselves, which is
    // what production semantic dedup (Abbas et al., SemDeDup) does:
    // per-cluster pairwise cost is (n/K)^2 * K = n^2/K, and clusters
    // shard independently across executors. Assignment ties and cosine
    // arithmetic are exact (scaled-integer dot products), so DuckDB
    // reproduces the pairs bit-for-bit.
    Q("q_dedup_semantic",
      (s, d) => {
        // both pairwise sides read the full corpus: materialize the
        // scaled vectors + norms once (same rationale as
        // q_dedup_embedding)
        val e = scaled(s, d)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // assignment as a COLUMN on the cached vectors (join-free):
        // each pair side re-evaluates the k-way argmax over the cache,
        // which is cheaper than joining the corpus against its own
        // assignment table
        val withC = IvfIndex.withCentroid(e, col("sv"),
          ivfCentroids(e), simScaled)
        val a = withC.select(col("centroid_id"), col("vec_id").as("a_id"),
          col("sv").as("a_sv"), col("nn").as("a_nn"))
        val b = withC.select(col("centroid_id"), col("vec_id").as("b_id"),
          col("sv").as("b_sv"), col("nn").as("b_nn"))
        a.join(b, Seq("centroid_id"))
          .filter(col("a_id") < col("b_id"))
          .withColumn("cos", cosineFromScaled(col("a_sv"), col("b_sv"),
            col("a_nn"), col("b_nn")))
          .filter(col("cos") >= NearDupThreshold)
          .select("a_id", "b_id", "centroid_id", "cos")
          .orderBy("a_id", "b_id")
      },
      Some(s"""WITH $scaledCte,
             |cent AS (SELECT CAST(vec_id AS INT) AS centroid_id,
             |    sv AS c_sv, nn AS c_nn FROM nrm WHERE vec_id < 8),
             |asg AS (
             |  SELECT vec_id, centroid_id FROM (
             |    SELECT e.vec_id, c.centroid_id,
             |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
             |        CAST(list_sum(list_transform(range(1, 65),
             |          i -> e.sv[i] * c.c_sv[i])) AS DOUBLE)
             |          / sqrt(CAST(e.nn AS DOUBLE) * CAST(c.c_nn AS DOUBLE)) DESC,
             |        c.centroid_id) AS rn
             |    FROM nrm e CROSS JOIN cent c) t
             |  WHERE rn = 1),
             |p AS (
             |  SELECT aa.centroid_id, a.vec_id AS a_id, b.vec_id AS b_id,
             |    a.sv AS a_sv, b.sv AS b_sv, a.nn AS a_nn, b.nn AS b_nn
             |  FROM nrm a JOIN asg aa ON a.vec_id = aa.vec_id
             |    JOIN asg bb ON aa.centroid_id = bb.centroid_id
             |    JOIN nrm b ON b.vec_id = bb.vec_id
             |  WHERE a.vec_id < b.vec_id),
             |s AS (
             |  SELECT centroid_id, a_id, b_id,
             |    $cosExpr AS cos
             |  FROM p)
             |SELECT a_id, b_id, centroid_id, cos FROM s
             |WHERE cos >= $NearDupThreshold
             |ORDER BY a_id, b_id""".stripMargin)),

    // one EXACT Lloyd iteration of k-means under the hash gate — the
    // training loop IvfIndex.train runs in float (means drift by
    // summation order) re-expressed so every step is engine-exact:
    // new centroid component = floor(sum(member sv_i) / count), an
    // integer floor-mean (sums exactly representable, one IEEE
    // division + floor). Distributed shape per iteration: per-cluster
    // means are ONE posexplode + hash aggregate over the members (a
    // (K x dim)-row result), re-assignment is again the map-only
    // literal argmax — the corpus is scanned, never shuffled; only the
    // kilobyte centroid table moves. Output: per-cluster membership
    // stats + the trained centroid's first component, so a wrong mean,
    // floor, or tie-break anywhere in the round breaks the hash.
    Q("q_kmeans",
      (s, d) => {
        val (a1, c1) = kmeansRound1(s, d)
        a1.join(broadcast(c1.select(col("centroid_id"),
            element_at(col("cv"), 1).as("c0"))), "centroid_id")
          .groupBy("centroid_id")
          .agg(count(lit(1)).as("n"),
               sum(col("vec_id")).as("id_sum"),
               max(col("c0")).as("c0"))
          .orderBy("centroid_id")
      },
      Some(s"""WITH $kmeansAsg1Cte
             |SELECT a.centroid_id, count(*) AS n,
             |  CAST(sum(a.vec_id) AS BIGINT) AS id_sum,
             |  max(c.c_sv[1]) AS c0
             |FROM asg1 a JOIN cent1n c ON a.centroid_id = c.centroid_id
             |GROUP BY a.centroid_id ORDER BY a.centroid_id""".stripMargin)),

    // K-MEANS SS DECOMPOSITION — the numeric analog of q_modularity's
    // graph grade: how tight are the trained clusters? The within-
    // cluster sum of squares is cleared of the rational mean:
    //   n_c · Σ_i |x_i − μ_c|²  =  n_c · Σ_i |x_i|² − |Σ_i x_i|²
    // (|·|² over the 64 scaled-int dims), so ssw2 is an EXACT integer
    // per cluster — no float mean ever materializes. A cluster whose
    // ssw2/n_c² dwarfs the others is the "junk drawer" an IVF layout
    // would split before sharding. Scale shape: the assignment is the
    // shared map-only Lloyd round; the decomposition is one posexplode
    // aggregate to (cluster, dim) sums — K·64 rows — plus a per-
    // cluster count/nn aggregate; nothing beyond K-sized frames after
    // the corpus scan.
    Q("q_kmeans_quality",
      (s, d) => {
        val (a1, _) = kmeansRound1(s, d)
        val base = a1.groupBy("centroid_id")
          .agg(count(lit(1)).as("n"), sum(col("nn")).as("sum_nn"))
        val dims = a1
          .select(col("centroid_id"),
            posexplode(col("sv")).as(Seq("pos", "v")))
          .groupBy("centroid_id", "pos")
          .agg(sum(col("v")).as("sdim"))
          .groupBy("centroid_id")
          .agg(sum(col("sdim") * col("sdim")).as("ss2"))
        base.join(dims, "centroid_id")
          .withColumn("ssw2", col("n") * col("sum_nn") - col("ss2"))
          .select("centroid_id", "n", "sum_nn", "ss2", "ssw2")
          .orderBy("centroid_id")
      },
      Some(s"""WITH $kmeansAsg1Cte,
             |j AS (
             |  SELECT a.centroid_id, e.sv, e.nn
             |  FROM asg1 a JOIN nrm e USING (vec_id)),
             |base AS (
             |  SELECT centroid_id, count(*) AS n,
             |    CAST(sum(nn) AS BIGINT) AS sum_nn
             |  FROM j GROUP BY centroid_id),
             |dims AS (
             |  SELECT centroid_id, i.i AS pos,
             |    CAST(sum(sv[i.i]) AS BIGINT) AS sdim
             |  FROM j, (SELECT unnest(range(1, 65)) AS i) i
             |  GROUP BY centroid_id, i.i),
             |persq AS (
             |  SELECT centroid_id, CAST(sum(sdim * sdim) AS BIGINT) AS ss2
             |  FROM dims GROUP BY centroid_id)
             |SELECT b.centroid_id, b.n, b.sum_nn, p.ss2,
             |  b.n * b.sum_nn - p.ss2 AS ssw2
             |FROM base b JOIN persq p USING (centroid_id)
             |ORDER BY b.centroid_id""".stripMargin)),

    // HYBRID RETRIEVAL (sparse + dense, RRF-fused) — the production
    // search shape every RAG/data-curation stack runs: for each of 5
    // probe docs, (a) a SPARSE ranking by integer-idf distinct-term
    // overlap — postings df-capped at 10% of the corpus so the
    // candidate join is rare-term-postings-sized, never corpus ×
    // corpus (the q_dedup_containment bound; idf is the house
    // (1e6·N div df) exact-integer weight), and (b) a DENSE ranking
    // by embedding cosine (brute-force here as the correctness
    // baseline; q_ann_ivf's persisted index is the drop-in scale
    // path). Each side keeps its top-50 (TopKPerGroup bounded
    // heaps), then reciprocal-rank fusion 1/(60+rank) over the FULL
    // OUTER join of the two 5×50 lists — constant-sized frames from
    // there on. Ranks tie-break by doc id, so the output is
    // deterministic for the oracle; docs appearing in only one list
    // contribute that list's term alone (the standard RRF rule).
    Q("q_hybrid_search",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // dense: cosine of 5 probes vs the embedding corpus, top-50
        val e = scaled(s, d)
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("sv").as("a_sv"),
            col("nn").as("a_nn"))
        val c = e.select(col("vec_id").as("doc_id"),
          col("sv").as("b_sv"), col("nn").as("b_nn"))
        val densePairs = c.join(broadcast(q),
            col("doc_id") =!= col("query_id"))
          .withColumn("cos", cosineFromScaled(
            col("a_sv"), col("b_sv"), col("a_nn"), col("b_nn")))
        val wD = Window.partitionBy("query_id")
          .orderBy(desc("cos"), asc("doc_id"))
        val dense = graft.plans.TopKPerGroup.topKPerGroup(densePairs,
            Seq(col("query_id")), Seq(desc("cos"), asc("doc_id")), 50)
          .withColumn("rank_d", row_number().over(wD).cast(LongType))
          .select("query_id", "doc_id", "rank_d")
        // sparse: df-capped distinct-term postings; candidates share
        // >= 1 rare term with a probe — postings-sized, not all-pairs
        val docs = Tables.load(s, d, "documents")
        val n = docs.count()
        val post = docs.select(col("doc_id"),
          explode(tokenSet(col("text"))).as("term"))
        val dfW = post.groupBy("term")
          .agg(count(lit(1)).as("df"))
          .filter(col("df") * 10 <= n)
          // the idf numerator is Scala-side Long arithmetic — an Int
          // literal 1000000 * n overflows past ~2k docs
          .withColumn("w", expr(s"${1000000L * n}L div df"))
        val capped = post.join(dfW, "term")
        val qp = capped.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"), col("term"))
        val sparseScore = capped.join(broadcast(qp), "term")
          .filter(col("doc_id") =!= col("query_id"))
          .groupBy("query_id", "doc_id")
          .agg(sum(col("w")).as("score"))
        val wS = Window.partitionBy("query_id")
          .orderBy(desc("score"), asc("doc_id"))
        val sparse = graft.plans.TopKPerGroup.topKPerGroup(sparseScore,
            Seq(col("query_id")), Seq(desc("score"), asc("doc_id")),
            50)
          .withColumn("rank_s", row_number().over(wS).cast(LongType))
          .select("query_id", "doc_id", "rank_s")
        // fuse: RRF over the union of the two bounded lists
        val fused = sparse.join(dense, Seq("query_id", "doc_id"),
            "full_outer")
          .withColumn("rrf",
            coalesce(lit(1.0) / (lit(60) + col("rank_s")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rank_d")), lit(0.0)))
        val wF = Window.partitionBy("query_id")
          .orderBy(desc("rrf"), asc("doc_id"))
        fused.withColumn("rn", row_number().over(wF))
          .filter(col("rn") <= 10).drop("rn")
          .select("query_id", "doc_id", "rank_s", "rank_d", "rrf")
          .orderBy(col("query_id"), desc("rrf"), col("doc_id"))
      },
      Some(s"""WITH $scaledCte,
             |q AS (SELECT vec_id AS query_id, sv AS a_sv, nn AS a_nn
             |      FROM nrm WHERE vec_id < 5),
             |c AS (SELECT vec_id AS doc_id, sv AS b_sv, nn AS b_nn
             |      FROM nrm),
             |dp AS (
             |  SELECT query_id, doc_id,
             |    $cosExpr AS cos
             |  FROM c JOIN q ON doc_id <> query_id),
             |dn AS (
             |  SELECT query_id, doc_id,
             |    CAST(row_number() OVER (PARTITION BY query_id
             |      ORDER BY cos DESC, doc_id) AS BIGINT) AS rank_d
             |  FROM dp
             |  QUALIFY rank_d <= 50),
             |post AS (
             |  SELECT doc_id, unnest(list_distinct(string_split(text,
             |    ' '))) AS term
             |  FROM documents),
             |nn_docs AS (SELECT count(*) AS n FROM documents),
             |dfw AS (
             |  SELECT term, count(*) AS df,
             |    (1000000 * (SELECT n FROM nn_docs)) // count(*) AS w
             |  FROM post GROUP BY term
             |  HAVING count(*) * 10 <= (SELECT n FROM nn_docs)),
             |capped AS (SELECT p.doc_id, p.term, d.w
             |  FROM post p JOIN dfw d USING (term)),
             |qp AS (SELECT doc_id AS query_id, term FROM capped
             |       WHERE doc_id < 5),
             |ss AS (
             |  SELECT q.query_id, p.doc_id,
             |    CAST(sum(p.w) AS BIGINT) AS score
             |  FROM capped p JOIN qp q USING (term)
             |  WHERE p.doc_id <> q.query_id
             |  GROUP BY q.query_id, p.doc_id),
             |sp AS (
             |  SELECT query_id, doc_id,
             |    CAST(row_number() OVER (PARTITION BY query_id
             |      ORDER BY score DESC, doc_id) AS BIGINT) AS rank_s
             |  FROM ss
             |  QUALIFY rank_s <= 50),
             |fused AS (
             |  SELECT COALESCE(s.query_id, d.query_id) AS query_id,
             |    COALESCE(s.doc_id, d.doc_id) AS doc_id,
             |    s.rank_s, d.rank_d,
             |    COALESCE(CAST(1 AS DOUBLE) / (60 + s.rank_s), 0)
             |      + COALESCE(CAST(1 AS DOUBLE) / (60 + d.rank_d), 0)
             |      AS rrf
             |  FROM sp s FULL JOIN dn d
             |    ON s.query_id = d.query_id AND s.doc_id = d.doc_id)
             |SELECT query_id, doc_id, rank_s, rank_d, rrf FROM (
             |  SELECT *, row_number() OVER (PARTITION BY query_id
             |    ORDER BY rrf DESC, doc_id) AS rn
             |  FROM fused) t
             |WHERE rn <= 10
             |ORDER BY query_id, rrf DESC, doc_id""".stripMargin))
  )

  /** Oracle CTE chain for the shared Lloyd round: scaled vectors →
    * deterministic seeds (cent0) → argmax assignment (asg0) →
    * floor-mean retrain (cent1/cent1n) → re-assignment (asg1) —
    * mirrors [[kmeansRound1]] and is shared by the q_kmeans and
    * q_kmeans_quality oracles. */
  private lazy val kmeansAsg1Cte: String =
    s"""$scaledCte,
       |cent0 AS (SELECT CAST(vec_id AS INT) AS centroid_id,
       |    sv AS c_sv, nn AS c_nn FROM nrm WHERE vec_id < 8),
       |asg0 AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT e.vec_id, c.centroid_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        CAST(list_sum(list_transform(range(1, 65),
       |          i -> e.sv[i] * c.c_sv[i])) AS DOUBLE)
       |          / sqrt(CAST(e.nn AS DOUBLE) * CAST(c.c_nn AS DOUBLE)) DESC,
       |        c.centroid_id) AS rn
       |    FROM nrm e CROSS JOIN cent0 c) t
       |  WHERE rn = 1),
       |m1 AS (
       |  SELECT a.centroid_id, i.i AS pos,
       |    CAST(floor(CAST(sum(e.sv[i.i]) AS DOUBLE)
       |      / CAST(count(*) AS DOUBLE)) AS BIGINT) AS m
       |  FROM nrm e JOIN asg0 a ON e.vec_id = a.vec_id,
       |    (SELECT unnest(range(1, 65)) AS i) i
       |  GROUP BY a.centroid_id, i.i),
       |cent1 AS (
       |  SELECT centroid_id, list(m ORDER BY pos) AS c_sv
       |  FROM m1 GROUP BY centroid_id),
       |cent1n AS (
       |  SELECT centroid_id, c_sv,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> c_sv[i] * c_sv[i])) AS BIGINT) AS c_nn
       |  FROM cent1),
       |asg1 AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT e.vec_id, c.centroid_id,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        CAST(list_sum(list_transform(range(1, 65),
       |          i -> e.sv[i] * c.c_sv[i])) AS DOUBLE)
       |          / sqrt(CAST(e.nn AS DOUBLE) * CAST(c.c_nn AS DOUBLE)) DESC,
       |        c.centroid_id) AS rn
       |    FROM nrm e CROSS JOIN cent1n c) t
       |  WHERE rn = 1)""".stripMargin
}
