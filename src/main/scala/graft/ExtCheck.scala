package graft

/** Deployment-path check for [[GraftExtensions]]: builds a session with
  * spark.sql.extensions=graft.GraftExtensions (the exact config a
  * cluster job would set) and exercises every injected piece from pure
  * SQL — cosine_sim, dot_long, simhash64, and the row_number<=k →
  * TopKPerGroup optimizer rewrite. Usage, from the repo root (the
  * default sf dir is SPARK_GRAFT_SF_DIR's, the default wiki dump the
  * in-repo 10-page test fixture):
  *   spark-submit --class graft.ExtCheck <jar> [sfDir] [wiki.xml]
  */
object ExtCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(SparkTune.sfDir)
    val wikiXml = args.lift(1)
      .getOrElse("src/test/resources/wiki/itwiki-sample-10pages.xml")
    val spark = SparkTune.session(
      "spark.master" -> sys.env.getOrElse("SPARK_MASTER", "local[4]"),
      "spark.app.name" -> "graft-extcheck",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.extensions" -> "graft.GraftExtensions")

    Tables.load(spark, sfDir, "embeddings").createOrReplaceTempView("emb")
    Tables.load(spark, sfDir, "documents").createOrReplaceTempView("docs")

    val cos = spark.sql(
      "SELECT cosine_sim(embedding, embedding) c FROM emb LIMIT 1")
      .collect()(0).getDouble(0)
    println(f"[ext] cosine_sim self = $cos%.4f (expect 1.0000)")
    assert(math.abs(cos - 1.0) < 1e-6)

    val dot = spark.sql(
      """SELECT dot_long(array(1L, 2L, 3L), array(4L, 5L, 6L)) d""")
      .collect()(0).getLong(0)
    println(s"[ext] dot_long([1,2,3],[4,5,6]) = $dot (expect 32)")
    assert(dot == 32L)

    val sh = spark.sql(
      """SELECT doc_id, simhash64(md5(tok)) fp FROM (
        |  SELECT doc_id, explode(array_distinct(split(text, ' '))) tok
        |  FROM docs) GROUP BY doc_id ORDER BY doc_id LIMIT 3""".stripMargin)
      .collect()
    sh.foreach { r =>
      val fp = r.getStruct(1)
      println(s"[ext] simhash64 doc ${r.getLong(0)}: " +
        s"hi=${fp.getLong(0)} lo=${fp.getLong(1)}")
      assert(fp.getLong(0) >= 0 && fp.getLong(1) >= 0)
    }

    val mg = spark.sql(
      """SELECT misra_gries(tok, 8) sk FROM (
        |  SELECT explode(split(text, ' ')) tok FROM docs)""".stripMargin)
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
    println(s"[ext] misra_gries(tok, 8): ${mg.length} candidates, " +
      s"top=${if (mg.nonEmpty) mg.head.getString(0) else "-"}")
    assert(mg.nonEmpty && mg.length <= 8)

    val ng = spark.sql(
      """SELECT g, count(*) n FROM (
        |  SELECT ngrams(split(text, ' '), 3) AS g FROM docs)
        |GROUP BY g ORDER BY n DESC, g LIMIT 3""".stripMargin)
      .collect()
    println(s"[ext] ngrams generator top-3 trigrams: " +
      ng.map(r => s"'${r.getString(0)}'x${r.getLong(1)}").mkString(", "))
    assert(ng.length == 3 && ng.head.getString(0).split(" ").length == 3)

    val topk = spark.sql(
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) rn
        |  FROM docs) WHERE rn <= 3""".stripMargin)
    topk.collect()
    val plan = topk.queryExecution.executedPlan.toString
    println(s"[ext] row_number<=k rewritten to TopKPerGroup: " +
      s"${plan.contains("TopKPerGroup")}")
    assert(plan.contains("TopKPerGroup"), plan)

    val rj = spark.sql(
      """SELECT count(*) n FROM
        |  (SELECT doc_id a, CAST(n_chars AS BIGINT) av FROM docs) x
        |  JOIN
        |  (SELECT doc_id b, CAST(n_chars AS BIGINT) bv FROM docs) y
        |  ON abs(av - bv) <= 2 AND a < b""".stripMargin)
    val rjPlan = rj.queryExecution.optimizedPlan.toString
    println(s"[ext] abs-range theta join auto-binned: " +
      s"${rjPlan.contains("__range_bin")}")
    assert(rjPlan.contains("__range_bin"), rjPlan)
    println(s"[ext] range-join pairs within |Δchars|<=2: " +
      s"${rj.collect()(0).getLong(0)}")

    // join elimination through the extensions path: declare the RELY
    // constraint, join docs to a distinct-key dim of itself via the
    // battery's real tables — use customer→nation like q_join_elim
    plans.FkCatalog.declare(spark, plans.FkCatalog.FkDecl(
      s"$sfDir/customer.parquet", "c_nationkey",
      s"$sfDir/nation.parquet", "n_nationkey"))
    val c = Tables.load(spark, sfDir, "customer")
    val n = Tables.load(spark, sfDir, "nation")
    val je = c.join(n, c("c_nationkey") === n("n_nationkey"))
      .select(c("c_custkey"), n("n_nationkey").as("nk"))
    val jePlan = je.queryExecution.optimizedPlan.toString
    println(s"[ext] declared PK-FK join eliminated: " +
      s"${!jePlan.contains("Join")}")
    assert(!jePlan.contains("Join"), jePlan)
    println(s"[ext] join-elim rows: ${je.count()}")

    // distinct elimination through the extensions path
    plans.FkCatalog.declarePk(spark, s"$sfDir/orders.parquet", "o_orderkey")
    val de = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus").distinct()
    val dePlan = de.queryExecution.optimizedPlan.toString
    println(s"[ext] PK distinct eliminated: ${!dePlan.contains("Aggregate")}")
    assert(!dePlan.contains("Aggregate"), dePlan)

    // nfc through the extensions path: decomposed e + U+0301 -> U+00E9
    val nfc = spark.sql("SELECT nfc('é') AS n, length(nfc('é')) AS l")
      .collect()(0)
    println(s"[ext] nfc recomposed to ${nfc.getString(0)} " +
      s"(len ${nfc.getInt(1)}, expect 1)")
    assert(nfc.getString(0) == "é" && nfc.getInt(1) == 1)

    // self-join elimination through the extensions path
    plans.FkCatalog.declarePk(spark, s"$sfDir/documents.parquet", "doc_id")
    val sl = Tables.load(spark, sfDir, "documents").select("doc_id", "n_chars")
    val sr = Tables.load(spark, sfDir, "documents").select("doc_id", "lang")
    val sj = sl.join(sr, sl("doc_id") === sr("doc_id"))
      .select(sl("doc_id"), sl("n_chars"), sr("lang"))
    val sjPlan = sj.queryExecution.optimizedPlan.toString
    println(s"[ext] declared-PK self-join merged: ${!sjPlan.contains("Join")}")
    assert(!sjPlan.contains("Join"), sjPlan)
    println(s"[ext] self-join-elim rows: ${sj.count()}")

    // DataSource V2 connector from pure SQL DDL (no Scala API): the
    // splittable XML scanner as a USING clause
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW wiki_dump
        |USING `graft-xml`
        |OPTIONS (
        |  path '$wikiXml',
        |  rowTag 'page')""".stripMargin)
    val nPages = spark.sql("SELECT count(*) AS n FROM wiki_dump")
      .collect()(0).getLong(0)
    println(s"[ext] graft-xml DSv2 via SQL DDL: $nPages pages (expect 10)")
    assert(nPages == 10L)

    // the V2 WRITE path: stage → commit → promote, then read back
    // through the same connector's inferred all-string schema
    val tsvOut = java.nio.file.Files
      .createTempDirectory("extcheck_tsv_").toString
    try {
      spark.sql("SELECT doc_id, lang FROM docs ORDER BY doc_id LIMIT 7")
        .write.format("graft-tsv").mode("overwrite").save(tsvOut)
      val back = spark.read.format("graft-tsv").load(tsvOut).count()
      val success = new java.io.File(s"$tsvOut/_SUCCESS").exists()
      println(s"[ext] graft-tsv DSv2 write+read: $back rows " +
        s"(expect 7), _SUCCESS=$success")
      assert(back == 7L && success)
    } finally org.apache.spark.network.util.JavaUtils
      .deleteRecursively(new java.io.File(tsvOut))

    println("[ext] all extension surfaces OK")
    spark.stop()
  }
}
