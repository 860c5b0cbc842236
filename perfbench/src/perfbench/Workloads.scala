package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.sources.{BloomIndex, GraftCatalog, ManifestPrune, SplittableXml}
import graft.wiki.WikiPipeline

/** What an op and its workload see: the live session, the input and
  * scratch directories, and the tracer. */
final class Ctx(val data: String, val work: String, val seed: Long,
                val tracer: Tracer) {
  var spark: SparkSession = _
}

/** One closed-loop request. `run` is timed; the check it returns runs
  * untimed and yields an error message for a wrong answer. */
trait Op {
  def name: String
  def layer: String
  def kind: String // "read" or "write"
  def run(ctx: Ctx): () => Option[String]
}

trait Workload {
  def sessionConf: Map[String, String] = Map.empty
  /** Per-session set-up: the warm-up op plus any state the ops need. */
  def setup(ctx: Ctx): Unit
  /** Untimed warm-up passes between the cold pass and the warm passes. */
  def warmupPasses: Int = 0
  /** The op sequence of pass `p` (pass 0 is the cold pass). */
  def pass(ctx: Ctx, p: Int): Seq[Op]
  /** Extra measurements taken after the timed passes (untimed). */
  def finish(ctx: Ctx): Map[String, Any] = Map.empty
}

object Workloads {
  /** ROADMAP item 4's slowest dedup kernel, the per-session BPE model, a
    * hybrid similarity search, and short relational queries whose cost
    * is planning, optimizer rules and per-session fixtures. */
  val queries: Seq[String] = Seq("q_dedup_ngram_jaccard", "q_bpe_encode",
    "q_hybrid_search", "q_mv_rewrite", "q_join_elim", "q_topk",
    "q_asof_join", "q_sql_prune")
  /** Warm-up op: drives scan, codegen and the parquet reader once. */
  val warmup = "q_scan_filter_project"

  /** Query name -> graft module that defines it. */
  lazy val module: Map[String, String] = Seq(
    "queries" -> graft.queries.CoreQueries.all.map(_.name),
    "text" -> graft.text.TextQueries.all.map(_.name),
    "dedup" -> graft.dedup.DedupQueries.all.map(_.name),
    "similarity" -> graft.similarity.SimilarityQueries.all.map(_.name),
    "temporal" -> graft.temporal.TemporalQueries.all.map(_.name))
    .flatMap { case (m, ns) => ns.map(_ -> m) }.toMap

  def apply(name: String, goldens: Map[String, (Long, Long)]): Workload =
    name match {
      case "wiki_dump" => new WikiWorkload
      case "engine_ops" => new EngineWorkload(goldens)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def shuffled[T](xs: Seq[T], seed: Long, p: Int): Seq[T] =
    new Random(seed * 1000003L + p).shuffle(xs)

  /** Every regular file under a directory, with its size. */
  def files(dir: String): Map[Path, Long] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => f -> Files.size(f)).toMap
    finally s.close()
  }
}

/** A graft query, called through `SparkEntry.queries` and collected. */
final class QueryOp(val name: String, golden: Option[(Long, Long)])
    extends Op {
  val layer: String = Workloads.module.getOrElse(name, "queries")
  val kind = "read"

  def run(ctx: Ctx): () => Option[String] = {
    val t = ctx.tracer
    val fn = graft.SparkEntry.queries(name)
    val df = t(s"$name.build", layer)(fn(ctx.spark, ctx.data))
    if (t.enabled) t(s"$name.plan", "plans")(df.queryExecution.executedPlan)
    val rows = t(s"$name.exec", layer)(df.collect())
    if (t.enabled)
      t.note("exchanges", Trace.exchanges(df.queryExecution.executedPlan))
    () => {
      val got = Canon.digest(rows)
      golden match {
        case None => Some(s"no golden for $name")
        case Some(g) if g != got => Some(s"digest $got != golden $g")
        case _ => None
      }
    }
  }
}

final class QueryWorkload(names: Seq[String],
                          goldens: Map[String, (Long, Long)])
    extends Workload {
  private val ops = names.map(n => new QueryOp(n, goldens.get(n)))
  private var loadMs = Map.empty[String, Double]

  /** Traced runs time `Tables.load` of every base table in the first
    * session, before anything else has loaded them, and again warm. */
  private def timeLoads(ctx: Ctx): Unit = {
    def pass(): Double = graft.Tables.names.map { t =>
      val t0 = System.nanoTime()
      graft.Tables.load(ctx.spark, ctx.data, t)
      (System.nanoTime() - t0) / 1e6
    }.sum
    val cold = pass()
    loadMs = Map("load_cold_ms" -> cold, "load_warm_ms" -> pass())
  }

  override def finish(ctx: Ctx): Map[String, Any] = loadMs

  def setup(ctx: Ctx): Unit = {
    if (ctx.tracer.enabled) timeLoads(ctx)
    val rows = graft.SparkEntry.queries(Workloads.warmup)(ctx.spark, ctx.data)
      .collect()
    require(rows.nonEmpty, "warm-up query returned no rows")
  }

  def pass(ctx: Ctx, p: Int): Seq[Op] = Workloads.shuffled(ops, ctx.seed, p)
}

/** The paper's pipeline: XML dump -> links -> counts -> one CSV file. */
final class WikiWorkload extends Workload {
  /** A split well below each dump file, so every file is range-split
    * as a large dump is at the default 128 MB. */
  val splitBytes = 512L * 1024
  override def sessionConf: Map[String, String] =
    Map("spark.sql.files.maxPartitionBytes" -> splitBytes.toString)
  /** After the warm-up op a pass still gets faster, by about a third
    * over its first 20 runs and slowly after that, whether or not C2
    * compiles; so warm passes are timed from a fixed point on that curve:
    * a count, because the curve follows runs, not seconds. */
  override def warmupPasses: Int = 20

  private def expected(ctx: Ctx): String =
    Json.read(s"${ctx.data}/expected.json").get("sha256").asText

  def sha256(p: Path): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString

  def setup(ctx: Ctx): Unit = {
    val out = s"${ctx.work}/wiki_warmup.csv"
    WikiPipeline.writeCsv(WikiPipeline.run(ctx.spark, s"${ctx.data}/warm"), out)
  }

  private object Pipeline extends Op {
    val name = "wiki_pipeline"; val layer = "wiki"; val kind = "read"
    def run(ctx: Ctx): () => Option[String] = {
      val out = Paths.get(ctx.work, "wiki_counts.csv")
      Files.deleteIfExists(out)
      ctx.tracer("wiki.pipeline", "wiki") {
        WikiPipeline.writeCsv(
          WikiPipeline.run(ctx.spark, s"${ctx.data}/dump"), out.toString)
      }
      () => {
        val want = expected(ctx)
        val got = sha256(out)
        if (got == want) None else Some(s"csv sha256 $got != expected $want")
      }
    }
  }

  def pass(ctx: Ctx, p: Int): Seq[Op] = Seq(Pipeline)

  /** Traced runs add stage probes after the timed passes: each pipeline
    * prefix is run to a noop sink, so a stage's cost is the difference
    * between neighbouring prefixes. */
  override def finish(ctx: Ctx): Map[String, Any] = {
    if (!ctx.tracer.enabled) return Map.empty
    val s = ctx.spark
    val dump = s"${ctx.data}/dump"
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val reps = 3
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val t = ctx.tracer
    t.op = "probe"
    val probes = (1 to reps).map { _ =>
      val planS = time(SplittableXml.planSplits(s, dump, splitBytes))
      val scan = time(t("xml.scan", "xml")(
        SplittableXml.records(s, dump, "page").count()))
      val read = time(t("xml.read", "xml")(
        noop(WikiPipeline.readPages(s, dump))))
      val links = time(t("wiki.links", "wiki")(
        noop(WikiPipeline.links(WikiPipeline.readPages(s, dump)))))
      val counts = time(t("wiki.counts", "wiki")(noop(
        WikiPipeline.run(s, dump))))
      val full = time(t("wiki.write", "wiki")(WikiPipeline.writeCsv(
        WikiPipeline.run(s, dump), s"${ctx.work}/wiki_probe.csv")))
      Seq(planS, scan, read, links, counts, full)
    }
    val m = probes.transpose.map(med)
    Map(
      "xml.plan_ms" -> m(0) * 1000,
      "xml.splits" -> SplittableXml.planSplits(s, dump, splitBytes).size,
      "xml.records" -> SplittableXml.records(s, dump, "page").count(),
      "xml.scan_s" -> m(1),
      "xml.parse_s" -> (m(2) - m(1)),
      "wiki.extract_s" -> (m(3) - m(2)),
      "wiki.agg_sort_s" -> (m(4) - m(3)),
      "wiki.write_s" -> (m(5) - m(4)),
      "wiki.link_rows" ->
        WikiPipeline.links(WikiPipeline.readPages(s, dump)).count())
  }
}

/** The query functions and a churned graft table in one closed loop:
  * each pass runs every query once, in seeded order, between the table
  * ops, which keep a fixed order so every seed sees the same history. */
final class EngineWorkload(goldens: Map[String, (Long, Long)])
    extends Workload {
  private val queries = new QueryWorkload(Workloads.queries, goldens)
  private val churn = new ChurnWorkload

  def setup(ctx: Ctx): Unit = { queries.setup(ctx); churn.setup(ctx) }

  def pass(ctx: Ctx, p: Int): Seq[Op] = {
    val (cs, qs) = (churn.pass(ctx, p), queries.pass(ctx, p))
    cs.zipWithIndex.flatMap { case (c, i) => c +: qs.lift(i).toSeq } ++
      qs.drop(cs.size)
  }

  override def finish(ctx: Ctx): Map[String, Any] =
    queries.finish(ctx) ++ churn.finish(ctx)
}

/** Live-row model of the churned table: doc_id -> row. */
final case class Doc(id: Long, text: String, lang: String, source: String) {
  def nChars: Long = text.length.toLong
  def row: Row = Row(id, text, lang, source, nChars)
  def bytes: Long = 16L + text.length + lang.length + source.length
}

/** A graft table under commits and reads, checked against the
  * benchmark's own model of the live rows. */
final class ChurnWorkload extends Workload {
  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  private val words = ("spark window merge table column vector stream value " +
    "data small join filter big group hash customer sort order").split(" ")
  private val langs = Array("en", "zh", "de", "es", "fr")

  var root = ""
  var table = ""
  var model = Map.empty[Long, Doc]
  /** Retained versions -> live rows at that version. */
  val snaps = mutable.TreeMap.empty[Long, Map[Long, Doc]]
  var nextId = 0L
  /** Bytes the model says commits carried (inserted or rewritten rows). */
  var userBytes = 0L

  def setup(ctx: Ctx): Unit = {
    val s = ctx.spark
    root = s"${ctx.work}/churn_table"
    table = "bench.churn"
    val docs = graft.Tables.load(s, ctx.data, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
    model = docs.collect().map(r =>
      r.getLong(0) -> Doc(r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3))).toMap
    ManifestPrune.buildLayout(docs, root, nFiles = 8)
    BloomIndex.build(s, root, 0L)
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    GraftCatalog.registerTable(table, root)
    snaps(0L) = model
    nextId = model.keys.max + 1
    userBytes = 0L
  }

  private def version(s: SparkSession) = ManifestPrune.currentVersion(s, root)

  private def newDoc(rng: Random, id: Long): Doc =
    Doc(id, Seq.fill(5 + rng.nextInt(40))(words(rng.nextInt(words.length)))
      .mkString(" "), langs(rng.nextInt(langs.length)), s"src${id % 20}")

  /** Zipf-skewed pick among the live keys: low doc_ids are hot. */
  private def hotKeys(rng: Random, n: Int): Seq[Long] = {
    val keys = model.keys.toArray.sorted
    Seq.fill(n) {
      val u = rng.nextDouble()
      keys(math.min(keys.length - 1,
        (math.pow(keys.length.toDouble, u) - 1).toInt))
    }.distinct
  }

  private def df(s: SparkSession, docs: Seq[Doc]): DataFrame =
    s.createDataFrame(docs.map(_.row).asJava, schema)

  private def keysDf(s: SparkSession, keys: Seq[Long]): DataFrame =
    s.createDataFrame(keys.map(k => Row(k)).asJava,
      StructType(Seq(StructField("doc_id", LongType))))

  private def committed(s: SparkSession, payload: Long): Unit = {
    userBytes += payload
    snaps(version(s)) = model
  }

  private def op(n: String, k: String)(body: Ctx => () => Option[String]): Op =
    new Op {
      val name = n; val layer = "table"; val kind = k
      def run(ctx: Ctx): () => Option[String] = {
        val t = ctx.tracer
        if (!t.enabled || k != "write") t(s"table.$n", "table")(body(ctx))
        else t(s"table.$n", "table") {
          val before = Workloads.files(root)
          val check = body(ctx)
          val added = Workloads.files(root) -- before.keySet
          t.note("files_added", added.size.toLong)
          t.note("bytes_written", added.values.sum)
          check
        }
      }
    }

  private val ok: () => Option[String] = () => None

  private def expect(what: String, got: Any, want: Any): () => Option[String] =
    () => if (got == want) None else Some(s"$what: got $got, want $want")

  private def writeOp(kind: String, rng: Random): Op = kind match {
    case "append" => op("append", "write") { ctx =>
      val docs = Seq.tabulate(40)(i => newDoc(rng, nextId + i))
      nextId += docs.size
      ManifestPrune.appendCommit(ctx.spark, root, df(ctx.spark, docs))
      model ++= docs.map(d => d.id -> d)
      committed(ctx.spark, docs.map(_.bytes).sum); ok
    }
    case "merge" => op("merge", "write") { ctx =>
      val ups = hotKeys(rng, 30).map(k => newDoc(rng, k))
      val ins = Seq.tabulate(10)(i => newDoc(rng, nextId + i))
      nextId += ins.size
      ManifestPrune.morMergeCommit(ctx.spark, root, df(ctx.spark, ups),
        df(ctx.spark, ins))
      model ++= (ups ++ ins).map(d => d.id -> d)
      committed(ctx.spark, (ups ++ ins).map(_.bytes).sum); ok
    }
    case "delete" => op("delete", "write") { ctx =>
      val keys = hotKeys(rng, 20)
      ManifestPrune.dvDeleteCommit(ctx.spark, root, keysDf(ctx.spark, keys))
      model --= keys
      committed(ctx.spark, 8L * keys.size); ok
    }
    case "sql_delete" => op("sql_delete", "write") { ctx =>
      val keys = hotKeys(rng, 10)
      ctx.spark.sql(s"DELETE FROM graft.$table WHERE doc_id IN " +
        keys.mkString("(", ", ", ")"))
      model --= keys
      committed(ctx.spark, 8L * keys.size); ok
    }
    case "compact" => op("compact", "write") { ctx =>
      ManifestPrune.compactCommit(ctx.spark, root, 8)
      committed(ctx.spark, 0L); ok
    }
    case "vacuum" => op("vacuum", "write") { ctx =>
      ManifestPrune.expireVersions(ctx.spark, root, keepLast = 4, graceMs = 0L)
      val cur = version(ctx.spark)
      snaps.keys.filter(_ <= cur - 4).toSeq.foreach(snaps.remove)
      ok
    }
  }

  private def readOp(kind: String, rng: Random): Op = kind match {
    case "prune" => op("prune", "read") { ctx =>
      val lo = 80 + rng.nextInt(400); val hi = lo + 60
      val got = ctx.spark.sql(
        s"""SELECT lang, count(*), sum(n_chars), sum(doc_id) FROM graft.$table
           |WHERE n_chars BETWEEN $lo AND $hi GROUP BY lang""".stripMargin)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      val want = model.values.filter(d => d.nChars >= lo && d.nChars <= hi)
        .groupBy(_.lang).map { case (l, ds) =>
          (l, ds.size.toLong, ds.map(_.nChars).sum, ds.map(_.id).sum) }.toSet
      expect("prune", got, want)
    }
    case "lookup" => op("lookup", "read") { ctx =>
      val keys = (hotKeys(rng, 4) ++ Seq.fill(2)(rng.nextLong(nextId))).distinct
      val got = ctx.spark.sql(
        s"""SELECT doc_id, text, lang, source, n_chars FROM graft.$table
           |WHERE doc_id IN ${keys.mkString("(", ", ", ")")}""".stripMargin)
        .collect().map(r => Doc(r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3))).toSet
      expect("lookup", got, keys.flatMap(model.get).toSet)
    }
    case "topn" => op("topn", "read") { ctx =>
      val got = ctx.spark.sql(
        s"""SELECT doc_id, n_chars FROM graft.$table
           |ORDER BY n_chars DESC, doc_id LIMIT 10""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val want = model.values.toSeq.sortBy(d => (-d.nChars, d.id)).take(10)
        .map(d => (d.id, d.nChars))
      expect("topn", got, want)
    }
    case "travel" => op("travel", "read") { ctx =>
      val vs = snaps.keys.toIndexedSeq
      val v = vs(rng.nextInt(vs.size))
      val r = ctx.spark.sql(
        s"SELECT count(*), sum(doc_id) FROM graft.$table VERSION AS OF $v")
        .head()
      val m = snaps(v)
      expect(s"travel v$v", (r.getLong(0), r.getLong(1)),
        (m.size.toLong, m.keys.sum))
    }
    case "history" => op("history", "read") { ctx =>
      val rows = ManifestPrune.describeHistory(ctx.spark, root).collect()
      val last = rows.maxBy(_.getAs[Long]("version"))
      expect("history", (last.getAs[Long]("version"),
        last.getAs[Long]("live_rows")), (version(ctx.spark), model.size.toLong))
    }
    case "feed" => op("feed", "read") { ctx =>
      // the newest step: the pass runs it right after the merge
      val v = version(ctx.spark)
      val got = ManifestPrune.changeFeedStep(ctx.spark, root, v).collect()
        .map(r => (r.getAs[String]("op"), Doc(r.getAs[Long]("doc_id"),
          r.getAs[String]("text"), r.getAs[String]("lang"),
          r.getAs[String]("source"))))
      () => feedCheck(v, got)
    }
  }

  /** Updated keys a feed gave as delete + insert. */
  var relabelled = 0L

  /** Applying the feed of step v to the rows of v - 1 must give the rows
    * of v: every insert and post-image is a live row of v, every delete
    * and pre-image a row of v - 1 that v no longer holds unchanged.
    * An updated key may come as update_preimage + update_postimage or
    * as delete + insert. */
  private def feedCheck(v: Long, got: Array[(String, Doc)]): Option[String] = {
    val (a, b) = (snaps(v - 1), snaps(v))
    val gone = got.collect { case (o, d) if o == "delete" ||
      o == "update_preimage" => d }
    val came = got.collect { case (o, d) if o == "insert" ||
      o == "update_postimage" => d }
    val applied = a -- gone.map(_.id) ++ came.map(d => d.id -> d)
    val bad = gone.filterNot(d => a.get(d.id).contains(d)) ++
      came.filterNot(d => b.get(d.id).contains(d))
    val dels = got.collect { case ("delete", d) => d.id }.toSet
    relabelled += got.count { case (o, d) => o == "insert" && dels(d.id) }
    if (bad.nonEmpty) Some(s"feed v$v: ${bad.size} images disagree with the model")
    else if (applied != b) Some(s"feed v$v does not turn v${v - 1} into v$v")
    else None
  }

  /** Every pass runs each commit kind and each read once, in a fixed
    * order, with keys and rows from a fixed stream per pass. The feed
    * reads the step the merge just made. */
  def pass(ctx: Ctx, p: Int): Seq[Op] = {
    def rng(i: Int) = new Random(7919L * p + i)
    Seq(writeOp("append", rng(0)), readOp("lookup", rng(1)),
      writeOp("merge", rng(2)), readOp("feed", rng(3)),
      writeOp("delete", rng(4)), readOp("prune", rng(5)),
      writeOp("sql_delete", rng(6)), readOp("travel", rng(7)),
      writeOp("compact", rng(8)), readOp("topn", rng(9)),
      writeOp("vacuum", rng(10)), readOp("history", rng(11)))
  }

  override def finish(ctx: Ctx): Map[String, Any] = {
    val copy = s"${ctx.work}/churn_copy"
    ManifestPrune.readCommitted(ctx.spark, root, version(ctx.spark))
      .write.mode("overwrite").parquet(copy)
    val onDisk = Workloads.files(root)
    Map("table_bytes" -> onDisk.values.sum,
      "copy_bytes" -> Workloads.files(copy).values.sum,
      "files_on_disk" -> onDisk.keys.count(f =>
        f.getParent.getFileName.toString.startsWith("data") &&
          f.getFileName.toString.endsWith(".parquet")),
      "user_bytes" -> userBytes,
      "feed_relabelled_updates" -> relabelled,
      "versions" -> version(ctx.spark))
  }
}
