package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Coalesce, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Materialized-view rewrite: queries written against a BASE table are
  * transparently redirected to a pre-aggregated summary table when the
  * summary covers them — the classic warehouse accelerator, done the
  * Catalyst way (a `Rule[LogicalPlan]` injected via
  * `SparkSessionExtensions`, not a query-text macro).
  *
  * A registered MV is `SELECT g1..gk, sum(x) AS psum_x.., count(*) AS
  * pcnt FROM base GROUP BY g1..gk` written as parquet. An Aggregate
  * over a scan of the base path qualifies when its grouping keys are a
  * SUBSET of the MV's keys (re-aggregation handles coarser grouping)
  * and every output is a covered sum, a count(*), or a grouping key.
  * The rewrite re-aggregates partials — sum of partial sums, sum of
  * partial counts — which is exact because sum/count are commutative
  * monoids over the MV's partition of the base rows.
  *
  * Floating-point note: merging partial sums re-associates IEEE
  * additions. That is NOT a new error class — Spark's own distributed
  * sum(double) is already a partial-then-final merge whose grouping
  * depends on file splits and AQE, so the unrewritten query's answer
  * is equally association-dependent; the rewrite just picks a
  * different (deterministic) valid association. Exactness-critical
  * pipelines should sum decimals or integer-valued doubles (the
  * battery does), rewrite or no rewrite.
  *
  * At 100 TB this is the difference between scanning the fact table
  * per dashboard query and scanning a table the size of the key
  * cross-product: the rule makes every EXISTING query benefit without
  * a rewrite in user code. Conservative by construction: any output
  * shape it does not recognize (distinct aggs, filters in the agg,
  * expressions over keys, a type the merge would widen) leaves the
  * plan untouched — a missed rewrite is a performance miss, never a
  * wrong answer.
  */
object MvCatalog {

  /** One registered summary table for `basePath`: `groupCols` are the
    * MV's grouping keys, `sums` maps base column -> partial-sum column
    * in the MV, `countCol` is the partial row count. */
  case class MvDef(basePath: String, mvPath: String,
                   groupCols: Set[String], sums: Map[String, String],
                   countCol: String)

  private val reg = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), MvDef]()

  private[plans] def normalize(p: String): String =
    p.stripPrefix("file:")

  def register(s: SparkSession, mv: MvDef): Unit =
    reg.put((s, normalize(mv.basePath)), mv)

  def lookup(s: SparkSession, path: String): Option[MvDef] =
    Option(reg.get((s, normalize(path))))
}

/** Battery-side MV lifecycle: build + register the pricing summary
  * once per (session, sf dir) — the "warehouse nightly job" the rule
  * then serves every query from. */
object MvSetup {
  import org.apache.spark.sql.functions._

  def ensurePricingMv(s: SparkSession, d: String): Unit = {
    MvRewriteRule.ensure(s)
    graft.Tables.once("MvSetup.done", s, d) {
      val dir = graft.Tables.matDir("mv_pricing", s, d)
      // the MV build itself aggregates the base scan — registration
      // happens AFTER the write, so the build can never self-rewrite
      graft.Tables.load(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")).as("psum_qty"),
          count(lit(1)).as("pcnt"))
        .write.mode("overwrite").parquet(dir)
      MvCatalog.register(s, MvCatalog.MvDef(
        basePath = s"$d/lineitem.parquet", mvPath = dir,
        groupCols = Set("l_returnflag", "l_linestatus"),
        sums = Map("l_quantity" -> "psum_qty"), countCol = "pcnt"))
      dir
    }
  }
}

object MvRewriteRule {
  /** Register on the session's experimental optimizer hook — the
    * in-process analog of the GraftExtensions injection (same rule,
    * same batch), used by the battery and tests where the session is
    * built without extensions. Idempotent (case-class equality). */
  def ensure(spark: SparkSession): Unit = {
    val r = MvRewriteRule(spark)
    if (!spark.experimental.extraOptimizations.contains(r))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ r
  }
}

/** The rewrite rule itself — session-bound so it can analyze the MV
  * parquet into a fresh plan (fresh exprIds per rewrite: two MV scans
  * in one query must not share attribute ids). */
case class MvRewriteRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(_, _, child, _) =>
      scanPath(child)
        .flatMap(MvCatalog.lookup(session, _))
        .flatMap(tryRewrite(agg, _))
        .getOrElse(agg)
  }

  /** The root path of a bare (optionally column-pruned) file scan —
    * anything else (filters, joins, expressions) disqualifies. */
  private def scanPath(p: LogicalPlan): Option[String] = p match {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation =>
        h.location.rootPaths.headOption.map(_.toString)
      case _ => None
    }
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) =>
      scanPath(c)
    case _ => None
  }

  private def tryRewrite(agg: Aggregate,
                         mv: MvCatalog.MvDef): Option[LogicalPlan] = {
    // grouping keys must be bare base columns covered by the MV keys
    val groupAttrs = agg.groupingExpressions.map {
      case a: AttributeReference if mv.groupCols(a.name) => a
      case _ => return None
    }
    // a fresh analyzed plan for the MV parquet; resolve its columns
    val mvPlan = session.read.parquet(mv.mvPath).queryExecution.analyzed
    val mvOut = mvPlan.output.collect {
      case a: AttributeReference => a.name -> a
    }.toMap
    if (!(mv.groupCols ++ mv.sums.values + mv.countCol)
        .forall(mvOut.contains)) return None
    def mvAttr(name: String): AttributeReference = mvOut(name)

    val rewritten: Seq[NamedExpression] = agg.aggregateExpressions.map {
      // grouping key exposed directly: keep the ORIGINAL exprId so
      // parent operators' references stay valid
      case a: AttributeReference if mv.groupCols(a.name) =>
        Alias(mvAttr(a.name), a.name)(exprId = a.exprId)
      case al @ Alias(a: AttributeReference, name) if mv.groupCols(a.name) =>
        Alias(mvAttr(a.name), name)(exprId = al.exprId)
      case al @ Alias(ae: AggregateExpression, name)
          if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case s: Sum => s.child match {
            case a: AttributeReference if mv.sums.contains(a.name) =>
              val merged = Sum(mvAttr(mv.sums(a.name)))
              // reject any merge that would widen the result type
              // (e.g. decimal precision growth) — exactness first
              if (merged.dataType != s.dataType) return None
              Alias(merged.toAggregateExpression(), name)(exprId = al.exprId)
            case _ => return None
          }
          case c: Count if c.children.sizeIs == 1 &&
              c.children.head.isInstanceOf[Literal] =>
            // count(*) == sum of partial counts; MV groups are never
            // empty so the sum is never null — the coalesce only
            // restores count's non-null type contract
            val merged = Coalesce(Seq(
              Sum(mvAttr(mv.countCol)).toAggregateExpression(),
              Literal(0L)))
            Alias(merged, name)(exprId = al.exprId)
          case _ => return None
        }
      case _ => return None
    }
    Some(Aggregate(
      groupAttrs.map(a => mvAttr(a.name): Expression), rewritten, mvPlan,
      None))
  }
}
