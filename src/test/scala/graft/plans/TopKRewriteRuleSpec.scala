package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The rule is injected here via session.experimental (getOrCreate
  * would silently ignore spark.sql.extensions once any suite has
  * created the shared session — extensions only apply at creation).
  * The spark.sql.extensions path itself is exercised by graft.ExtCheck
  * runs through spark-submit. */
class TopKRewriteRuleSpec extends SparkSpec {

  private def withRule[A](f: => A): A = {
    if (!spark.experimental.extraOptimizations.contains(TopKRewriteRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ TopKRewriteRule
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    try f
    finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == TopKRewriteRule)
    }
  }

  private def windowTopK(keepRank: Boolean) = {
    import org.apache.spark.sql.expressions.Window
    val c = spark.read.parquet(s"$sf0001/customer.parquet")
    val w = Window.partitionBy("c_nationkey")
      .orderBy(desc("c_acctbal"), asc("c_custkey"))
    val ranked = c.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    if (keepRank) ranked.select("c_nationkey", "c_custkey", "rn")
    else ranked.select("c_nationkey", "c_custkey")
  }

  test("row_number<=k + rank-dropping project rewrites to TopKPerGroup") {
    withRule {
      val df = windowTopK(keepRank = false)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerGroup ["), plan)
      assert(!plan.contains("Window"), plan)
    }
  }

  test("rewrite preserves results exactly") {
    val exp = windowTopK(keepRank = false).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet // no rule active
    val got = withRule {
      windowTopK(keepRank = false).collect()
        .map(r => (r.getInt(0), r.getLong(1))).toSet
    }
    assert(got === exp)
    assert(got.nonEmpty)
  }

  test("no rewrite when the rank column is kept") {
    withRule {
      val df = windowTopK(keepRank = true)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Window"), plan)
      assert(!plan.contains("TopKPerGroup ["), plan)
    }
  }

  test("no rewrite for rank() (non-row_number window functions)") {
    withRule {
      import org.apache.spark.sql.expressions.Window
      val c = spark.read.parquet(s"$sf0001/customer.parquet")
      val w = Window.partitionBy("c_nationkey").orderBy(desc("c_acctbal"))
      val df = c.withColumn("rn", rank().over(w)).filter(col("rn") <= 3)
        .select("c_nationkey", "c_custkey")
      df.collect()
      assert(df.queryExecution.executedPlan.toString.contains("Window"))
    }
  }

  test("no rewrite on floating-point partition keys (-0.0/0.0 grouping)") {
    withRule {
      import org.apache.spark.sql.expressions.Window
      import spark.implicits._
      // -0.0 and 0.0 keys must land in ONE group (normalized window
      // semantics); raw-UnsafeRow-byte grouping would split them
      val df0 = Seq((-0.0, 1), (0.0, 2), (0.0, 3), (1.5, 4), (1.5, 5))
        .toDF("k", "v")
      val w = Window.partitionBy("k").orderBy(asc("v"))
      val df = df0.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 1).select("v")
      val got = df.collect().map(_.getInt(0)).toSet
      assert(got === Set(1, 4), got.mkString(","))
      assert(df.queryExecution.executedPlan.toString.contains("Window"))
      assert(!df.queryExecution.executedPlan.toString.contains("TopKPerGroup ["))
    }
  }

  test("rn < Int.MinValue yields empty, never top-Int.MaxValue") {
    withRule {
      import org.apache.spark.sql.expressions.Window
      val c = spark.read.parquet(s"$sf0001/customer.parquet")
      val w = Window.partitionBy("c_nationkey")
        .orderBy(desc("c_acctbal"), asc("c_custkey"))
      val df = c.withColumn("rn", row_number().over(w))
        .filter(col("rn") < Int.MinValue).select("c_nationkey", "c_custkey")
      assert(df.collect().isEmpty)
      assert(!df.queryExecution.executedPlan.toString.contains("TopKPerGroup ["))
    }
  }
}
