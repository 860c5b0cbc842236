package graft.functions

import graft.SparkSpec
import graft.functions.GraftFunctions._
import org.apache.spark.sql.functions._

class GraftFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("tokens keeps trailing empties (java split limit -1 semantics)") {
    val r = Seq("a b ").toDF("t")
      .select(size(tokens(col("t"))).as("n")).head().getInt(0)
    assert(r === 3) // "a", "b", ""
  }

  test("shingles: w=3 over n tokens yields n-2; short docs yield empty") {
    def sh(s: String) = Seq(s).toDF("t")
      .select(shingles(tokens(col("t")), 3).as("s"))
      .head().getSeq[String](0)
    assert(sh("a b c d") === Seq("a b c", "b c d"))
    assert(sh("a b c") === Seq("a b c"))
    assert(sh("a b") === Seq.empty)
    assert(sh("a") === Seq.empty)
  }

  test("dotDecimal and cosineDecimal: known values") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
    val dot = df.select(dotDecimal(col("a"), col("b")).cast("double"))
      .head().getDouble(0)
    assert(dot === 32.0) // 4 + 10 + 18
    val cosSelf = df.select(cosineDecimal(col("a"), col("a")))
      .head().getDouble(0)
    assert(math.abs(cosSelf - 1.0) < 1e-12)
  }

  test("dsum is exact: 0.1 + 0.2 == 0.3 (no float drift)") {
    val r = Seq(0.1, 0.2).toDF("v").agg(dsum(col("v"))).head().getDouble(0)
    assert(r === 0.3)
  }
}
