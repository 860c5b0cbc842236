package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {

  test("saltedJoin returns exactly the rows of the plain join") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val part = spark.read.parquet(s"$sf0001/part.parquet")
      .select("p_partkey", "p_brand")
    val plain = li.join(part, li("l_partkey") === part("p_partkey"))
      .groupBy("p_brand").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val salted = Skew.saltedJoin(li, part, "l_partkey", "p_partkey", 7)
      .groupBy("p_brand").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(salted === plain)
  }
}
