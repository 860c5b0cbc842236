package graft

import org.apache.spark.sql.functions._

class TablesLoadSpec extends SparkSpec {

  test("events nanos handling is scoped to the read, not the session") {
    // loading events must NOT flip the session-global legacy conf:
    // other nanos-timestamp parquet reads in the same session keep
    // default semantics
    val before = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    val ev = graft.Tables.load(spark, sf0001, "events")
    assert(ev.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    assert(ev.select(max(col("ts"))).collect().head.getTimestamp(0) != null)
    assert(spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
      === before)
  }
}
