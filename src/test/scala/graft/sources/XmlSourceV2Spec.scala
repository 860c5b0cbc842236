package graft.sources

import graft.SparkSpec
import graft.wiki.WikiFixture
import org.apache.spark.sql.functions._

/** The DataSource V2 face of the splittable XML scanner: same records
  * as the RDD path, real in-file split planning through the connector
  * API, and the pruned zero-column count path. */
class XmlSourceV2Spec extends SparkSpec {

  private val fixture = WikiFixture.path

  test("format(\"graft-xml\") reads the same records as the RDD path") {
    val v2 = spark.read.format("graft-xml")
      .option("rowTag", "page").load(fixture)
    val rdd = SplittableXml.records(spark, fixture, "page")
    val a = v2.select(md5(col("value"))).collect().map(_.getString(0)).sorted
    val b = rdd.select(md5(col("value"))).collect().map(_.getString(0)).sorted
    assert(a.length === 10)
    assert(a.toSeq === b.toSeq)
  }

  test("small splitBytes yields multiple in-file partitions, same rows") {
    val v2 = spark.read.format("graft-xml")
      .option("rowTag", "page").option("splitBytes", "30000")
      .load(fixture)
    assert(v2.rdd.getNumPartitions > 1,
      s"expected in-file splits, got ${v2.rdd.getNumPartitions}")
    assert(v2.count() === 10) // boundary-straddling pages owned once
  }

  test("count(*) prunes to a zero-column read") {
    val v2 = spark.read.format("graft-xml")
      .option("rowTag", "page").load(fixture)
    assert(v2.count() === 10)
    val plan = v2.groupBy().count().queryExecution.executedPlan.toString
    // BatchScan prints its (pruned) output schema as [...] before the
    // scan description: an empty list means zero-width rows reach the
    // count, and the description echoes the empty ReadColumns
    assert(plan.contains("[] graft-xml") &&
      plan.contains("ReadColumns: []"),
      s"count did not prune the value column:\n$plan")
  }

  test("full class name works without the service registration") {
    val v2 = spark.read.format("graft.sources.XmlSourceV2")
      .option("rowTag", "page").load(fixture)
    assert(v2.count() === 10)
  }

  test("contains/startsWith filters push into the scan (plan shows " +
    "them, no Filter node survives) and the record set stays exact") {
    val v2 = spark.read.format("graft-xml")
      .option("rowTag", "page").load(fixture)
    val filtered = v2.filter(col("value").contains("<title>Armonium"))
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("StringContains(value,<title>Armonium"),
      s"filter not pushed:\n$plan")
    // fully consumed: the accepted predicate leaves NO Filter above
    // the scan (it is exactly enforceable on the raw record)
    assert(!plan.contains("Filter („") && !plan.split("\n")
      .exists(l => l.trim.startsWith("+- Filter") ||
        l.trim.startsWith("Filter ")),
      s"residual Filter survived an exactly-pushed predicate:\n$plan")
    // exactness: pushed result == unpushed reference evaluation
    val pushedTitles = filtered.collect().map(_.getString(0)).sorted
    val reference = SplittableXml.records(spark, fixture, "page")
      .collect().map(String.valueOf(_))
      .filter(_.contains("<title>Armonium")).sorted
    assert(pushedTitles.nonEmpty)
    assert(pushedTitles.toSeq === reference.toSeq)
    // a filtered count: the screen feeds the zero-column path too
    assert(filtered.count() === reference.length)
  }

  test("a path that matches nothing fails the read, naming the path") {
    val missing = java.nio.file.Files.createTempDirectory("v2missing")
      .resolve("absent.xml").toString
    val e = intercept[Exception](spark.read.format("graft-xml")
      .option("rowTag", "page").load(missing))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => c.isInstanceOf[java.io.FileNotFoundException] &&
      c.getMessage.contains(missing)), e)
    // the SQL face fails at DDL time too
    val ddl = intercept[Exception](spark.sql(
      s"CREATE TEMPORARY VIEW v2missing USING `graft-xml` " +
        s"OPTIONS (path '$missing', rowTag 'page')"))
    assert(Iterator.iterate[Throwable](ddl)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.io.FileNotFoundException]), ddl)
  }
}
