package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{lit, raise_error}

import graft.{SparkEntry, SparkSpec}

class ProfileSpec extends SparkSpec {

  /** The listeners on the context's bus (the accessor is Spark-private,
    * so it is read reflectively). */
  private def busListeners: Seq[AnyRef] = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[AnyRef]].asScala.toSeq
  }

  private def ours(ls: Seq[AnyRef]) =
    ls.filter(_.getClass.getName.startsWith(Profile.getClass.getName))

  test("profiles battery queries cold and warm, records a throwing " +
    "query's error without a time, and leaves no listener behind") {
    val good = Seq("q_agg_pricing", "q_incoming_refs").map(n =>
      Profile.profile(spark, sf0001, n, SparkEntry.queries(n)))
    val bad = Profile.profile(spark, sf0001, "throws",
      (s, _) => s.range(1).select(raise_error(lit("profile-boom"))))

    good.foreach { r =>
      assert(r.error.isEmpty, r)
      assert(r.coldMs.exists(_ > 0) && r.warmMs.exists(_ > 0), r)
      assert(r.counts.exists(_.jobs >= 1), r)
      assert(r.counts.exists(c => c.stages >= 1 && c.tasks >= c.stages), r)
      assert(r.smells.isDefined, r)
      assert(r.json.contains("\"error\":null") &&
        r.json.contains("\"smells\":{\"exchanges\":"), r.json)
    }
    assert(bad.error.exists(_.contains("profile-boom")), bad)
    assert(bad.coldMs.isEmpty && bad.warmMs.isEmpty && bad.counts.isEmpty)
    assert(bad.json.contains("\"cold_ms\":null,\"warm_ms\":null"), bad.json)

    assert(ours(busListeners).isEmpty, ours(busListeners))
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
  }

  test("plan smells count exchanges in the AQE-final plan and flag " +
    "cartesian joins") {
    val r = Profile.profile(spark, sf0001, "cross",
      (s, _) => s.range(3).toDF("a").crossJoin(s.range(4).toDF("b"))
        .groupBy("a").count())
    assert(r.error.isEmpty, r)
    val sm = r.smells.get
    assert(sm.exchanges >= 1, sm)
    assert(sm.cartesian || sm.bnlJoin, sm)
  }
}
