package graft

import java.lang.ref.WeakReference
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

/** Tables.once — the write-once registry behind every per-(session,
  * sf dir) fixture: one build per key under concurrency, nested builds,
  * retry after a failed build, and a weakly held session key. */
class TablesOnceSpec extends SparkSpec {

  test("8 concurrent callers of one key: one build, one instance") {
    val builds = new AtomicInteger()
    val n = 8
    val barrier = new CyclicBarrier(n)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val futures = (1 to n).map { _ =>
        pool.submit(new java.util.concurrent.Callable[AnyRef] {
          def call(): AnyRef = {
            barrier.await(30, TimeUnit.SECONDS)
            Tables.once("once-spec-concurrent", spark, "d") {
              builds.incrementAndGet()
              Thread.sleep(200) // hold the build while the others arrive
              new Object
            }
          }
        })
      }
      val got = futures.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(got.forall(_ eq got.head))
    } finally pool.shutdownNow()
  }

  test("a build may call once for another key") {
    // 32 levels, each a new key created while every outer build is
    // still open: a single map's computeIfAbsent would hit its own
    // reservation here (same bin or a resize) and throw
    def nested(level: Int): String =
      if (level == 0) "leaf"
      else Tables.once(s"once-spec-nested-$level", spark, "d") {
        nested(level - 1) + s"<$level"
      }
    val v = nested(32)
    assert(v == "leaf" + (1 to 32).map(i => s"<$i").mkString)
    assert(Tables.once("once-spec-nested-1", spark, "d")("rebuilt") ==
      "leaf<1")
  }

  test("a build that throws leaves no entry; the next call builds") {
    val builds = new AtomicInteger()
    def call(fail: Boolean): String =
      Tables.once("once-spec-retry", spark, "d") {
        builds.incrementAndGet()
        if (fail) throw new IllegalStateException("build failed")
        "built"
      }
    intercept[IllegalStateException](call(fail = true))
    assert(call(fail = false) == "built")
    assert(call(fail = false) == "built")
    assert(builds.get == 2)
  }

  /** Uses the registry with a fresh session and returns only a weak
    * reference to it: no strong reference survives this frame. */
  private def useOnceWithFreshSession(): WeakReference[SparkSession] = {
    val s = spark.newSession()
    Tables.once("once-spec-weak", s, "d")(new String("value"))
    new WeakReference(s)
  }

  test("the session key is weak: a dropped session is collected") {
    val ref = useOnceWithFreshSession()
    var rounds = 0
    while (ref.get != null && rounds < 50) {
      System.gc()
      Thread.sleep(100)
      rounds += 1
    }
    assert(ref.get == null, s"session still reachable after $rounds GCs")
  }
}
