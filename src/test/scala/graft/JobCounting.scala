package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block launches, by job group. The listener
  * bus is asynchronous, so a count is read only after a FENCE job (its
  * own group) has been seen: events arrive in order, so every earlier
  * job has too. */
trait JobCounting { this: SparkSpec =>

  protected def jobsOf[T](body: => T): (T, Int) = {
    assert(JobCounting.listening)
    val sc = spark.sparkContext
    val tag = s"jobs-${JobCounting.groupSeq.incrementAndGet()}"
    sc.setJobGroup(tag, tag)
    val out = try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$tag-fence", "fence")
    try spark.range(1).count() finally sc.clearJobGroup()
    val groups = JobCounting.Jobs.groups
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!groups.contains(s"$tag-fence") &&
        System.nanoTime() < deadline) Thread.sleep(10)
    assert(groups.contains(s"$tag-fence"), "listener bus stalled")
    var n = 0
    groups.forEach(g => if (g == tag) n += 1)
    (out, n)
  }

  protected def noJobs[T](what: String)(body: => T): T = {
    val (out, n) = jobsOf(body)
    assert(n === 0, s"$what ran $n Spark job(s)")
    out
  }
}

object JobCounting {
  private object Jobs extends SparkListener {
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      groups.add(Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse(""))
  }
  private lazy val listening = {
    SparkSpec.session.sparkContext.addSparkListener(Jobs); true
  }
  private val groupSeq = new java.util.concurrent.atomic.AtomicLong()
}
