package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Counts the Spark jobs a block launches, and the input records their
  * tasks read, by job group. The listener bus is asynchronous, so a
  * count is read only after a FENCE job (its own group) has been seen:
  * events arrive in order, so every earlier job and task has too. */
trait JobCounting { this: SparkSpec =>

  protected def jobsOf[T](body: => T): (T, Int) = {
    val (out, tag) = fenced(body)
    var n = 0
    JobCounting.Jobs.groups.forEach(g => if (g == tag) n += 1)
    (out, n)
  }

  /** The `inputMetrics.recordsRead` summed over the tasks of `body`'s
    * jobs. */
  protected def recordsReadOf[T](body: => T): (T, Long) = {
    val (out, tag) = fenced(body)
    (out, JobCounting.Jobs.records.getOrDefault(tag, 0L).longValue)
  }

  protected def noJobs[T](what: String)(body: => T): T = {
    val (out, n) = jobsOf(body)
    assert(n === 0, s"$what ran $n Spark job(s)")
    out
  }

  /** Run `body` under a fresh job group; returns its result and the
    * group once the listener has seen every event of the group. */
  private def fenced[T](body: => T): (T, String) = {
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
    (out, tag)
  }
}

object JobCounting {
  private object Jobs extends SparkListener {
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private val stageGroup =
      new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val records =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      e.stageIds.foreach(stageGroup.put(_, g))
      groups.add(g)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (m <- Option(e.taskMetrics);
           g <- Option(stageGroup.get(e.stageId)))
        records.merge(g, java.lang.Long.valueOf(m.inputMetrics.recordsRead),
          (a: java.lang.Long, b: java.lang.Long) =>
            java.lang.Long.valueOf(a + b))
  }
  private lazy val listening = {
    SparkSpec.session.sparkContext.addSparkListener(Jobs); true
  }
  private val groupSeq = new java.util.concurrent.atomic.AtomicLong()
}
