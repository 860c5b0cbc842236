package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-metric totals of one job group (one span). */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var inputBytes = 0L
  var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L
  var memSpillBytes = 0L; var diskSpillBytes = 0L
  var peakExecMem = 0L; var outputRows = 0L; var outputBytes = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "run_ms" -> runMs, "cpu_ns" -> cpuNs, "input_bytes" -> inputBytes,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "mem_spill_bytes" -> memSpillBytes, "disk_spill_bytes" -> diskSpillBytes,
    "peak_exec_mem_bytes" -> peakExecMem, "output_rows" -> outputRows,
    "output_bytes" -> outputBytes)
}

/** Attributes Spark's job, stage and task metrics to the job group that
  * was set when the job started. Events arrive on the listener bus
  * thread; totals are read after `SparkContext.stop()` drains it. */
final class GroupListener extends SparkListener {
  val byGroup = new ConcurrentHashMap[String, Counters]()
  val total = new Counters
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  private def counters(g: String): Counters =
    byGroup.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    e.stageIds.foreach(stageGroup.put(_, g))
    counters(g).jobs += 1; total.jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      if (e.properties != null)
        stageGroup.put(e.stageInfo.stageId, group(e.properties))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val g = stageGroup.getOrDefault(e.stageInfo.stageId, "")
      counters(g).stages += 1; total.stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val g = stageGroup.getOrDefault(e.stageId, "")
      for (c <- Seq(counters(g), total)) {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.memSpillBytes += m.memoryBytesSpilled
        c.diskSpillBytes += m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        c.outputRows += m.outputMetrics.recordsWritten
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}

/** Counts the query executions Spark reports and the wall time it
  * measured for them (a cross-check of the spans' own clocks). */
final class ActionListener extends QueryExecutionListener {
  @volatile var actions = 0L
  @volatile var failures = 0L
  @volatile var durationNs = 0L
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    synchronized { actions += 1; durationNs += ns }
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    synchronized { failures += 1 }
}

/** One timed interval around a call into a layer. */
final case class Span(id: String, name: String, layer: String,
                      parent: String, op: String,
                      startNs: Long, endNs: Long,
                      notes: Map[String, Any])

/** Records spans around layer calls and sets the job group to the span
  * id for the call's duration, so Spark's task metrics attach to it.
  * With tracing off it only runs the body. Spans stay in memory until
  * the run writes them out. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[String] = Nil
  private var next = 0L
  private var pendingNotes = Map.empty[String, Any]
  var spark: SparkSession = _
  var op: String = ""

  def note(k: String, v: Any): Unit = pendingNotes += (k -> v)

  def apply[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      next += 1
      val id = s"s$next"
      val parent = stack.headOption.getOrElse("")
      val sc = spark.sparkContext
      stack = id :: stack
      sc.setJobGroup(id, name, interruptOnCancel = false)
      val saved = pendingNotes
      pendingNotes = Map.empty
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans += Span(id, name, layer, parent, op, t0, t1, pendingNotes)
        pendingNotes = saved
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p, "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }
}

object Trace {
  /** Exchange nodes in a plan after execution: for an adaptive plan
    * this walks the final plan, including each query stage's exchange
    * and the plans of subqueries. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case o => o.children.map(exchanges).sum + o.subqueries.map(exchanges).sum
  }

  /** Self time of each span: its duration minus the union of the
    * intervals its direct children cover. */
  def selfNs(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
        .sortBy(_._1)
      var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      for ((a, b) <- ivs) {
        if (a > curE) { covered += math.max(0L, curE - curS); curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      covered += math.max(0L, curE - curS)
      s.id -> (s.endNs - s.startNs - covered)
    }.toMap
  }
}
