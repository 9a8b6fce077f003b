package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters of one span, filled by the bench's listeners from the
  * jobs that ran under the span's job group. */
final class Counters {
  var jobs, stages, tasks, taskFailures = 0L
  var runMs, cpuNs, gcMs, waitMs = 0L
  var shuffleRead, shuffleWrite, spill, peakMem, outBytes, outRecords = 0L
  var planMs = 0.0
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Wall time during which at least one job of the span was running. */
  def jobWallMs: Long = {
    var total = 0L
    var curS = -1L
    var curE = -1L
    for ((s, e) <- jobIntervals.sortBy(_._1)) {
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + curE - curS
  }
}

/** One bench-owned span around a public call of the program. */
final class Span(val id: Long, val parent: Long, val op: Long,
    val layer: String, val name: String, val startNs: Long) {
  var endNs: Long = startNs
  /** Rows the call reported as affected, where it reports any. */
  var rows: Long = -1L
  def group: String = s"pb-$id"
  def ms: Double = (endNs - startNs) / 1e6
}

/** Bench-side tracing: spans around the program's public calls, a
  * `SparkListener` that attributes every job, stage and task to the span
  * whose job group it ran under, and a `QueryExecutionListener` that
  * collects planning time. Nothing inside the program is instrumented.
  *
  * With `enabled = false` no listener is registered and [[span]] only runs
  * its body. With `enabled = true`, [[op]] traces every operation it is
  * told to trace; the others run as in an untraced run, so the two can be
  * compared within one process. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val pendingPlanMs = new ConcurrentLinkedQueue[java.lang.Double]()

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var active = false
  private var nextId = 1L
  private var opId = 0L

  private object JobListener extends SparkListener {
    private val jobGroup = mutable.Map.empty[Int, String]
    private val stageGroup = mutable.Map.empty[Int, String]
    private val stageSubmitted = mutable.Map.empty[Int, Long]
    private val jobStart = mutable.Map.empty[Int, Long]

    private def counters(g: String): Counters =
      byGroup.computeIfAbsent(g, _ => new Counters)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).filter(_.startsWith("pb-"))
      g.foreach { grp =>
        jobGroup(e.jobId) = grp
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, grp))
        counters(grp).jobs += 1
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobGroup.remove(e.jobId).foreach { g =>
        val c = counters(g)
        c.jobIntervals += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageGroup.get(e.stageInfo.stageId).foreach { g =>
        counters(g).stages += 1
        stageSubmitted(e.stageInfo.stageId) =
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageGroup.get(e.stageId).foreach { g =>
        val c = counters(g)
        c.tasks += 1
        if (e.reason != TaskSuccess) c.taskFailures += 1
        stageSubmitted.get(e.stageId).foreach(s =>
          c.waitMs += math.max(0L, e.taskInfo.launchTime - s))
        val m = e.taskMetrics
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
          c.outBytes += m.outputMetrics.bytesWritten
          c.outRecords += m.outputMetrics.recordsWritten
        }
      }
  }

  private object PlanListener extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private val seen = mutable.Set.empty[Long]
    /** One Dataset's actions share its QueryExecution and tracker, so
      * each execution's planning is counted once, at its first action. */
    private def record(qe: QueryExecution): Unit = if (seen.add(qe.id)) {
      val ph = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum
      pendingPlanMs.add(ms.toDouble)
    }
  }

  if (enabled) {
    sc.addSparkListener(JobListener)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.register(PlanListener)
  }

  def countersOf(s: Span): Counters =
    Option(byGroup.get(s.group)).getOrElse(new Counters)

  /** Run one operation; traced when tracing is on and `traced` is set. */
  def op[A](id: Long, traced: Boolean)(body: => A): A = {
    opId = id
    active = enabled && traced
    try span("op", "op")(body) finally active = false
  }

  /** A span named `name` of layer `layer` around `body`. Spark jobs that
    * `body` starts run under the span's job group. */
  def span[A](layer: String, name: String)(body: => A): A =
    if (!active) body
    else {
      val s = new Span(nextId, stack.headOption.map(_.id).getOrElse(0L),
        opId, layer, name, System.nanoTime())
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.group, name, interruptOnCancel = false)
      try body
      finally {
        // Deliver this span's query-execution events before it closes, so
        // the planning time of a child never lands on its parent.
        PerfbenchBus.drain(sc)
        var p = pendingPlanMs.poll()
        while (p != null) {
          byGroup.computeIfAbsent(s.group, _ => new Counters).planMs += p
          p = pendingPlanMs.poll()
        }
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(parent) =>
            sc.setJobGroup(parent.group, parent.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Record the rows reported by the call of the span that just closed. */
  def setRows(n: Long): Unit = if (active) spans.lastOption.foreach(_.rows = n)

  /** Run `body` outside every span (output checks): its jobs are not
    * attributed and its planning events are discarded. */
  def outside[A](body: => A): A = {
    val wasActive = active
    active = false
    sc.setJobGroup("check", "check", interruptOnCancel = false)
    try body
    finally {
      if (enabled) {
        PerfbenchBus.drain(sc)
        pendingPlanMs.clear()
      }
      stack.headOption match {
        case Some(s) => sc.setJobGroup(s.group, s.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      active = wasActive
    }
  }

  /** Wait until every listener event so far has been handled. */
  def drain(): Unit = if (enabled) PerfbenchBus.drain(sc)
}
