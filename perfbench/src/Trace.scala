package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed interval of a benchmark phase or of a call into one engine
  * layer. `parent` is the id of the span that caused it (-1 for the run).
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder. Spans are only kept while `enabled`; the
  * untraced passes run the same code with recording off.
  */
final class Tracer {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Int] = Nil

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, name, t0, System.nanoTime())
      stack = stack.tail
    }
  }
}

/** Counters one query (or pass) moved, as read from Spark's listener bus
  * and the planner's phase tracker.
  */
final class LayerCounters {
  val values = mutable.LinkedHashMap.empty[String, Double]
  def add(key: String, v: Double): Unit = values(key) = values.getOrElse(key, 0.0) + v
  def apply(key: String): Double = values.getOrElse(key, 0.0)
  def addAll(other: LayerCounters): Unit = other.values.foreach { case (k, v) => add(k, v) }
}

/** Job/stage/task listener plus a query-execution listener. Everything it
  * sees between two `take` calls is attributed to the query that ran in
  * between, so `take` is only called after draining the listener bus
  * (`org.apache.spark.PerfbenchBus.drain`).
  */
final class LayerListener extends SparkListener with QueryExecutionListener {
  private var cur = new LayerCounters
  private val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.add("sched.jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    cur.add("sched.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.add("sched.tasks", 1)
    val info = e.taskInfo
    if (info != null && info.finishTime > 0) taskSpans += ((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      cur.add("exec.task_run_s", m.executorRunTime / 1e3)
      cur.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
      cur.add("exec.gc_s", m.jvmGCTime / 1e3)
      cur.add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      cur.add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      cur.add("shuffle.records_read", m.shuffleReadMetrics.recordsRead.toDouble)
      cur.add("spill.mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      cur.add("IO.read_records", m.inputMetrics.recordsRead.toDouble)
      cur.add("IO.write_mb", m.outputMetrics.bytesWritten / 1048576.0)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordAction(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordAction(qe)

  private def recordAction(qe: QueryExecution): Unit = synchronized {
    cur.add("sched.actions", 1)
    val phases = qe.tracker.phases
    for ((phase, key) <- Seq("analysis" -> "plan.analysis_s",
        "optimization" -> "plan.optimization_s", "planning" -> "plan.planning_s"))
      phases.get(phase).foreach(p => cur.add(key, p.durationMs / 1e3))
  }

  /** Counters since the last call, plus the driver-only time of the
    * wall interval [t0Ms, t1Ms]: the part of it no task was running in.
    */
  def take(t0Ms: Long, t1Ms: Long): LayerCounters = synchronized {
    val out = cur
    cur = new LayerCounters
    val clipped = taskSpans.map { case (a, b) => (math.max(a, t0Ms), math.min(b, t1Ms)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    taskSpans.clear()
    out.add("sched.driver_only_s", math.max(0L, (t1Ms - t0Ms) - covered) / 1e3)
    out
  }
}
