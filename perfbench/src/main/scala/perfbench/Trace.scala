package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters at one instant. Differences of two snapshots give the
  * work done in between.
  */
final case class Tally(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                       runMs: Long = 0, cpuNs: Long = 0,
                       shuffleReadB: Long = 0, shuffleWriteB: Long = 0,
                       spillB: Long = 0, planMs: Long = 0) {
  def -(o: Tally): Tally = Tally(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs,
    shuffleReadB - o.shuffleReadB, shuffleWriteB - o.shuffleWriteB,
    spillB - o.spillB, planMs - o.planMs)
  def cpuS: Double = cpuNs / 1e9
  def shuffleMb: Double = (shuffleReadB + shuffleWriteB) / 1e6
  def spillMb: Double = spillB / 1e6
}

/** One `SparkListener` plus one `QueryExecutionListener` that keep
  * running totals of jobs, stages, tasks, executor run and CPU time,
  * shuffle bytes, spill and Catalyst phase time, and the wall-clock
  * interval of every job. Events arrive on Spark's listener thread;
  * [[snapshot]] drains the bus first, so a snapshot taken after an
  * action includes that action's jobs.
  */
final class SparkCounters(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private var t = Tally()
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def snapshot(): Tally = { ListenerBusDrain(spark.sparkContext); synchronized(t) }

  /** Job wall-clock intervals (epoch ms) that overlap [from, to]. */
  def jobIntervals(from: Long, to: Long): Seq[(Long, Long)] = synchronized {
    intervals.filter { case (s, e) => e >= from && s <= to }.toSeq
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    t = t.copy(jobs = t.jobs + 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { t = t.copy(stages = t.stages + 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    t = if (m == null) t.copy(tasks = t.tasks + 1) else t.copy(
      tasks = t.tasks + 1,
      runMs = t.runMs + m.executorRunTime,
      cpuNs = t.cpuNs + m.executorCpuTime,
      shuffleReadB = t.shuffleReadB + m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteB = t.shuffleWriteB + m.shuffleWriteMetrics.bytesWritten,
      spillB = t.spillB + m.memoryBytesSpilled + m.diskBytesSpilled)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    addPlan(qe)
  private def addPlan(qe: QueryExecution): Unit = {
    val ms = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
    synchronized { t = t.copy(planMs = t.planMs + ms) }
  }
}

/** A closed span: the benchmark's own code around one call into a layer. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      endNs: Long, startMs: Long, endMs: Long, spark: Tally,
                      outsideJobsMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Records spans when enabled; otherwise runs the body untouched. Spans
  * stay in memory until [[write]]. Only one call is in flight while
  * tracing, so Spark work is attributed to spans by time window.
  */
final class Tracer(counters: Option[SparkCounters]) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  private var paused = false

  def enabled: Boolean = counters.isDefined
  def recording: Boolean = enabled && !paused

  /** Runs `body` with span recording off: the untraced baseline that the
    * tracing overhead is measured against.
    */
  def untraced[A](body: => A): A = {
    paused = true
    try body finally paused = false
  }

  def apply[A](name: String)(body: => A): A = counters.filterNot(_ => paused) match {
    case None => body
    case Some(c) =>
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = c.snapshot()
      val ms0 = System.currentTimeMillis()
      val ns0 = System.nanoTime()
      try body finally {
        val ns1 = System.nanoTime()
        val ms1 = System.currentTimeMillis()
        val d = c.snapshot() - t0
        stack = stack.tail
        spans += Span(id, parent, name, ns0, ns1, ms0, ms1, d,
          outsideJobsMs(c.jobIntervals(ms0, ms1), ms0, ms1))
      }
  }

  /** Span wall time minus the union of the job intervals inside it. */
  private def outsideJobsMs(jobs: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var covered = 0L
    var reach = from
    for ((s, e) <- jobs.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
           .sortBy(_._1) if e > reach) {
      covered += e - math.max(s, reach)
      reach = e
    }
    (to - from) - covered
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Self time: the span minus the time its child spans cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var reach = s.startNs
    for ((a, b) <- kids if b > reach) { covered += b - math.max(a, reach); reach = b }
    s.ms - covered / 1e6
  }

  /** Writes every span as one JSON object per line. */
  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      val t = s.spark
      w.println(Json.obj(Seq(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "ms" -> s.ms,
        "self_ms" -> selfMs(s), "outside_jobs_ms" -> s.outsideJobsMs,
        "jobs" -> t.jobs, "stages" -> t.stages, "tasks" -> t.tasks,
        "executor_run_ms" -> t.runMs, "executor_cpu_ms" -> t.cpuNs / 1e6,
        "shuffle_read_b" -> t.shuffleReadB, "shuffle_write_b" -> t.shuffleWriteB,
        "spill_b" -> t.spillB, "plan_ms" -> t.planMs)))
    } finally w.close()
  }
}
