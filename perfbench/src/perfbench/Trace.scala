package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-process tracing at the layer boundaries, from the benchmark's own
  * files only (BigDebug-style: instrument once, never re-run a probe).
  *
  *  - spans: the benchmark wraps each call into a layer (query build,
  *    action, store upsert, ETL step) in [[span]];
  *  - a SparkListener counts jobs, stages and tasks and sums the task
  *    metrics (CPU, run time, GC, shuffle, spill);
  *  - a QueryExecutionListener sums the Catalyst phases (analysis,
  *    optimization, planning) of every executed query from
  *    `QueryExecution.tracker`.
  *
  * Everything is kept in memory and summarised once, at the end. Until
  * [[start]] is called nothing is recorded and no listener is attached,
  * so an untraced run pays only for a volatile read per span. */
final class Trace(spark: SparkSession) {
  @volatile private var on = false
  @volatile private var startMs = Long.MaxValue

  private final case class TaskRec(stage: Int, launch: Long, finish: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, shRead: Long, shWrite: Long,
      spill: Long)

  private val spans = ArrayBuffer.empty[Span]
  private val jobStarts = ArrayBuffer.empty[Long]
  private val stageStarts = ArrayBuffer.empty[Long]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val planMs = ArrayBuffer.empty[(Long, Long)] // (phase start, ms)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Trace.this.synchronized { jobStarts += e.time }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Trace.this.synchronized {
        stageStarts += e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) Trace.this.synchronized {
        tasks += TaskRec(e.stageId, i.launchTime, i.finishTime,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) Trace.this.synchronized {
        planMs += ((ph.values.map(_.startTimeMs).min, ph.values.map(_.durationMs).sum))
      }
    }
  }

  def enabled: Boolean = on
  def startedMs: Long = startMs

  def start(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    startMs = System.currentTimeMillis()
    on = true
  }

  /** Times `f` as a span of `kind` when tracing is on. */
  def span[T](kind: String)(f: => T): T =
    if (!on) f
    else {
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      try f
      finally add(Span(kind, t0, System.currentTimeMillis(), System.nanoTime() - n0))
    }

  def add(s: Span): Unit = synchronized { spans += s }

  def spansOf(kind: String): Seq[Span] = synchronized { spans.filter(_.kind == kind).toSeq }

  /** Stops recording, waits for the listener bus and detaches. */
  def stop(): Unit = if (on) {
    on = false
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Per-operation layer metrics over everything recorded since
    * [[start]]. `actionKinds` names the spans whose idle time is reported
    * (the windows in which tasks should be running). */
  def layers(ops: Int, actionKinds: Set[String]): Seq[(String, Double)] = synchronized {
    val per = math.max(ops, 1).toDouble
    val ts = tasks.filter(_.launch >= startMs).toSeq
    val builds = spans.filter(_.kind == "build").toSeq
    def inBuild(t: Long) = builds.exists(b => t >= b.startMs && t <= b.endMs)
    val actions = spans.filter(s => actionKinds(s.kind)).toSeq
    val windows = Intervals.union(actions.map(a => (a.startMs, a.endMs)))
    val busy = Intervals.union(ts.map(t => (t.launch, t.finish)))
    val idle = Intervals.length(windows) - Intervals.length(Intervals.intersect(windows, busy))
    val byStage = ts.groupBy(_.stage).values
    val runSum = ts.map(_.runMs).sum.toDouble
    Seq(
      "build.ms" -> builds.map(_.ns).sum / 1e6 / per,
      "build.jobs" -> jobStarts.count(t => t >= startMs && inBuild(t)) / per,
      "catalyst.plan_ms" -> planMs.filter(_._1 >= startMs).map(_._2).sum / per,
      "sched.jobs" -> jobStarts.count(_ >= startMs) / per,
      "sched.stages" -> stageStarts.count(_ >= startMs) / per,
      "sched.tasks" -> ts.size / per,
      "sched.idle_ms" -> idle / per,
      "exec.task_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6 / per,
      "exec.task_run_ms" -> runSum / per,
      "exec.gc_ms" -> ts.map(_.gcMs).sum / per,
      "exec.shuffle_read_bytes" -> ts.map(_.shRead).sum / per,
      "exec.shuffle_write_bytes" -> ts.map(_.shWrite).sum / per,
      "exec.spill_bytes" -> ts.map(_.spill).sum / per,
      // the slowest task's share of each stage's task time, task-time
      // weighted: 1/N for N even tasks, 1.0 when one task does it all
      "exec.slowest_task_share" ->
        (if (runSum <= 0) 0.0 else byStage.map(_.map(_.runMs).max).sum / runSum))
  }
}

/** A timed call into one layer: wall-clock window plus exact duration. */
final case class Span(kind: String, startMs: Long, endMs: Long, ns: Long)

/** Closed-interval arithmetic on (start, end) millisecond pairs. */
object Intervals {
  def union(xs: Seq[(Long, Long)]): Seq[(Long, Long)] =
    xs.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  def length(xs: Seq[(Long, Long)]): Long = xs.map { case (a, b) => b - a }.sum

  /** Intersection of two unions (each sorted and disjoint). */
  def intersect(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] =
    for {
      (s1, e1) <- a
      (s2, e2) <- b
      s = math.max(s1, s2)
      e = math.min(e1, e2)
      if s < e
    } yield (s, e)
}
