package graft.tools

import graft.{Harness, SparkEntry}
import graft.llm.TrackedFrames
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.Bridge
import scala.collection.mutable

/** Per-job wall-clock profile of one or more queries — the
  * optimization round's empirical measurement surface (guide §1: find
  * where the time goes BEFORE changing anything). Registers a
  * SparkListener, runs each query `reps` times with the Bench action
  * (count), and prints one line per job of the LAST rep: job id,
  * wall ms, number of stages/tasks, and the job group/description —
  * so per-round actions of iterative operators are individually
  * visible. Task time is summed executor runtime (cpu proxy). A
  * `summary` line per query counts the rep's jobs and the joins of
  * each SQL execution's last plan (AQE re-plans included): iterative
  * operators plan their rounds' joins before the final `explain`.
  *
  *   sbt -batch "runMain graft.tools.ProfileQuery q1,q2 [reps]"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
  */
object ProfileQuery {
  private[graft] case class JobRec(id: Int, t0: Long, desc: String,
    nStages: Int, var t1: Long = 0L, var nTasks: Int = 0,
    var taskMs: Long = 0L, var gcMs: Long = 0L, var cpuMs: Long = 0L,
    var fetchMs: Long = 0L, var deserMs: Long = 0L)

  /** Job records and each SQL execution's last physical plan, for the
    * actions run while `collecting`. A task is charged to the job that
    * owns its stage: the first job whose `stageIds` list it (a later
    * job that reuses the stage's shuffle lists it as skipped). Under
    * AQE sibling shuffle-map stages and broadcast builds run as
    * concurrent jobs, so the latest open job is not the owner. */
  private[graft] final class Profiler extends SparkListener {
    @volatile var collecting = false
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val plans = mutable.LinkedHashMap[Long, SparkPlanInfo]()
    private val stageJob = mutable.HashMap[Int, Int]()

    def clear(): Unit = synchronized {
      jobs.clear(); plans.clear(); stageJob.clear()
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit =
      if (collecting) e match {
        case s: SparkListenerSQLExecutionStart =>
          synchronized { plans(s.executionId) = s.sparkPlanInfo }
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          synchronized { plans(u.executionId) = u.sparkPlanInfo }
        case _ => ()
      }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (collecting) synchronized {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs(e.jobId) = JobRec(e.jobId, e.time, desc, e.stageInfos.size)
        e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized { jobs.get(e.jobId).foreach(_.t1 = e.time) }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (collecting && e.taskMetrics != null) synchronized {
        stageJob.get(e.stageId).flatMap(jobs.get).foreach { r =>
          r.nTasks += 1
          r.taskMs += e.taskMetrics.executorRunTime
          r.gcMs += e.taskMetrics.jvmGCTime
          r.cpuMs += e.taskMetrics.executorCpuTime / 1000000L
          r.fetchMs += e.taskMetrics.shuffleReadMetrics.fetchWaitTime
          r.deserMs += e.taskMetrics.executorDeserializeTime
        }
      }
  }

  private val joinKinds = Seq("BroadcastHashJoin", "SortMergeJoin",
    "ShuffledHashJoin", "BroadcastNestedLoopJoin")

  private def nodeNames(p: SparkPlanInfo): Seq[String] =
    p.nodeName +: p.children.flatMap(nodeNames)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileQuery <q1,q2,...> [reps]")
    val names = Harness.select(args(0))
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    val prof = new Profiler
    spark.sparkContext.addSparkListener(prof)
    Harness.warmUp(spark, sfDir)
    for (n <- names) {
      val fn = SparkEntry.queries(n)
      var wall = 0.0
      for (rep <- 1 to reps) {
        // drained around the flag flips: the rep gets exactly its events
        Bridge.drainListenerBus(spark)
        prof.clear()
        prof.collecting = rep == reps // profile the steady-state rep
        wall = Harness.run(spark, sfDir, "profile", n, fn)(_.count()).seconds
        Bridge.drainListenerBus(spark)
        prof.collecting = false
        println(f"[profile] $n rep $rep wall ${wall}%.3f s")
      }
      println(f"[profile] $n last-rep jobs (wall ${wall}%.3f s):")
      var sumMs = 0L
      prof.synchronized {
        prof.jobs.values.foreach { r =>
          val ms = if (r.t1 > 0) r.t1 - r.t0 else -1L
          if (ms > 0) sumMs += ms
          println(f"[profile]   job ${r.id}%4d ${ms}%6d ms  stages=${r.nStages}%2d tasks=${r.nTasks}%4d taskMs=${r.taskMs}%6d cpuMs=${r.cpuMs}%6d gcMs=${r.gcMs}%5d fetchMs=${r.fetchMs}%5d deserMs=${r.deserMs}%5d  ${r.desc.take(80)}")
        }
      }
      println(f"[profile] $n sum-of-job-wall ${sumMs / 1000.0}%.3f s (gaps = driver/planning)")
      val nodes = prof.synchronized(prof.plans.values.flatMap(nodeNames).toSeq)
      println(s"[profile] $n summary jobs=${prof.synchronized(prof.jobs.size)} " +
        joinKinds.map(k => s"$k=${nodes.count(_ == k)}").mkString(" "))
    }
    TrackedFrames.releaseAll()
    spark.stop()
  }
}
