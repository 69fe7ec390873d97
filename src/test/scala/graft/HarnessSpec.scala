package graft

import graft.llm._
import graft.tools.{PlanAudit, ProfileQuery}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.graft.Bridge
import scala.collection.mutable

/** The run harness every driver goes through: query selection, the
  * per-query loop's failure and release contract, the PlanAudit row
  * and ProfileQuery's task-to-job charging. */
class HarnessSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("query selection trims entries and rejects unknown names") {
    assert(Harness.select(" q_dedup_docs, ,q_scan_filter ,") ==
      Seq("q_dedup_docs", "q_scan_filter"))
    val e = intercept[IllegalArgumentException](
      Harness.select("q_scan_filter, q_nope,q_nada"))
    assert(e.getMessage.contains("unknown queries: q_nope, q_nada"))
  }

  test("a failing query records class: message and the loop goes on") {
    val registry = Map[String, Harness.Query](
      "q_boom" -> ((_, _) => throw new IllegalStateException("boom")),
      "q_ok" -> ((s, _) => s.range(3).toDF()))
    val err = new java.io.ByteArrayOutputStream
    val stderr = System.err
    val runs =
      try {
        System.setErr(new java.io.PrintStream(err, true))
        Harness.runAll(spark, sf, "spec", Seq("q_boom", "q_ok"), registry)(
          (_, df) => df.count())
      } finally System.setErr(stderr)
    assert(runs.map(_._1) == Seq("q_boom", "q_ok"))
    assert(runs(0)._2.result == Left("java.lang.IllegalStateException: boom"))
    assert(runs(1)._2.result == Right(3L))
    assert(err.toString.contains(
      "[spec] q_boom failed: java.lang.IllegalStateException: boom"))
  }

  test("every tracked-frame owner is empty after each run of a persisting query") {
    val owners = Seq(Dedup.tracked, Mixing.tracked, Lines.tracked,
      Bpe.tracked, LanguageModel.tracked, Unigram.tracked)
    val q = "q_minhash_clusters"
    (1 to 2).foreach { rep =>
      val run = Harness.run(spark, sf, "spec", q, SparkEntry.queries(q)) {
        df => df.count(); Dedup.tracked.size
      }
      assert(run.result.exists(_ > 0), s"run $rep: $q tracks no frames")
      assert(owners.map(_.size) == Seq.fill(owners.size)(0), s"run $rep")
    }
  }

  test("a PlanAudit row has the dossier's column format") {
    val q = "q_pricing_summary"
    val row = withConf(PlanAudit.conf: _*) {
      PlanAudit.row(q, SparkEntry.queries(q)(spark, sf))
    }
    val widths = """\d+(x\d+)?(,\d+(x\d+)?)*"""
    assert(row.matches(
      s"""\\| $q \\| \\d+ \\| \\d+ \\| \\d+ \\| (yes|-) \\| (-|$widths) \\| (-|\\d+ scans) \\|"""),
      row)
    val committed = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("PLANS.md"))
    assert(committed.contains(row))
  }

  test("ProfileQuery charges each task to the job that owns its stage under AQE") {
    val starts = mutable.ArrayBuffer[SparkListenerJobStart]()
    val ran = mutable.HashMap[Int, Int]() // submitted stage -> numTasks
    val seen = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        synchronized { starts += e }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        synchronized { ran(e.stageInfo.stageId) = e.stageInfo.numTasks }
    }
    val prof = new ProfileQuery.Profiler
    withConf("spark.sql.adaptive.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      Bridge.drainListenerBus(spark)
      spark.sparkContext.addSparkListener(seen)
      spark.sparkContext.addSparkListener(prof)
      try {
        prof.collecting = true
        val l = spark.range(0, 200000, 1, 8)
          .selectExpr("id % 5000 AS k", "id AS v")
        val r = spark.range(0, 100000, 1, 6)
          .selectExpr("id % 7000 AS k", "id AS w")
        l.join(r, "k").selectExpr("sum(v + w)").collect()
        Bridge.drainListenerBus(spark)
      } finally {
        spark.sparkContext.removeSparkListener(seen)
        spark.sparkContext.removeSparkListener(prof)
      }
    }
    // a submitted stage runs in the first job that lists it; stages a
    // job lists but never submits were skipped (their output exists)
    val owner = mutable.HashMap[Int, Int]()
    starts.sortBy(_.jobId).foreach(j =>
      j.stageIds.foreach(owner.getOrElseUpdate(_, j.jobId)))
    val expected = starts.map(j => j.jobId -> j.stageIds
      .filter(s => ran.contains(s) && owner(s) == j.jobId).map(ran).sum).toMap
    // both join sides run as shuffle-map jobs before the result job
    assert(expected.size >= 3, expected)
    assert(prof.jobs.keySet == expected.keySet)
    prof.jobs.values.foreach(j =>
      assert(j.nTasks == expected(j.id), s"job ${j.id}: $expected"))
  }
}
