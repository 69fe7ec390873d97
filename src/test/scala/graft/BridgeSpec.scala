package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

class BridgeSpec extends SparkSpec {

  test("checkpoint: one job, exact stats, kept partitioning, size-planned joins") {
    // static planning: an adaptive plan reports no output partitioning
    // to any local checkpoint (Spark's own included), so only a static
    // plan shows whether the rewrap keeps it
    spark.conf.set("spark.sql.adaptive.enabled", false)
    try checkpointCase()
    finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  private def checkpointCase(): Unit = {
    // a 10-row aggregate below a join: Spark's estimate for it is the
    // join's size product (far past the broadcast threshold)
    val input = spark.range(1000).join(spark.range(1000), "id")
      .groupBy((col("id") % 10).as("k")).agg(count(lit(1)).as("n"))
    val expected = input.collect().toSet
    assert(input.queryExecution.optimizedPlan.stats.sizeInBytes >
      10L * 1024 * 1024)

    // `input` ran above, so its shuffle and broadcast are reused: the
    // one job counted is the checkpoint's own count
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    val cp = try {
      val c = Bridge.checkpoint(input)
      Bridge.drainListenerBus(spark)
      c
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 1)

    assert(cp.collect().toSet == expected)
    assert(cp.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(10)))
    assert(Bridge.rowCount(cp) == 10L)

    val regrouped = cp.groupBy("k").agg(max("n").as("n"))
    assert(!regrouped.queryExecution.executedPlan.toString.contains("Exchange"),
      regrouped.queryExecution.executedPlan)
    assert(regrouped.collect().toSet == expected)

    // a frame too big to broadcast: only the checkpoint can be built
    val big = spark.range(2000000).select((col("id") % 10).as("k"))
    def joinPlan = big.join(cp, "k").queryExecution.executedPlan.toString
    assert(joinPlan.contains("BroadcastHashJoin"), joinPlan)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1L)
    try assert(joinPlan.contains("SortMergeJoin"), joinPlan)
    finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    val rddId = cp.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId))
    Bridge.releaseFrame(cp, blocking = true)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddId))
  }
}
