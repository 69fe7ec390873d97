package graft

import graft.operators.Skew
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, RepartitionByExpression}
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {

  private def parallelism = spark.sparkContext.defaultParallelism
  private def narrow = spark.range(0, 1000).toDF("k").coalesce(1)

  test("fanOut hash-partitions a 1-partition input on the key") {
    val out = Skew.fanOut(narrow, Seq(col("k")))
    out.queryExecution.logical match {
      case r: RepartitionByExpression =>
        assert(r.optNumPartitions.contains(parallelism))
        assert(r.partitionExpressions.map(_.sql) == Seq("k"))
      case p => fail(s"expected a hash repartition on top:\n$p")
    }
    assert(out.rdd.getNumPartitions == parallelism)
    assert(out.count() == 1000)
  }

  test("fanOut leaves an already-parallel input unchanged") {
    val wide = spark.range(0, 1000, 1, parallelism).toDF("k")
    val out = Skew.fanOut(wide, Seq(col("k")))
    assert(out eq wide)
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("fanOut below its plan-size floor is a no-op") {
    val in = narrow
    val est = in.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    assert(Skew.fanOut(in, Seq(col("k")), minBytes = est + 1) eq in)
    // at the estimate the floor no longer holds the fan-out back
    assert(!(Skew.fanOut(in, Seq(col("k")), minBytes = est) eq in))
  }

  test("fanOut without a key round-robins") {
    val out = Skew.fanOut(narrow)
    out.queryExecution.logical match {
      case r: Repartition =>
        assert(r.shuffle && r.numPartitions == parallelism)
      case p => fail(s"expected a round-robin repartition on top:\n$p")
    }
    assert(out.rdd.getNumPartitions == parallelism)
  }

  test("pinWide yields max(parallelism, shuffle partitions) partitions") {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    try {
      for (n <- Seq(parallelism - 1, parallelism + 3)) {
        spark.conf.set(key, n.toString)
        val out = Skew.pinWide(narrow, col("k"))
        assert(out.rdd.getNumPartitions == math.max(parallelism, n), s"n=$n")
      }
    } finally spark.conf.set(key, saved)
  }
}
