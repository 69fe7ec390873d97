package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.TimestampNTZType

class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try { body; Bridge.drainListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    jobs.get
  }

  test("driver footer schema == the reader's inferred schema, every table") {
    for (t <- Tables.all) {
      val path = s"$sf/$t.parquet"
      assert(Tables.schema(spark, path) == Some(spark.read.parquet(path).schema), t)
    }
  }

  test("a Spark-written TIMESTAMP_NTZ events table round-trips") {
    val dir = tmpDir("tables-ntz")
    val ts = java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5, 123456000)
    Seq((1L, ts, "view")).toDF("event_id", "ts", "event_type")
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val path = s"$dir/events.parquet"
    val inferred = spark.read.parquet(path).schema
    assert(inferred("ts").dataType == TimestampNTZType)
    assert(Tables.schema(spark, path) == Some(inferred))
    val df = Tables.load(spark, dir, "events")
    assert(df.schema == inferred)
    assert(df.select("ts").as[java.time.LocalDateTime].collect().toSeq == Seq(ts))
  }

  test("Tables.load starts no job and leaves the session config as it was") {
    val before = spark.conf.getAll
    assert(jobsDuring(Tables.all.foreach(Tables.load(spark, sf, _))) == 0)
    assert(spark.conf.getAll == before)
  }
}
