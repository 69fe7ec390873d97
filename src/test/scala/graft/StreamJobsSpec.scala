package graft

import graft.ml.ModelStore
import graft.streaming._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

/** End-to-end §3.1 topology: trainer -> predictor -> label updater over
  * one MemoryStream feed, exactly the reference's three-query session.
  */
class StreamJobsSpec extends SparkSpec {
  import spark.implicits._

  private val base = 1736081400000L

  private def tick(tsMs: Long, price: Double): Ticks.MarketTickTuple =
    ("XOM", tsMs, "YLIFE_FEED", "MARKET_DATA", -1.0, -1.0, price,
      1000.0 + price, -1.0, -1.0, 0.4, 0.1, 50.0)

  private def feed(mem: MemoryStream[Ticks.MarketTickTuple]) =
    Ticks.modelInput("XOM")(mem.toDF().toDF("symbol", "timestamp", "source",
      "data_type", "bid", "ask", "price", "volume", "spread_raw",
      "spread_table", "volatility", "market_sentiment", "trading_activity"))

  test("trainer -> predictor -> label updater round trip") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("jobs")
    val models = new ModelStore(s"$dir/models")
    // the 100 TB-shaped serving store (partition-pruned upsert) driven
    // through the full live topology; the flat ParquetKeyedStore keeps
    // its own unit tests in StreamingSpec
    val serving = new graft.streaming.PartitionedParquetKeyedStore(
      s"$dir/serving", "symbol", Seq("symbol", "timestamp"), "version")
    val features = Ticks.featureColumns

    // 1. trainer over windowed features
    val memTrain = MemoryStream[Ticks.MarketTickTuple]
    memTrain.addData((0 until 60).map(i => tick(base + i * 30000L, 100.0 + i)))
    val trainer = StreamJobs.continuousTrainer(
      StreamOps.windowedFeatureAvg()(feed(memTrain)), models, features,
      s"$dir/ckpt_train", Trigger.ProcessingTime(10L))
    try {
      trainer.processAllAvailable()
      assert(models.loadLatest().isDefined, "trainer must persist a model")
    } finally trainer.stop()

    // 2. predictor scores ticks with the latest model into serving
    val memPred = MemoryStream[Ticks.MarketTickTuple]
    memPred.addData((0 until 10).map(i => tick(base + i * 60000L, 110.0 + i)))
    val predictor = StreamJobs.predictor(feed(memPred), models, serving,
      features, s"$dir/ckpt_pred", Trigger.ProcessingTime(10L))
    try {
      predictor.processAllAvailable()
    } finally predictor.stop()
    val served = serving.read(spark)
    assert(served.count() == 10)
    assert(served.columns.contains("input_data"))
    val json = served.select("input_data").as[String].collect().head
    assert(json.contains("\"volume\":"))

    // 3. label updater back-fills labels for the closed window
    val memLbl = MemoryStream[Ticks.MarketTickTuple]
    memLbl.addData((0 until 10).map(i => tick(base + i * 60000L, 200.0)))
    val updater = StreamJobs.labelUpdater(
      StreamOps.windowedFeatureAvg()(feed(memLbl)), serving,
      s"$dir/ckpt_lbl", Trigger.ProcessingTime(10L))
    try {
      updater.processAllAvailable()
    } finally updater.stop()
    val after = serving.read(spark)
    assert(after.count() == 10, "upsert must not duplicate keys")
    // served rows fall inside the 200.0-avg windows -> labels rewritten
    val labels = after.select("label").as[Double].collect().distinct
    assert(labels.forall(_ == 200.0), s"labels not backfilled: ${labels.toSeq}")
  }

  test("label updater fails with the serving store's read error") {
    implicit val sqlCtx = spark.sqlContext
    val boom = new java.io.IOException("serving store unreadable")
    // the store exists but cannot be read: the back-fill must fail,
    // not skip the batch as if there were nothing to update
    val serving = new KeyedStore {
      def upsert(batch: DataFrame): Unit = ()
      def read(spark: SparkSession): DataFrame = throw boom
      def exists: Boolean = true
    }
    val mem = MemoryStream[Ticks.MarketTickTuple]
    mem.addData((0 until 10).map(i => tick(base + i * 60000L, 200.0)))
    val updater = StreamJobs.labelUpdater(
      StreamOps.windowedFeatureAvg()(feed(mem)), serving,
      s"${tmpDir("jobs_unreadable")}/ckpt_lbl", Trigger.ProcessingTime(10L))
    val err =
      try intercept[StreamingQueryException](updater.processAllAvailable())
      finally updater.stop()
    val causes = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).toSeq
    assert(causes.contains(boom), s"cause chain: $causes")
  }

  test("scoreDual joins stream and history predictions per key") {
    val df = (1 to 50).map(i => (s"row_$i", i.toDouble, i.toDouble * 2, 3.0 * i))
      .toDF("symbol", "volume", "volatility", "label")
    val m1 = graft.ml.Regression.linearPipeline(Seq("volume", "volatility")).fit(df)
    val out = StreamJobs.scoreDual(df, m1, m1, "symbol")
    assert(out.columns.toSet ==
      Set("symbol", "stream_prediction", "history_prediction"))
    assert(out.count() == 50)
  }
}
