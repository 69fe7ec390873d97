package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.etl.{Medallion => M}
import graft.streaming.{KeyedStore, ParquetKeyedStore}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** medallion_etl: closed loop, one pass per operation. Each pass lands a
  * fresh seeded bronze batch (news JSON and nested yfinance dumps), runs
  * bronze→silver (dedup, explode, partitioned write), reads silver back,
  * builds the three gold aggregates and upserts them into keyed stores.
  * After each pass (untimed) silver and gold are checked against a plain
  * Scala computation over the generated records. */
final class MedallionWorkload extends Workload {
  val opName = "pass"
  val actionKinds = Set("etl.news_silver", "etl.quotes_silver", "etl.read_silver", "store.upsert")
  private val steps = ArrayBuffer.empty[(String, Double)]
  private var written = (0L, 0L)
  private var passes = 0

  private val newsSchema = StructType(Seq(
    StructField("title", StringType), StructField("text", StringType),
    StructField("date", StringType), StructField("keywords", ArrayType(StringType)),
    StructField("is_premium", BooleanType), StructField("source_site", StringType),
    StructField("url", StringType)))
  private val update = StructType(Seq(
    StructField("price", DoubleType), StructField("volume", LongType),
    StructField("volatility", DoubleType), StructField("bid_ask_spread", DoubleType),
    StructField("market_sentiment", DoubleType), StructField("trading_activity", DoubleType),
    StructField("timestamp", LongType), StructField("source", StringType)))
  private val dumpSchema = StructType(StructField("timestamp", LongType) +:
    Gen.quoteSymbols.map(s => StructField(s"updates_$s", ArrayType(update))))

  private def writeBronze(dir: String, pass: Int, seed: Long): (Seq[Gen.News], Seq[Gen.QuoteDump]) = {
    val (news, dumps) = Gen.bronze(seed, pass)
    val nd = java.nio.file.Paths.get(s"$dir/news")
    val qd = java.nio.file.Paths.get(s"$dir/quotes")
    java.nio.file.Files.createDirectories(nd)
    java.nio.file.Files.createDirectories(qd)
    java.nio.file.Files.writeString(nd.resolve("part-0.json"), news.map { a =>
      Json.obj(Seq("title" -> Json.str(a.title), "text" -> Json.str(a.text),
        "date" -> Json.str(a.date), "keywords" -> Json.arr(a.keywords.map(Json.str)),
        "is_premium" -> a.isPremium.toString, "source_site" -> Json.str(a.site),
        "url" -> Json.str(a.url)))
    }.mkString("\n"))
    java.nio.file.Files.writeString(qd.resolve("part-0.json"), dumps.map { d =>
      Json.obj(("timestamp" -> d.timestampMs.toString) +: Gen.quoteSymbols.map { s =>
        s"updates_$s" -> Json.arr(d.updates(s).map { q =>
          Json.obj(Seq("price" -> Json.num(q.price), "volume" -> q.volume.toString,
            "volatility" -> Json.num(q.volatility), "bid_ask_spread" -> Json.num(q.spread),
            "market_sentiment" -> Json.num(q.sentiment),
            "trading_activity" -> Json.num(q.activity),
            "timestamp" -> q.timestampMs.toString, "source" -> Json.str(q.source)))
        })
      })
    }.mkString("\n"))
    (news, dumps)
  }

  private def step[T](ctx: Ctx, name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try ctx.trace.span(name)(f)
    finally if (ctx.trace.enabled) steps += name -> (System.nanoTime() - t0) / 1e6
  }

  /** One pass; returns the failure cause, if any. */
  private def pass(ctx: Ctx, k: Int, stores: Seq[KeyedStore]): (Long, Option[String]) = {
    val spark = ctx.spark
    val root = s"${ctx.work}/medallion"
    val bronze = s"$root/bronze/$k"
    val (news, dumps) = writeBronze(bronze, k, ctx.seed)
    val t0 = System.nanoTime()
    val failure = try {
      val silverNews = s"$root/silver/news"
      val silverQuotes = s"$root/silver/quotes"
      step(ctx, "etl.news_silver") {
        val df = ctx.trace.span("build") {
          M.newsToSilver(spark.read.schema(newsSchema).json(s"$bronze/news"))
        }
        M.writePartitioned(df, silverNews, Seq("source_site"))
      }
      step(ctx, "etl.quotes_silver") {
        val df = ctx.trace.span("build") {
          M.quotesToSilver(spark.read.schema(dumpSchema).json(s"$bronze/quotes"), Gen.quoteSymbols)
        }
        M.writePartitioned(df, silverQuotes, Seq("company"))
      }
      val (sn, sq) = step(ctx, "etl.read_silver") {
        (M.readSilver(spark, silverNews), M.readSilver(spark, silverQuotes))
      }
      val gold = ctx.trace.span("build") {
        Seq(M.newsDailyCounts(sn), M.keywordDailyCounts(sn), M.quotesDailyGold(sq))
          .map(_.withColumn("version", lit(k.toLong)))
      }
      Seq("etl.news_gold", "etl.keyword_gold", "etl.quotes_gold").zip(gold).zip(stores)
        .foreach { case ((name, df), store) => step(ctx, name)(store.upsert(df)) }
      None
    } catch { case NonFatal(e) => Some(ctx.failure(e)) }
    val ns = System.nanoTime() - t0
    if (ctx.trace.enabled) {
      val (b1, f1) = Files.dataFiles(s"$root/silver")
      val (b2, f2) = Files.dataFiles(s"$root/gold")
      written = (written._1 + b1 + b2, written._2 + f1 + f2)
      passes += 1
    }
    val checked = failure.orElse(
      try check(spark, k, news, dumps, root, stores) catch { case NonFatal(e) => Some(ctx.failure(e)) })
    Files.deleteTree(bronze)
    (ns, checked)
  }

  private var timed = Seq.empty[TimedStore]

  private def stores(ctx: Ctx): Seq[TimedStore] = {
    val g = s"${ctx.work}/medallion/gold"
    Seq(new ParquetKeyedStore(s"$g/news", Seq("aggregation_date", "source_site"), "version"),
      new ParquetKeyedStore(s"$g/keywords", Seq("aggregation_date", "keyword"), "version"),
      new ParquetKeyedStore(s"$g/quotes", Seq("company", "aggregation_date"), "version"))
      .map(new TimedStore(_, ctx.trace))
  }

  def warm(ctx: Ctx): Unit = {
    pass(ctx, -1, stores(ctx))._2.foreach(f => throw new IllegalStateException(f))
    Files.deleteTree(s"${ctx.work}/medallion")
  }

  def run(ctx: Ctx, deadlineNs: Long): Seq[Op] = {
    val ss = stores(ctx)
    timed = ss
    val ops = ArrayBuffer.empty[Op]
    var k = 0
    // whole passes, started until the deadline
    while (System.nanoTime() < deadlineNs) {
      val t0 = System.nanoTime()
      val (ns, failure) = pass(ctx, k, ss)
      failure.foreach(f => ctx.log(s"FAILED pass $k: $f"))
      ops += Op(t0, ns / 1e6, failure)
      k += 1
    }
    ops.toSeq
  }

  override def report(ctx: Ctx): Seq[(String, Double)] =
    steps.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, v) =>
      s"${k}_ms" -> Stats.median(v.map(_._2).toSeq)
    } ++ Seq(
      "etl.bytes_written" -> written._1.toDouble / math.max(passes, 1),
      "etl.files_written" -> written._2.toDouble / math.max(passes, 1),
      "store.upsert_ms" -> {
        val ms = timed.flatMap(_.upsertMs)
        if (ms.isEmpty) 0.0 else Stats.median(ms)
      })

  // ---- the reference computation ----

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  private def check(spark: SparkSession, k: Int, news: Seq[Gen.News],
      dumps: Seq[Gen.QuoteDump], root: String, stores: Seq[KeyedStore]): Option[String] = {
    val articles = news.distinct
    val updates = (for {
      d <- dumps
      s <- Gen.quoteSymbols
      q <- d.updates(s)
    } yield (d.timestampMs, s, q)).distinct
    val problems = ArrayBuffer.empty[String]
    def expect(what: String, want: Any, got: Any): Unit =
      if (want != got) problems += s"$what: expected $want, got $got"
    expect("silver news rows", articles.size.toLong,
      spark.read.parquet(s"$root/silver/news").count())
    expect("silver quote rows", updates.size.toLong,
      spark.read.parquet(s"$root/silver/quotes").count())

    def current(store: KeyedStore): Array[Row] =
      store.read(spark).filter(col("version") === k).drop("version").collect()
    val newsGold = articles.groupBy(a => (a.date, a.site)).map { case (key, v) => key -> v.size.toLong }
    val gotNews = current(stores(0)).map(r =>
      (r.getAs[java.sql.Date]("aggregation_date").toString, r.getAs[String]("source_site")) ->
        r.getAs[Long]("article_count")).toMap
    expect("gold news counts", newsGold, gotNews)
    val kwGold = articles.flatMap(a => a.keywords.map(a.date -> _))
      .groupBy(identity).map { case (key, v) => key -> v.size.toLong }
    val gotKw = current(stores(1)).map(r =>
      (r.getAs[java.sql.Date]("aggregation_date").toString, r.getAs[String]("keyword")) ->
        r.getAs[Long]("keyword_count")).toMap
    expect("gold keyword counts", kwGold, gotKw)
    val quoteGold = updates.groupBy { case (_, s, q) =>
      (s, java.time.Instant.ofEpochMilli(q.timestampMs).atZone(java.time.ZoneOffset.UTC)
        .toLocalDate.toString)
    }.map { case (key, v) =>
      val qs = v.map(_._3)
      def mean(f: Gen.Quote => Double) = qs.map(f).sum / qs.size
      key -> Seq(mean(_.price), qs.map(_.price).max, qs.map(_.price).min,
        mean(_.volume.toDouble), mean(_.volatility), mean(_.sentiment))
    }
    val gotQuotes = current(stores(2)).map { r =>
      (r.getAs[String]("company"), r.getAs[java.sql.Date]("aggregation_date").toString) ->
        Seq("avg_price", "max_price", "min_price", "avg_volume", "avg_volatility",
          "avg_sentiment").map(r.getAs[Double])
    }.toMap
    expect("gold quote keys", quoteGold.keySet, gotQuotes.keySet)
    quoteGold.foreach { case (key, want) =>
      gotQuotes.get(key).foreach { got =>
        if (!want.zip(got).forall { case (a, b) => close(a, b) })
          problems += s"gold quotes $key: expected $want, got $got"
      }
    }
    problems.headOption.map(p => s"wrong output (${problems.size} problems), first: $p")
  }
}
