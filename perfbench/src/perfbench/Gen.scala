package perfbench

import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every generator is a pure function of its
  * seed: the same seed yields the same rows in the same order, so a run
  * can be replayed exactly and committed digests stay valid.
  *
  * The ten query tables mirror the shape of the TPC-H-like test tables
  * (TESTDATA.md) at sf0.001: same names, column types and value ranges.
  * Their seed is fixed ([[TableSeed]]) because the query digests are
  * committed; the run seed picks the query order and sample instead.
  * The ETL and tick inputs come from the run seed. */
object Gen {
  val TableSeed = 42L

  final case class Table(name: String, schema: StructType, rows: Seq[Row])

  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val adjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val partTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  val vocabulary: Seq[String] = Seq("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  // weights follow the test tables: about 44% en, the rest even
  private val langs = Seq("en", "en", "en", "en", "de", "es", "fr", "zh", "en")

  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.size))
  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100.0) / 100.0
  private def day(base: LocalDate, r: SplittableRandom, span: Int): LocalDateTime =
    base.plusDays(r.nextInt(span).toLong).atStartOfDay()

  private def f(name: String, t: DataType) = StructField(name, t)

  def tables(seed: Long = TableSeed): Seq[Table] = {
    val r = new SplittableRandom(seed)
    val region = Table("region",
      StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    val nation = Table("nation",
      StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val customer = Table("customer",
      StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
        f("c_mktsegment", StringType))),
      (0 until 150).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(r, -999.99, 9999.99), pick(r, segments))))
    val supplier = Table("supplier",
      StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until 10).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(r, -999.99, 9999.99))))
    val part = Table("part",
      StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType),
        f("p_size", IntegerType), f("p_retailprice", DoubleType))),
      (0 until 200).map(i => Row(i.toLong,
        pick(r, adjectives) + " " + pick(r, nouns), s"Brand#${1 + r.nextInt(25)}",
        pick(r, partTypes), 1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)))
    val orderBase = LocalDate.of(1995, 1, 1)
    val orders = Table("orders",
      StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until 1500).map(i => Row(i.toLong, r.nextInt(150).toLong,
        pick(r, Seq("F", "O", "P")), money(r, 1000.0, 500000.0),
        day(orderBase, r, 2400), pick(r, priorities))))
    val shipBase = LocalDate.of(1995, 1, 2)
    val lineitem = Table("lineitem",
      StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType),
        f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
        f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampNTZType))),
      (0 until 6000).map { _ =>
        val qty = (1 + r.nextInt(50)).toDouble
        Row(r.nextInt(1500).toLong, r.nextInt(200).toLong,
          r.nextInt(10).toLong, 1 + r.nextInt(7), qty,
          math.round(qty * money(r, 900.0, 2100.0) * 100.0) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          pick(r, Seq("A", "N", "R")), pick(r, Seq("F", "O")),
          day(shipBase, r, 2500))
      })
    var ts = LocalDateTime.of(2024, 1, 1, 0, 0)
    val events = Table("events",
      StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
        f("user_id", LongType), f("event_type", StringType),
        f("value", DoubleType), f("props", StringType))),
      (0 until 1000).map { i =>
        // mean gap ~2592 s spreads 1000 events over 30 days
        ts = ts.plusNanos((r.nextDouble() * 5184e9).toLong / 1000 * 1000)
        val value = math.max(0.01,
          math.round(-math.log(1.0 - r.nextDouble()) * 5000.0) / 100.0)
        Row(i.toLong, ts, r.nextInt(15).toLong, pick(r, eventTypes),
          math.min(value, 490.02), s"""{"k": ${r.nextInt(100)}}""")
      })
    // As in the test tables, some documents repeat an earlier one: about
    // 5% are near-duplicates (the earlier text plus one or two trailing
    // "dup" tokens, 3-gram Jaccard >= 0.8) and 1% exact copies. The copies
    // give the dedup and similarity queries pairs to find and the span
    // queries repeated runs of 15 or more tokens.
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val documents = Table("documents",
      StructType(Seq(f("doc_id", LongType), f("text", StringType),
        f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (0 until 500).map { i =>
        val text = r.nextInt(100) match {
          case k if k < 5 && i > 0 => texts(r.nextInt(i)) + " dup" * (1 + r.nextInt(2))
          case 5 if i > 0 => texts(r.nextInt(i))
          case _ => Seq.fill(10 + r.nextInt(90))(pick(r, vocabulary)).mkString(" ")
        }
        texts += text
        Row(i.toLong, text, pick(r, langs), s"src${i % 20}", text.length.toLong)
      })
    val centers = Array.fill(10, 64)(r.nextGaussian())
    val embeddings = Table("embeddings",
      StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until 500).map { i =>
        val label = r.nextInt(10)
        val v = centers(label).map(_ + 1.5 * r.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
    Seq(region, nation, customer, supplier, part, orders, lineitem, events,
      documents, embeddings)
  }

  /** Writes the tables as `<dir>/<name>.parquet`, one file each (like the
    * single-row-group test tables). Writes into a sibling directory and
    * renames it into place, so an interrupted run leaves no half set. */
  def writeTables(spark: SparkSession, dir: String): Unit = {
    val target = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(target)) return
    val tmp = dir + ".tmp"
    Files.deleteTree(tmp)
    tables().foreach { t =>
      spark.createDataFrame(java.util.Arrays.asList(t.rows: _*), t.schema)
        .coalesce(1).write.parquet(s"$tmp/${t.name}.parquet")
    }
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp), target)
  }

  // ---- medallion_etl inputs (FIXTURES.md §2-3) ----

  val sites: Seq[String] = Seq("wnp.pl", "wysokienapiecie.pl", "beurs.nl")
  val quoteSymbols: Seq[String] = Seq("XOM", "BP", "SHEL", "COP")
  private val keywords = Seq("energy", "gas", "oil", "coal", "grid", "solar",
    "wind", "nuclear", "tariff", "price", "market", "emissions")

  final case class News(title: String, text: String, date: String,
      keywords: Seq[String], isPremium: Boolean, site: String, url: String)
  final case class Quote(price: Double, volume: Long, volatility: Double,
      spread: Double, sentiment: Double, activity: Double, timestampMs: Long,
      source: String)
  /** One bronze yfinance dump: batch time plus per-symbol update arrays. */
  final case class QuoteDump(timestampMs: Long, updates: Map[String, Seq[Quote]])

  /** Articles on one page of a site's topic listing, and the topics per
    * site. Neither is in BASELINE.md; these are assumptions. */
  val ArticlesPerPage = 20
  val TopicsPerSite = 12

  /** Minutes of the reference's feeds that one ETL pass lands. */
  val PassMinutes = 15

  /** Bronze input of one ETL pass: [[PassMinutes]] of the reference's
    * feeds.
    *
    * News: one scrape, as the reference's scraper makes it (BASELINE.md:
    * one page per topic per site, three sites), so 3 x [[TopicsPerSite]]
    * x [[ArticlesPerPage]] = 720 articles, plus about 5% re-scraped exact
    * duplicates, which silver must drop.
    *
    * Quotes: the yfinance simulator at its reference rate, one update per
    * ticker every 0.1-2.0 s (BASELINE.md), so about 860 updates per ticker
    * in 15 minutes, grouped into one bronze dump per minute. The reference
    * builds gold every 4 hours; a pass lands a sixteenth of that, so that
    * a measured window holds several passes. Now and then the feed
    * re-sends an update, which silver must drop.
    *
    * Pass k covers the k-th 15 minutes from 2025-01-01, so the gold keys
    * (day, site / keyword / company) repeat from pass to pass and the
    * gold upsert merges rather than only appends. */
  def bronze(seed: Long, pass: Int): (Seq[News], Seq[QuoteDump]) = {
    val r = new SplittableRandom(seed * 1000003L + pass)
    val passMs = PassMinutes * 60000L
    val fromMs = java.time.LocalDateTime.of(2025, 1, 1, 0, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000L + pass * passMs
    val date = java.time.Instant.ofEpochMilli(fromMs).atZone(java.time.ZoneOffset.UTC)
      .toLocalDate.toString
    val articles = (0 until sites.size * TopicsPerSite * ArticlesPerPage).map { i =>
      val site = sites(i / (TopicsPerSite * ArticlesPerPage))
      News(s"p$pass-a$i " + Seq.fill(4)(pick(r, vocabulary)).mkString(" "),
        Seq.fill(20 + r.nextInt(60))(pick(r, vocabulary)).mkString(" "),
        date, Seq.fill(r.nextInt(4))(pick(r, keywords)).distinct,
        r.nextInt(5) == 0, site, s"https://$site/article/$pass/$i")
    }
    val news = articles ++ articles.filter(_ => r.nextInt(20) == 0)
    val updates = quoteSymbols.flatMap { sym =>
      Iterator.iterate(100.0 + r.nextDouble() * 1900.0)(_ + 100.0 + r.nextDouble() * 1900.0)
        .takeWhile(_ < passMs).flatMap { offsetMs =>
          val at = fromMs + offsetMs.toLong
          val q = Quote(money(r, 20.0, 140.0), 1000L + r.nextInt(5000000),
            r.nextDouble(), r.nextDouble() * 0.5, r.nextDouble() * 2 - 1,
            r.nextDouble() * 100, at, if (r.nextInt(4) == 0) "simulated" else "real")
          if (r.nextInt(50) == 0) Seq(q, q) else Seq(q)
        }.map(sym -> _)
    }
    val byMinute = updates.groupBy { case (_, q) => (q.timestampMs - fromMs) / 60000L }
    val dumps = (0 until PassMinutes).map { m =>
      val inMinute = byMinute.getOrElse(m.toLong, Nil)
      QuoteDump(fromMs + (m + 1) * 60000L, quoteSymbols.map { sym =>
        sym -> inMinute.collect { case (s, q) if s == sym => q }
      }.toMap)
    }
    (news, dumps)
  }

  // ---- tick_stream input (FIXTURES.md §1) ----

  val tickSymbols: Seq[String] = Seq("XOM", "BP", "SHEL", "COP", "ETHEREUM")

  /** Gap between two ticks of a symbol in the reference, in seconds
    * (BASELINE.md, input rates): the yfinance simulator sends each of its
    * four tickers once every 0.1-2.0 s, the XTB feed ETHEREUM once every
    * 3-6 s. That is about 4 ticks/s in all. */
  val referenceGapS: Map[String, (Double, Double)] =
    quoteSymbols.map(_ -> (0.1, 2.0)).toMap + ("ETHEREUM" -> (3.0, 6.0))

  /** The tick schedule of a seeded feed at `scale` times the reference
    * rate: (due ms from the start, symbol), in due order, without end.
    * Each symbol's gaps are drawn uniformly from its reference range and
    * divided by `scale`, so the symbol mix stays the reference's. */
  def tickSchedule(seed: Long, scale: Double): Iterator[(Long, String)] = {
    val rs = tickSymbols.indices.map(i => new SplittableRandom(seed * 131L + i))
    def gap(i: Int): Double = {
      val (lo, hi) = referenceGapS(tickSymbols(i))
      (lo + rs(i).nextDouble() * (hi - lo)) * 1000.0 / scale
    }
    val next = Array.tabulate(tickSymbols.size)(gap)
    Iterator.continually {
      val i = next.indices.minBy(next(_))
      val due = next(i)
      next(i) += gap(i)
      (due.toLong, tickSymbols(i))
    }
  }

  /** The `k`-th tick of a seeded feed, as the Kafka JSON message. Fields a
    * feed lacks carry the -1.0 sentinel; ETHEREUM comes from the XTB feed
    * (no price), the others from YLIFE (no bid/ask). About 2% of ticks are
    * invalid (out-of-range sentiment or activity, bad source or a
    * timestamp an hour in the future) and 10% arrive up to 2 s out of
    * order. `createdMs` is the creation stamp the latency is timed from. */
  def tick(seed: Long, k: Long, symbol: String, createdMs: Long): String = {
    val r = new SplittableRandom(seed * 7919L + k)
    val skew = if (r.nextInt(10) == 0) r.nextInt(2000) else 0
    var ts = createdMs - skew
    var source = if (symbol == "ETHEREUM") "XTB_FEED" else "YLIFE_FEED"
    var sentiment = r.nextDouble() * 2 - 1
    var activity = r.nextDouble() * 100
    r.nextInt(50) match {
      case 0 => sentiment = 1.5
      case 1 => activity = 140.0
      case 2 => source = "BAD_FEED"
      case 3 => ts = createdMs + 3600000L
      case _ =>
    }
    val base = 50.0 + tickSymbols.indexOf(symbol) * 10 + r.nextDouble()
    val (bid, ask, price, volume, volatility) =
      if (source == "XTB_FEED") (base - 0.05, base + 0.05, -1.0, -1.0, -1.0)
      else (-1.0, -1.0, base, 1000.0 + r.nextInt(100000), r.nextDouble())
    val (spreadRaw, spreadTable) =
      if (source == "XTB_FEED") (0.1, 0.1) else (-1.0, -1.0)
    if (source == "XTB_FEED") { sentiment = -1.0; activity = -1.0 }
    s"""{"symbol":"$symbol","timestamp":$ts,"source":"$source",""" +
      s""""data_type":"MARKET_DATA","bid":$bid,"ask":$ask,"price":$price,""" +
      s""""volume":$volume,"spread_raw":$spreadRaw,"spread_table":$spreadTable,""" +
      s""""volatility":$volatility,"market_sentiment":$sentiment,""" +
      s""""trading_activity":$activity}"""
  }
}
