package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Aggregates, Sessions}

/** Round-9 continuation batch: robust trend (Theil–Sen, Mann–Kendall),
  * per-group OLS / elasticity, XYZ demand classes, RFM segmentation
  * (distributed exact NTILE), inter-arrival burstiness, cohort LTV. */
class TrendAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def day(i: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-${i}%02d 00:00:00")

  // ---- Theil–Sen ----

  test("theilSen recovers a clean slope and shrugs off one wild outlier") {
    // y = 5x + 100 exactly, except day 10 spikes 100x
    val rows = (1 to 20).map { i =>
      val v = if (i == 10) 50000.0 else 5.0 * i + 100.0
      (day(i), v)
    }
    val out = Aggregates.theilSen(rows.toDF("ts", "v"), "ts", "v")
      .collect()(0)
    val slope = out.getAs[Double]("slope_per_day")
    assert(math.abs(slope - 5.0) < 1e-6, s"robust slope $slope")
    assert(out.getAs[Long]("n_days") === 20L)
    assert(out.getAs[Long]("n_pairs") === 190L)
    // OLS on the same series is dragged far off 5 by the outlier
    val ols = Aggregates.olsByGroup(
      rows.toDF("ts", "v").withColumn("g", lit(1))
        .withColumn("x", dayofmonth(col("ts")).cast("double")),
      Seq("g"), "x", "v").collect()(0).getAs[Double]("slope")
    assert(math.abs(ols - 5.0) > 20.0, s"OLS should be dragged, got $ols")
  }

  // ---- Mann–Kendall ----

  test("mannKendall flags a monotonic rise and stays quiet on a constant") {
    val up = (1 to 30).map(i => (day(i), 10.0 * i)).toDF("ts", "v")
    val r = Aggregates.mannKendall(up, "ts", "v").collect()(0)
    // strictly increasing: S = n(n-1)/2 = 435, no ties
    assert(r.getAs[Long]("s_stat") === 435L)
    assert(r.getAs[String]("trend") === "increasing")
    assert(r.getAs[Double]("z") > 1.96)

    val flat = (1 to 30).map(i => (day(i), 7.0)).toDF("ts", "v")
    val f = Aggregates.mannKendall(flat, "ts", "v").collect()(0)
    // all values tie: S = 0 and the tie correction zeroes the variance
    assert(f.getAs[Long]("s_stat") === 0L)
    assert(f.getAs[Double]("var_s") === 0.0)
    assert(f.getAs[String]("trend") === "none")
    assert(f.getAs[Double]("z") === 0.0)
  }

  // ---- per-group OLS ----

  test("olsByGroup: exact line, log-log elasticity, zero-variance guard") {
    val line = (1 to 10).map(i => ("a", i.toDouble, 2.0 * i + 1.0))
      .toDF("g", "x", "y")
    val r = Aggregates.olsByGroup(line, Seq("g"), "x", "y").collect()(0)
    assert(r.getAs[Double]("slope") === 2.0)
    assert(r.getAs[Double]("intercept") === 1.0)
    assert(r.getAs[Double]("r2") === 1.0)

    // constant-elasticity data: q = 100 * p^(-2)  =>  slope -2 in logs
    val el = (1 to 10).map { i =>
      val p = i.toDouble; ("b", p, 100.0 * math.pow(p, -2.0))
    }.toDF("g", "p", "q")
    val e = Aggregates.olsByGroup(el, Seq("g"), "p", "q",
      logX = true, logY = true).collect()(0)
    assert(math.abs(e.getAs[Double]("slope") - -2.0) < 1e-6)

    // zero x-variance: null slope/r2, no ANSI divide-by-zero throw
    val const = Seq(("c", 1.0, 5.0), ("c", 1.0, 9.0)).toDF("g", "x", "y")
    val c = Aggregates.olsByGroup(const, Seq("g"), "x", "y").collect()(0)
    assert(c.isNullAt(c.fieldIndex("slope")))
    assert(c.isNullAt(c.fieldIndex("r2")))
  }

  // ---- XYZ classes ----

  test("xyzClasses separates steady from erratic weekly demand") {
    // steady: 10 every week for 8 weeks (cv = 0 -> X)
    // erratic: alternating 1 / 40 (cv > 1 -> Z)
    def wk(w: Int): java.sql.Timestamp = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(7L * w).atStartOfDay())
    val rows =
      (0 until 8).map(w => (1L, wk(w), 10.0)) ++
      (0 until 8).map(w => (2L, wk(w), if (w % 2 == 0) 1.0 else 40.0))
    val out = Aggregates.xyzClasses(rows.toDF("k", "ts", "q"),
      "k", "ts", "q").collect().map(r =>
        r.getAs[String]("xyz_class") -> r.getAs[Long]("n_keys")).toMap
    assert(out.get("X").contains(1L), s"got $out")
    assert(out.get("Z").contains(1L), s"got $out")
  }

  // ---- RFM: distributed NTILE == window NTILE ----

  test("rfmSegments quintiles equal a window NTILE(5) end-to-end") {
    val rng = new scala.util.Random(7)
    val orders = (1 to 400).map { i =>
      val cust = 1L + rng.nextInt(80)
      (cust, day(1 + rng.nextInt(28)), 10.0 + rng.nextInt(500))
    }.toDF("c", "ts", "v")
    val got = Aggregates.rfmSegments(orders, "c", "ts", "v")
      .collect().map(r => (r.getAs[String]("segment"),
        r.getAs[Long]("n_customers"),
        r.getAs[Double]("total_spend"))).toSet

    // reference: the same pipeline with plain window NTILEs
    val per = orders.groupBy(col("c"))
      .agg(max(to_date(col("ts"))).as("last"), count(lit(1)).as("f"),
        sum(col("v")).as("m"))
      .crossJoin(broadcast(
        orders.agg(max(to_date(col("ts"))).as("maxd"))))
      .withColumn("rec", datediff(col("maxd"), col("last")))
    val scored = per
      .withColumn("r", ntile(5).over(
        Window.orderBy(col("rec").desc, col("c"))))
      .withColumn("f5", ntile(5).over(Window.orderBy(col("f"), col("c"))))
      .withColumn("m5", ntile(5).over(Window.orderBy(col("m"), col("c"))))
    val want = scored
      .withColumn("segment",
        when(col("r") >= 4 && col("f5") >= 4 && col("m5") >= 4, "champion")
          .when(col("f5") >= 4, "loyal")
          .when(col("m5") >= 4, "big_spender")
          .when(col("r") <= 2 && col("f5") <= 2, "hibernating")
          .when(col("r") <= 2, "at_risk")
          .otherwise("regular"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n"), round(sum(col("m")), 2).as("spend"))
      .collect().map(r => (r.getAs[String]("segment"),
        r.getAs[Long]("n"), r.getAs[Double]("spend"))).toSet
    assert(got === want)
  }

  test("rfmSegments: exact-decimal monetary ties rank by key, not noise") {
    // 10 customers, ALL with identical cent-exact spend built from
    // sums whose float accumulation order could differ — the ranking
    // must fall back to the key (the review-found hazard), so the
    // quintiles are exactly 2 customers each in key order
    val rows = (1L to 10L).flatMap { c =>
      // three orders summing to 300.30 for every customer, but split
      // differently per customer so naive double sums diverge in ulps
      val a = 100.10 + c * 0.01
      val b = 100.10 - c * 0.01
      Seq((c, day(1), a), (c, day(2), b), (c, day(3), 100.10))
    }.toDF("c", "ts", "v")
    val out = Aggregates.rfmSegments(rows, "c", "ts", "v").collect()
    // every customer has identical (recency, frequency, monetary)
    // after round-2, so scores tie-break purely on the key and the
    // segment rollup is deterministic: n_customers sums to 10 and
    // total_spend is exactly 10 x 300.30
    assert(out.map(_.getAs[Long]("n_customers")).sum === 10L)
    assert(math.abs(out.map(_.getAs[Double]("total_spend")).sum
      - 3003.0) < 1e-9)
  }

  // ---- inter-arrival ----

  test("interArrival: metronome is burstiness -1, short keys dropped") {
    // key 1: orders every 5 days (7 events) — cv 0, burstiness -1
    // key 2: two events only — dropped by minEvents=3
    val reg = (0 until 7).map(i => (1L, java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(5L * i)
        .atStartOfDay()))) ++ Seq((2L, day(1)), (2L, day(9)))
    val out = Sessions.interArrival(reg.toDF("k", "ts"), "k", "ts")
      .collect()
    assert(out.length === 1)
    val r = out(0)
    assert(r.getAs[Long]("n_events") === 7L)
    assert(r.getAs[Double]("mean_gap_days") === 5.0)
    assert(r.getAs[Double]("cv") === 0.0)
    assert(r.getAs[Double]("burstiness") === -1.0)
  }

  // ---- cohort LTV ----

  test("cohortLtv: hand-checked two-cohort curve") {
    val rows = Seq(
      // cohort 2024-01: users 1,2 — Jan rev 30, Feb rev 20 (user 1)
      (1L, ts("2024-01-05"), 10.0), (2L, ts("2024-01-20"), 20.0),
      (1L, ts("2024-02-10"), 20.0),
      // cohort 2024-02: user 3 — Feb rev 5
      (3L, ts("2024-02-02"), 5.0))
    val out = Sessions.cohortLtv(rows.toDF("u", "ts", "v"),
        "u", "ts", "v")
      .orderBy("cohort", "age_months").collect()
    val jan0 = out(0)
    assert(jan0.getAs[String]("cohort") === "2024-01")
    assert(jan0.getAs[Int]("age_months") === 0)
    assert(jan0.getAs[Long]("cohort_size") === 2L)
    assert(jan0.getAs[Long]("n_active") === 2L)
    assert(jan0.getAs[Double]("revenue") === 30.0)
    assert(jan0.getAs[Double]("ltv_per_user") === 15.0)
    val jan1 = out(1)
    assert(jan1.getAs[Int]("age_months") === 1)
    assert(jan1.getAs[Long]("n_active") === 1L)
    assert(jan1.getAs[Double]("cum_revenue") === 50.0)
    assert(jan1.getAs[Double]("ltv_per_user") === 25.0)
    val feb0 = out(2)
    assert(feb0.getAs[String]("cohort") === "2024-02")
    assert(feb0.getAs[Double]("ltv_per_user") === 5.0)
  }

  private def ts(d: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(d + " 00:00:00")

  // ---- OHLC bars ----

  test("ohlcBars: open/close follow timestamps, ties break on id") {
    def at(h: Int, m: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-03-01 $h%02d:$m%02d:00")
    val rows = Seq(
      ("a", at(9, 0), 100.0, 1L), ("a", at(12, 0), 250.0, 2L),
      ("a", at(16, 0), 50.0, 3L), ("a", at(16, 0), 75.0, 4L),
      ("b", at(10, 0), 7.0, 5L))
    val out = Aggregates.ohlcBars(rows.toDF("k", "ts", "v", "id"),
        Seq("k"), "ts", "v", "id")
      .orderBy("k").collect()
    val a = out(0)
    assert(a.getAs[Double]("open") === 100.0)
    assert(a.getAs[Double]("high") === 250.0)
    assert(a.getAs[Double]("low") === 50.0)
    // two rows at 16:00 — the larger id (75.0) is the close
    assert(a.getAs[Double]("close") === 75.0)
    assert(a.getAs[Long]("n") === 4L)
    val b = out(1)
    assert(b.getAs[Double]("open") === 7.0 &&
      b.getAs[Double]("close") === 7.0)
  }

  // ---- seasonal-naive backtest ----

  test("backtestSeasonalNaive: perfect weekly signal scores zero error") {
    // value depends only on weekday — the period-7 naive forecast is
    // exact on the holdout, so every error metric is 0 and MASE is 0
    val rows = (0 until 70).map { i =>
      val d = java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)
      (java.sql.Timestamp.valueOf(d.atStartOfDay), 100.0 + (i % 7) * 10)
    }
    val r = Aggregates.backtestSeasonalNaive(rows.toDF("ts", "v"),
      "ts", "v", horizon = 14, period = 7).collect()(0)
    assert(r.getAs[Long]("n_test") === 14L)
    assert(r.getAs[Double]("mae") === 0.0)
    assert(r.getAs[Double]("rmse") === 0.0)
    assert(r.getAs[Double]("smape") === 0.0)
    assert(r.getAs[Double]("mase") === 0.0)

    // shift the holdout by a constant: the first holdout week is
    // forecast from unbumped days (error 5), the second from bumped
    // ones (error 0) — MAE = 2.5 exactly, MASE finite
    val bumped = rows.zipWithIndex.map { case ((t, v), i) =>
      (t, if (i >= 56) v + 5.0 else v)
    }
    val b = Aggregates.backtestSeasonalNaive(bumped.toDF("ts", "v"),
      "ts", "v", horizon = 14, period = 7).collect()(0)
    assert(b.getAs[Double]("mae") === 2.5)
    assert(b.getAs[Double]("mase") > 0.0)
  }

  // ---- weighted percentiles ----

  test("weightedPercentiles: weights move the median, exact thresholds") {
    // values 1..4 with weight stacked on 4: plain median would be
    // 2.5-ish, weighted median must be 4 (cum 1+1+1 = 3 < 0.5*13)
    val rows = Seq(("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 1.0),
      ("g", 4.0, 10.0))
    val r = Aggregates.weightedPercentiles(rows.toDF("k", "v", "w"),
      Seq("k"), "v", "w").collect()(0)
    assert(r.getAs[Double]("p25") === 4.0)
    assert(r.getAs[Double]("p50") === 4.0)
    assert(r.getAs[Double]("p75") === 4.0)
    assert(r.getAs[Double]("total_weight") === 13.0)

    // uniform weights reduce to the plain lower percentile
    val u = (1 to 100).map(i => ("u", i.toDouble, 1.0))
    val ur = Aggregates.weightedPercentiles(u.toDF("k", "v", "w"),
      Seq("k"), "v", "w").collect()(0)
    assert(ur.getAs[Double]("p25") === 25.0)
    assert(ur.getAs[Double]("p50") === 50.0)
    assert(ur.getAs[Double]("p75") === 75.0)
  }

  // ---- k-core ----

  test("kCore: clique survives, tails peel, chains cascade to empty") {
    import graft.operators.Graph
    // 4-clique {1,2,3,4} with a pendant path 4-5-6
    val clique = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    val g = (clique ++ Seq((4L, 5L), (5L, 6L))).toDF("id_a", "id_b")
    val core3 = Graph.kCore(g, 3, 6).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("core_degree"))
      .toMap
    assert(core3 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))

    // a 5-node chain has no 2-core: peeling cascades from the
    // endpoints inward and needs MULTIPLE rounds to drain
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    assert(Graph.kCore(chain, 2, 6).count() === 0L)

    // a cycle IS its own 2-core — nothing peels
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
      .toDF("id_a", "id_b")
    val c2 = Graph.kCore(cycle, 2, 6).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("core_degree"))
      .toMap
    assert(c2 === Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
  }

  // ---- cross-correlation ----

  test("crossCorrelation peaks at exactly the planted shift") {
    val rng = new scala.util.Random(11)
    val base = (0 until 60).map(i => i -> (100.0 + rng.nextInt(1000)))
    def day(i: Int): java.sql.Timestamp = java.sql.Timestamp.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong).atStartOfDay)
    val a = base.map { case (i, v) => (day(i), v) }.toDF("ts", "v")
    // B is A shifted 3 days forward: corr at lag +3 must be exactly 1
    val b = base.map { case (i, v) => (day(i + 3), v) }.toDF("ts", "v")
    val out = Aggregates.crossCorrelation(a, "ts", "v", b, "ts", "v",
        maxLag = 5)
      .collect().map(r => r.getAs[Int]("lag") -> r.getAs[Double]("r"))
      .toMap
    assert(out(3) === 1.0, s"lag-3 r was ${out(3)}")
    assert(out.filter(_._1 != 3).values.forall(r => r == null ||
      math.abs(r) < 0.5), s"spurious peaks: $out")
  }

  // ---- Holt-Winters ----

  test("holtWinters with gamma=0 reduces to holt bit-for-bit") {
    val rng = new scala.util.Random(3)
    val rows = (1 to 50).map(i => ("k", i, 10.0 + rng.nextInt(100)))
      .toDF("k", "i", "v")
    val hw = Sessions.holtWinters(rows, "k", Seq("i"), "v",
        0.25, 0.125, 0.0, 7)
      .select("i", "level", "trend").orderBy("i")
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    val h = Sessions.holt(rows, "k", Seq("i"), "v", 0.25, 0.125)
      .select("i", "level", "trend").orderBy("i")
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    assert(hw.toSeq === h.toSeq)
  }

  test("holtWinters matches a driver-side scalar fold to the ulp") {
    val rng = new scala.util.Random(5)
    val vals = (1 to 40).map(_ => 10.0 + rng.nextInt(100).toDouble)
    val rows = vals.zipWithIndex.map { case (v, i) => ("k", i + 1, v) }
      .toDF("k", "i", "v")
    val got = Sessions.holtWinters(rows, "k", Seq("i"), "v",
        0.5, 0.25, 0.125, 7)
      .orderBy("i").select("level", "trend", "forecast")
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    // the same recurrence, folded in plain Scala on the driver
    var l = 0.0; var b = 0.0; var t = 0L
    val s = new Array[Double](7)
    val want = vals.map { x =>
      if (t == 0L) { l = x; b = 0.0; t = 1L }
      else {
        t += 1
        val ph = ((t - 1) % 7).toInt
        val sOld = s(ph)
        val lNew = 0.5 * (x - sOld) + 0.5 * (l + b)
        b = 0.25 * (lNew - l) + 0.75 * b
        s(ph) = 0.125 * (x - lNew) + 0.875 * sOld
        l = lNew
      }
      (l, b, l + b + s((t % 7).toInt))
    }
    assert(got.toSeq === want)
  }

  // ---- ranking metrics ----

  test("rankingMetrics: perfect ranking is NDCG 1, reversal degrades it") {
    import graft.llm.Relevance
    val rels = Seq((1L, 2), (2L, 1), (3L, 1), (4L, 0)).toDF("id", "rel")
    // perfect: ranked exactly by grade
    val perfect = Seq((1L, 1), (2L, 2), (3L, 3), (4L, 4)).toDF("id", "rank")
    val p = Relevance.rankingMetrics(perfect, rels, 10).collect()(0)
    assert(p.getAs[Double]("ndcg") === 1.0)
    assert(p.getAs[Double]("mrr") === 1.0)
    assert(p.getAs[Long]("n_relevant") === 3L)

    // worst: best doc last
    val reversed = Seq((1L, 4), (2L, 3), (3L, 2), (4L, 1)).toDF("id", "rank")
    val r = Relevance.rankingMetrics(reversed, rels, 10).collect()(0)
    assert(r.getAs[Double]("ndcg") < 1.0)
    assert(r.getAs[Double]("mrr") === 0.5)  // first relevant at rank 2

    // hand check DCG of the perfect ranking:
    // (2^2-1)/log2(2) + 1/log2(3) + 1/log2(4) = 3 + 0.63093 + 0.5
    assert(math.abs(p.getAs[Double]("dcg") - 4.130930) < 1e-6)

    // nothing relevant inside the cut: null mrr, ndcg 0
    val missed = Seq((4L, 1)).toDF("id", "rank")
    val m = Relevance.rankingMetrics(missed, rels, 1).collect()(0)
    assert(m.isNullAt(m.fieldIndex("mrr")))
    assert(m.getAs[Double]("ndcg") === 0.0)
  }

  // ---- BFS hops ----

  test("bfsHops: path distances, cap, and disconnected nodes") {
    import graft.operators.Graph
    // path 1-2-3-4-5-6 plus isolated edge 10-11; seed = {1}
    forEachBroadcastThreshold {
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
        (10L, 11L)).toDF("id_a", "id_b")
      val seeds = Seq(1L).toDF("id")
      val got = Graph.bfsHops(edges, seeds, maxHops = 3).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Int]("hops")).toMap
      // nodes past the cap (5, 6) and the disconnected pair don't emit
      assert(got === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))

      // two seeds: nearest-seed distance wins
      val two = Graph.bfsHops(edges, Seq(1L, 6L).toDF("id"), 3).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Int]("hops")).toMap
      assert(two === Map(1L -> 0, 6L -> 0, 2L -> 1, 5L -> 1,
        3L -> 2, 4L -> 2))
    }
  }

  // ---- survivorship dedup ----

  test("survivorship keeps the best copy, ties to the smallest id") {
    import graft.llm.Dedup
    // three copies of the same normalized text (quality equal -> tie
    // broken to smallest id), one cluster where lengths differ
    val docs = Seq(
      (5L, "the cat sat on the mat"),
      (3L, "the cat  sat on   the mat"),   // same fingerprint, same q
      (9L, "the cat sat on the mat"),
      (1L, "x"),                            // singleton, tiny quality
      (2L, "the quick brown fox jumps over the lazy dog and runs on"))
      .toDF("doc_id", "text")
    val out = Dedup.survivorship(docs, "doc_id", "text",
        graft.functions.Text.qualityScore(col("text")))
      .collect().map(r => r.getAs[Long]("survivor_id") ->
        r.getAs[Long]("dup_count")).toMap
    assert(out(3L) === 3L)  // tie on quality -> smallest id of 3,5,9
    assert(out(1L) === 1L)
    assert(out(2L) === 1L)
  }

  // ---- seasonal outliers ----

  test("seasonalOutliers flags exactly the planted anomaly day") {
    // pure weekly signal for 10 weeks, day 40 spiked far outside it
    val rows = (0 until 70).map { i =>
      val d = java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)
      val v = 100.0 + (i % 7) * 10 + (if (i == 40) 5000.0 else 0.0)
      (java.sql.Timestamp.valueOf(d.atStartOfDay), v)
    }
    val out = Aggregates.seasonalOutliers(rows.toDF("ts", "v"),
      col("ts"), col("v")).collect()
    val days = out.map(_.getAs[String]("day")).toSet
    assert(days.contains("2024-02-10"), s"planted day missing: $days")
    // the spike contaminates its own phase mean and MA window, so
    // secondary flags are legitimate — but the planted day must be
    // BY FAR the most extreme residual among them
    val byDev = out.map(r => r.getAs[String]("day") ->
      math.abs(r.getAs[Double]("remainder") - r.getAs[Double]("med")))
    val (topDay, topDev) = byDev.maxBy(_._2)
    assert(topDay === "2024-02-10", s"most extreme is $topDay")
    val secondDev = byDev.filter(_._1 != topDay).map(_._2).max
    assert(topDev > 3.0 * secondDev,
      s"planted dev $topDev vs next $secondDev")
  }
}
