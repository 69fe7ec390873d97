package graft

import graft.functions.Text
import graft.operators.{Aggregates, Geo}
import graft.plans.{JaroWinklerSim, JaroWinklerUtil}
import org.apache.spark.sql.functions._

/** Round-9 second batch: one-way ANOVA, one-vs-rest z screen +
  * Benjamini-Hochberg FDR, the native Jaro-Winkler kernel, the
  * grid-bucketed geo radius join, and Flesch readability. Every
  * expected value is hand-computable or pinned against the oracle
  * engine's own function output. */
class StatsGeoSpec extends SparkSpec {
  import spark.implicits._

  // ---- ANOVA ----

  test("anovaF hand fixture: textbook two-group reduces to t^2") {
    // groups {1,2,3} and {5,6,7}: means 2 and 6, grand 4
    // SSB = 3*(2-4)^2 + 3*(6-4)^2 = 24; SSW = 2 + 2 = 4
    // F = (24/1)/(4/4) = 24; eta^2 = 24/28
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 5.0), ("b", 6.0), ("b", 7.0)).toDF("g", "v")
    val r = Aggregates.anovaF(df, "g", "v").collect().head
    assert(r.getAs[Long]("k_groups") == 2L)
    assert(r.getAs[Long]("n_total") == 6L)
    assert(math.abs(r.getAs[Double]("f_stat") - 24.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("eta_sq") - 24.0 / 28.0) < 1e-6)
  }

  test("anovaF identical groups: F = 0; one group: null F") {
    val same = Seq(("a", 1.0), ("a", 3.0), ("b", 1.0), ("b", 3.0))
      .toDF("g", "v")
    assert(Aggregates.anovaF(same, "g", "v")
      .collect().head.getAs[Double]("f_stat") == 0.0)
    val one = Seq(("a", 1.0), ("a", 3.0)).toDF("g", "v")
    val r = Aggregates.anovaF(one, "g", "v").collect().head
    assert(r.isNullAt(r.fieldIndex("f_stat")))
  }

  // ---- z-test vs rest + BH ----

  test("zTestVsRest: shifted group gets large |z| and small p") {
    val rows = (1 to 50).map(i => ("base", i.toDouble % 7)) ++
      (1 to 20).map(i => ("hot", 100.0 + i % 3))
    val r = Aggregates.zTestVsRest(rows.toDF("k", "v"), "k", "v")
      .collect().map(x => x.getString(0) ->
        (x.getAs[Double]("z_stat"), x.getAs[Double]("p_value"))).toMap
    assert(r("hot")._1 > 10.0)
    assert(r("hot")._2 == 0.0) // far tail rounds to exactly 0 at 6dp
    assert(math.abs(r("base")._1) == math.abs(r("hot")._1))
  }

  test("zPValue matches the normal tail at pinned points") {
    // two-sided p at z=1.959964 is 0.05 (within the A&S 1.5e-7 bound)
    val p = spark.range(1).select(
      Aggregates.zPValue(lit(1.959964)).as("p")).collect().head.getDouble(0)
    assert(math.abs(p - 0.05) < 1e-5)
    val p0 = spark.range(1).select(
      Aggregates.zPValue(lit(0.0)).as("p")).collect().head.getDouble(0)
    assert(math.abs(p0 - 1.0) < 1e-6)
  }

  test("bhFdr step-up: significance is rank-contiguous and correct") {
    // m=4, alpha=0.2: crits are 0.05/0.10/0.15/0.20
    // p = 0.01, 0.12, 0.14, 0.9 -> largest passing rank is 3
    // (0.14 <= 0.15) so ranks 1..3 significant INCLUDING 0.12 > 0.10
    val tests = Seq(("a", 0.01), ("b", 0.12), ("c", 0.14), ("d", 0.9))
      .toDF("k", "p_value")
    val r = Aggregates.bhFdr(tests, "p_value", "k", 0.2)
      .collect().map(x => x.getString(0) ->
        x.getAs[Boolean]("significant")).toMap
    assert(r == Map("a" -> true, "b" -> true, "c" -> true, "d" -> false))
  }

  test("bhFdr: nothing passes when all p exceed every crit") {
    val tests = Seq(("a", 0.5), ("b", 0.6)).toDF("k", "p_value")
    assert(Aggregates.bhFdr(tests, "p_value", "k", 0.05)
      .filter(col("significant")).count() == 0L)
  }

  test("bhFdr: null p-values rank LAST and can never pass") {
    // a degenerate test (null p from zTestVsRest's guards) must not
    // soak up rank 1 — that would shift every real crit and could
    // declare the untestable hypothesis significant
    val tests = Seq(("a", Some(0.01)), ("b", None), ("c", Some(0.9)))
      .toDF("k", "p_value")
    val r = Aggregates.bhFdr(tests, "p_value", "k", 0.05).collect()
      .map(x => x.getString(0) -> (x.getAs[Int]("p_rank"),
        x.getAs[Boolean]("significant"))).toMap
    assert(r("a") == ((1, true))) // 0.01 <= 1*0.05/3
    assert(r("b")._1 == 3 && !r("b")._2) // null ranks last, never passes
    assert(!r("c")._2)
  }

  // ---- Jaro-Winkler ----

  test("jaroWinkler pinned against the oracle engine's outputs") {
    // every expected value read directly from DuckDB
    // jaro_winkler_similarity (round-9 calibration run)
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("abcdef", "abczzz", 0.6666666666666666), // jaro<=0.7: NO boost
      ("ab", "ba", 0.0), // window 0
      ("a", "", 0.0), ("", "", 0.0), // empties score 0, not 1
      ("abc", "xyz", 0.0),
      ("abcdexyz", "abcdeqrs", 0.85), // prefix capped at 4
      ("appel", "apple", 0.9533333333333333),
      ("dwayne", "duane", 0.8400000000000001),
      ("aaaaaaaaaa", "aaaaa", 0.9),
      ("ABC", "abc", 0.0), // case-sensitive
      ("crate", "trace", 0.7333333333333334))
    cases.foreach { case (a, b, want) =>
      assert(math.abs(JaroWinklerUtil.sim(a, b) - want) < 1e-12,
        s"sim($a, $b)")
    }
  }

  test("jaroWinkler codegen expression == util, null-safe, symmetric") {
    val df = Seq(("martha", "marhta"), ("crate", "trace"),
      ("", "x"), ("same", "same")).toDF("a", "b")
    val got = df.select(
      JaroWinklerSim.jaroWinkler(col("a"), col("b")).as("ab"),
      JaroWinklerSim.jaroWinkler(col("b"), col("a")).as("ba"))
      .collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    assert(got.map(_.getDouble(0)).sameElements(
      Seq(("martha", "marhta"), ("crate", "trace"), ("", "x"),
        ("same", "same")).map { case (a, b) => JaroWinklerUtil.sim(a, b) }))
    val withNull = Seq((Some("x"), None: Option[String])).toDF("a", "b")
      .select(JaroWinklerSim.jaroWinkler(col("a"), col("b")).as("jw"))
      .collect().head
    assert(withNull.isNullAt(0))
  }

  test("jaro_winkler registered as a SQL function") {
    graft.plans.GraftExtensions.registerInto(spark)
    val r = spark.sql(
      "SELECT jaro_winkler('martha', 'marhta') AS jw").collect().head
    assert(math.abs(r.getDouble(0) - 0.9611111111111111) < 1e-12)
  }

  // ---- geo ----

  test("haversineKm known distances") {
    // Paris (48.8566, 2.3522) <-> London (51.5074, -0.1278): ~343.5 km
    // same point -> 0; antipodal-ish guard stays in asin domain
    val df = Seq((48.8566, 2.3522, 51.5074, -0.1278),
      (10.0, 20.0, 10.0, 20.0),
      (0.0, 0.0, 0.0, 180.0)).toDF("la1", "lo1", "la2", "lo2")
    val d = df.select(Geo.haversineKm(col("la1"), col("lo1"),
      col("la2"), col("lo2")).as("d")).collect().map(_.getDouble(0))
    assert(math.abs(d(0) - 343.5) < 1.0)
    assert(d(1) == 0.0)
    assert(math.abs(d(2) - math.Pi * Geo.EarthRadiusKm) < 1e-6)
  }

  test("radiusJoin == all-pairs haversine filter on a random band") {
    val rnd = new scala.util.Random(7)
    def pts(n: Int, tag: String) = (1 to n).map(i =>
      (s"$tag$i", rnd.nextDouble() * 120 - 60,
        rnd.nextDouble() * 360 - 180))
    val a = pts(120, "a").toDF("ida", "lata", "lona")
    val b = pts(80, "b").toDF("idb", "latb", "lonb")
    val r = 900.0
    val got = Geo.radiusJoin(a, b, "lata", "lona", "latb", "lonb", r)
      .select("ida", "idb").collect().map(x => (x.getString(0),
        x.getString(1))).toSet
    val want = a.crossJoin(b)
      .withColumn("d", Geo.haversineKm(col("lata"), col("lona"),
        col("latb"), col("lonb")))
      .filter(col("d") <= r)
      .select("ida", "idb").collect().map(x => (x.getString(0),
        x.getString(1))).toSet
    assert(want.nonEmpty && got == want)
  }

  test("radiusJoin rejects out-of-band latitudes loudly") {
    val a = Seq(("a", 75.0, 0.0)).toDF("ida", "lata", "lona")
    val b = Seq(("b", 10.0, 0.0)).toDF("idb", "latb", "lonb")
    val ex = intercept[Exception] {
      Geo.radiusJoin(a, b, "lata", "lona", "latb", "lonb", 100.0).count()
    }
    assert(ex.getMessage != null)
  }

  // ---- grid DBSCAN ----

  test("gridDbscan hand fixture: two blobs, a border point, noise") {
    // cell 1°, minPts 2. Blob A: two points in one cell; blob B: two
    // points in a far cell; border: single point in a cell adjacent
    // to A's; noise: single point far from everything.
    val pts = Seq(
      ("a1", 10.2, 20.2), ("a2", 10.4, 20.4), // core cell A
      ("b1", 40.2, 60.2), ("b2", 40.3, 60.3), // core cell B
      ("brd", 11.5, 20.5), // adjacent (lat+1) to A's cell, alone
      ("nz", -30.0, -90.0)) // isolated
      .toDF("id", "lat", "lon")
    val out = Geo.gridDbscan(pts, "lat", "lon", "id", 1.0, 2L)
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out("a1").isDefined && out("a1") == out("a2"))
    assert(out("b1").isDefined && out("b1") == out("b2"))
    assert(out("a1") != out("b1")) // separated by >1 empty cell
    assert(out("brd") == out("a1")) // border joins the adjacent core
    assert(out("nz").isEmpty) // noise
  }

  test("gridDbscan == driver-side reference on random points") {
    val rnd = new scala.util.Random(31)
    val pts = (1 to 400).map(i =>
      (i.toLong, rnd.nextDouble() * 20 - 10, rnd.nextDouble() * 40 - 20))
    val got = Geo.gridDbscan(pts.toDF("id", "lat", "lon"),
      "lat", "lon", "id", 2.0, 3L)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // reference: cells -> core -> BFS over 8-adjacency -> labels
    val enc = 100000L
    def cell(lat: Double, lon: Double): Long =
      math.floor((lon + 180.0) / 2.0).toLong * enc +
        math.floor((lat + 90.0) / 2.0).toLong
    val byCell = pts.groupBy(p => cell(p._2, p._3))
    val core = byCell.filter(_._2.size >= 3).keySet
    val label = scala.collection.mutable.Map[Long, Long]()
    core.toSeq.sorted.foreach { c =>
      if (!label.contains(c)) {
        // BFS the component, label with its min cell id
        val comp = scala.collection.mutable.Set(c)
        val queue = scala.collection.mutable.Queue(c)
        while (queue.nonEmpty) {
          val x = queue.dequeue()
          for (dx <- -1 to 1; dy <- -1 to 1) {
            val nb = x + dx * enc + dy
            if (core.contains(nb) && !comp.contains(nb)) {
              comp += nb; queue.enqueue(nb)
            }
          }
        }
        val root = comp.min
        comp.foreach(m => label(m) = root)
      }
    }
    pts.foreach { case (id, lat, lon) =>
      val c = cell(lat, lon)
      val want =
        if (core.contains(c)) Some(label(c))
        else {
          val adj = for {
            dx <- -1 to 1; dy <- -1 to 1
            nb = c + dx * enc + dy if core.contains(nb)
          } yield label(nb)
          if (adj.nonEmpty) Some(adj.min) else None
        }
      assert(got(id) == want, s"point $id")
    }
  }

  test("gridDbscan distributed CC path (threshold -1) == driver BFS path") {
    val rnd = new scala.util.Random(41)
    val pts = (1 to 300).map(i =>
      (i.toLong, rnd.nextDouble() * 20 - 10, rnd.nextDouble() * 40 - 20))
      .toDF("id", "lat", "lon")
    // the byte gate reads the broadcast threshold: 10 MiB holds the
    // core cells (driver BFS), -1 forces connectedComponents
    val runs = scala.collection.mutable.ArrayBuffer[Map[Long, Option[Long]]]()
    forEachBroadcastThreshold {
      runs += Geo.gridDbscan(pts, "lat", "lon", "id", 2.0, 3L).collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    }
    assert(runs.size == 2 && runs(0) == runs(1))
    assert(runs(0).values.exists(_.nonEmpty))
  }

  // ---- conformal ----

  test("conformalIntervals hand fixture: rank math and coverage") {
    // train mean = 10; cal residuals 1..9 (n=9, alpha=0.1 ->
    // k = ceil(10*0.9) = 9 -> q_hat = 9); test: residuals 5 and 12
    // -> coverage 0.5
    val train = Seq(("k", 8.0), ("k", 12.0)).toDF("g", "v")
    val cal = (1 to 9).map(i => ("k", 10.0 + i)).toDF("g", "v")
    val test = Seq(("k", 15.0), ("k", 22.0)).toDF("g", "v")
    val r = Aggregates.conformalIntervals(train, cal, test, "g", "v", 0.1)
      .collect().head
    assert(r.getAs[Long]("n_cal") == 9L)
    assert(r.getAs[Double]("pred") == 10.0)
    assert(r.getAs[Double]("q_hat") == 9.0)
    assert(r.getAs[Double]("coverage") == 0.5)
  }

  test("conformalIntervals: realized coverage respects 1 - alpha") {
    val rnd = new scala.util.Random(37)
    def draw(n: Int) = (1 to n).map(_ => ("k", rnd.nextGaussian())).toDF("g", "v")
    val r = Aggregates.conformalIntervals(draw(500), draw(500), draw(500),
      "g", "v", 0.1).collect().head
    // finite-sample guarantee is >= 0.9 in expectation; allow noise
    assert(r.getAs[Double]("coverage") >= 0.85)
    assert(r.getAs[Double]("q_hat") > 0.0)
  }

  // ---- business days / decayed counts ----

  test("businessDaysBetween: known weeks, weekend clipping, antisymmetry") {
    import graft.operators.Sessions
    // 2024-01-01 is a Monday
    val df = Seq(
      ("2024-01-01", "2024-01-08"), // Mon -> next Mon: 5 weekdays
      ("2024-01-06", "2024-01-08"), // Sat -> Mon: 0 (half-open)
      ("2024-01-05", "2024-01-09"), // Fri -> Tue: Fri + Mon = 2
      ("2024-01-01", "2024-01-01"), // empty interval
      ("2024-01-08", "2024-01-01")) // reversed: -5
      .toDF("s", "e")
    val got = df.select(Sessions.businessDaysBetween(
      to_date(col("s")), to_date(col("e"))).as("b"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(5L, 0L, 2L, 0L, -5L))
    // brute-force sweep: every (start, end) pair in a 3-week window
    val days = (0 to 20).map(i => java.time.LocalDate
      .of(2024, 1, 1).plusDays(i))
    val pairs = for (a <- days; b <- days if !b.isBefore(a)) yield (a, b)
    val expect = pairs.map { case (a, b) =>
      Iterator.iterate(a)(_.plusDays(1)).takeWhile(_.isBefore(b))
        .count(d => d.getDayOfWeek.getValue <= 5).toLong
    }
    val gotAll = pairs.map(p => (p._1.toString, p._2.toString))
      .toDF("s", "e")
      .select(Sessions.businessDaysBetween(to_date(col("s")),
        to_date(col("e"))).as("b"))
      .collect().map(_.getLong(0)).toSeq
    assert(gotAll == expect)
  }

  test("decayedCounts: exact half-life weights, one pass") {
    import graft.operators.Sessions
    // anchor = max ts; ages 0, 7, 14 days -> weights 1, 0.5, 0.25
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    def at(daysBefore: Int) = new java.sql.Timestamp(
      base.getTime - daysBefore * 86400000L)
    val df = Seq(("k", at(0)), ("k", at(7)), ("k", at(14)))
      .toDF("g", "ts")
    val r = Sessions.decayedCounts(df, "g", "ts", 7.0).collect().head
    assert(r.getAs[Long]("n") == 3L)
    assert(math.abs(r.getAs[Double]("decayed_count") - 1.75) < 1e-9)
  }

  // ---- target encoding / WOE-IV ----

  test("targetEncode: other-fold means exactly, leakage excluded") {
    val rnd = new scala.util.Random(43)
    val rows = (1 to 200).map(i =>
      (i.toLong, Seq("a", "b", "c")(rnd.nextInt(3)), rnd.nextDouble() * 10))
    val df = rows.toDF("id", "cat", "y")
    val got = Aggregates.targetEncode(df, "id", "cat", "y",
      folds = 4, smoothing = 0.0).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2),
        r.getDouble(3))).toMap
    // recompute folds from the same md5 derivation and check each
    // encoding equals the OTHER folds' plain mean (smoothing 0)
    def fold(id: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$id:te".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 13)
      val u = (java.lang.Long.parseLong(hex, 16) + 1.0) / 4503599627370498.0
      math.floor(u * 4).toInt
    }
    def rnd6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.foreach { case (id, cat, _) =>
      val f = fold(id)
      val others = rows.filter(r => r._2 == cat && fold(r._1) != f)
      val want = rnd6(others.map(_._3).sum / others.size)
      val (gc, gf, ge) = got(id)
      assert(gc == cat && gf == f)
      assert(math.abs(ge - want) < 2e-6, s"row $id")
    }
  }

  test("targetEncode: heavy smoothing pulls to the global mean") {
    val df = (1 to 100).map(i =>
      (i.toLong, if (i % 2 == 0) "a" else "b",
        if (i % 2 == 0) 100.0 else 0.0)).toDF("id", "cat", "y")
    val out = Aggregates.targetEncode(df, "id", "cat", "y",
      folds = 4, smoothing = 1e9).collect().map(_.getDouble(3))
    out.foreach(e => assert(math.abs(e - 50.0) < 0.01))
  }

  test("woeIv hand fixture") {
    // cat p: 8 pos, 2 neg; cat q: 2 pos, 8 neg; alpha 0.5, k = 2
    // dp_p = 8.5/11, dn_p = 2.5/11; woe_p = ln(8.5/2.5)
    val df = (Seq.fill(8)(("p", 1)) ++ Seq.fill(2)(("p", 0)) ++
      Seq.fill(2)(("q", 1)) ++ Seq.fill(8)(("q", 0))).toDF("cat", "y")
    val r = Aggregates.woeIv(df, "cat", "y").collect()
      .map(x => x.getString(0) -> x).toMap
    def rnd6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val woeP = rnd6(math.log(8.5 / 2.5))
    assert(r("p").getAs[Double]("woe") == woeP)
    assert(r("q").getAs[Double]("woe") == rnd6(math.log(2.5 / 8.5)))
    val dpP = 8.5 / 11.0; val dnP = 2.5 / 11.0
    val ivWant = rnd6(2 * ((dpP - dnP) * math.log(dpP / dnP)))
    assert(r("p").getAs[Double]("iv_total") == ivWant)
    assert(r("p").getAs[Long]("n") == 10L)
    assert(r("p").getAs[Long]("n_pos") == 8L)
  }

  test("woeIv: uninformative category scores ~0 IV") {
    val df = (1 to 400).map(i =>
      (if (i % 2 == 0) "x" else "y", i % 2)).toDF("cat", "y")
    // labels split 50/50 INSIDE each... actually alternate: x always
    // pos, y always neg would be max IV; use i%4 to decorrelate
    val df2 = (1 to 400).map(i =>
      (if (i % 2 == 0) "x" else "y", (i / 2) % 2)).toDF("cat", "y")
    val iv = Aggregates.woeIv(df2, "cat", "y").collect()
      .head.getAs[Double]("iv_total")
    assert(math.abs(iv) < 0.01)
  }

  // ---- Flesch ----

  test("fleschCounts hand fixture") {
    // "The cat sat. It was happy!" -> words 6; sentences 2;
    // syllables: the=1 cat=1 sat=1 it=1 was=1 happy=2 -> 7
    val r = Seq("The cat sat. It was happy!").toDF("text")
      .select(Text.fleschCounts(col("text")).as("c")).collect().head
      .getSeq[Int](0)
    assert(r == Seq(6, 2, 7))
  }

  // ---- DTW ----

  private def dtwBrute(a: Array[Double], b: Array[Double]): Double = {
    // reference full-DP (no band), textbook recurrence
    val dp = Array.fill(a.length, b.length)(Double.PositiveInfinity)
    for (i <- a.indices; j <- b.indices) {
      val c = math.abs(a(i) - b(j))
      dp(i)(j) = c + ((i, j) match {
        case (0, 0) => 0.0
        case (0, _) => dp(0)(j - 1)
        case (_, 0) => dp(i - 1)(0)
        case _ => math.min(dp(i - 1)(j),
          math.min(dp(i)(j - 1), dp(i - 1)(j - 1)))
      })
    }
    dp(a.length - 1)(b.length - 1)
  }

  test("DtwUtil == brute-force full DP at full band, random series") {
    val rnd = new scala.util.Random(11)
    (1 to 50).foreach { _ =>
      val a = Array.fill(2 + rnd.nextInt(12))(rnd.nextDouble() * 10)
      val b = Array.fill(2 + rnd.nextInt(12))(rnd.nextDouble() * 10)
      val full = math.max(a.length, b.length)
      assert(math.abs(graft.plans.DtwUtil.dist(a, b, full)
        - dtwBrute(a, b)) < 1e-12)
    }
  }

  test("DTW warps where Euclidean cannot; band shrink is monotone") {
    // shifted step: identical shape one step apart -> DTW 0, L1 = 1
    val a = Array(0.0, 0.0, 1.0)
    val b = Array(0.0, 1.0, 1.0)
    assert(graft.plans.DtwUtil.dist(a, b, 3) == 0.0)
    val x = Array.tabulate(20)(i => math.sin(i / 3.0))
    val y = Array.tabulate(20)(i => math.sin((i - 2) / 3.0))
    val d1 = graft.plans.DtwUtil.dist(x, y, 1)
    val d5 = graft.plans.DtwUtil.dist(x, y, 5)
    val dFull = graft.plans.DtwUtil.dist(x, y, 20)
    assert(d1 >= d5 && d5 >= dFull)
    // unequal lengths: band auto-widens to the length gap
    assert(!graft.plans.DtwUtil.dist(Array(1.0), Array(1.0, 1.0, 1.0), 0)
      .isInfinite)
  }

  test("dtw_dist expression: column==util, null/empty -> null, SQL") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("a", ArrayType(DoubleType)),
      StructField("b", ArrayType(DoubleType))))
    val rows = Seq(
      Row(Seq(0.0, 0.0, 1.0), Seq(0.0, 1.0, 1.0)),
      Row(Seq(1.0, 2.0), Seq(3.0)),
      Row(Seq.empty[Double], Seq(1.0)),
      Row(null, Seq(1.0)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(
        Option(r.get(0)).map(_.asInstanceOf[Seq[Double]]).orNull,
        Option(r.get(1)).map(_.asInstanceOf[Seq[Double]]).orNull))), schema)
    val got = df.select(graft.plans.DtwDistance.dtw(col("a"), col("b"), 3)
      .as("d")).collect()
    assert(got(0).getDouble(0) == 0.0)
    assert(got(1).getDouble(0) ==
      graft.plans.DtwUtil.dist(Array(1.0, 2.0), Array(3.0), 3))
    assert(got(2).isNullAt(0) && got(3).isNullAt(0))
    graft.plans.GraftExtensions.registerInto(spark)
    val viaSql = spark.sql(
      "SELECT dtw_dist(array(0.0d, 0.0d, 1.0d), array(0.0d, 1.0d, 1.0d), 3) AS d")
      .collect().head.getDouble(0)
    assert(viaSql == 0.0)
  }

  // ---- probit / normal scores ----

  test("probit pinned against known normal quantiles") {
    val pins = Seq(0.5 -> 0.0, 0.975 -> 1.959964, 0.025 -> -1.959964,
      0.9 -> 1.281552, 0.0001 -> -3.719016, 0.9999 -> 3.719016)
    pins.foreach { case (p, want) =>
      val got = spark.range(1).select(
        Aggregates.probit(lit(p)).as("x")).collect().head.getDouble(0)
      assert(math.abs(got - want) < 1e-5, s"probit($p)")
    }
    // out of domain -> null
    val r = spark.range(1).select(Aggregates.probit(lit(1.5)).as("x"))
      .collect().head
    assert(r.isNullAt(0))
  }

  test("normalScores: monotone in value, near-symmetric, group-local") {
    val df = (1 to 101).map(i => ("g", i.toLong, i.toDouble)) ++
      (1 to 11).map(i => ("h", i.toLong, i.toDouble * 100))
    val out = Aggregates.normalScores(df.toDF("g", "id", "v"), "g", "v", "id")
    val gScores = out.filter(col("g") === "g").orderBy(col("v"))
      .select("nscore").collect().map(_.getDouble(0))
    assert(gScores.sameElements(gScores.sorted))
    assert(math.abs(gScores.sum) < 1e-6) // Blom scores are symmetric
    // median of 101 -> rank 51, p = 50.625/101.25 = 0.5 -> score 0
    assert(gScores(50) == 0.0)
    // group h normalizes on ITS own scale: same score ladder shape
    val hScores = out.filter(col("g") === "h").orderBy(col("v"))
      .select("nscore").collect().map(_.getDouble(0))
    assert(math.abs(hScores.sum) < 1e-6 && hScores.length == 11)
  }

  // ---- off-policy eval ----

  test("offPolicyValue hand fixture: uniform behavior, degenerate target") {
    // one context, two actions 2 rows each -> mu = 0.5 both;
    // target puts all mass on 'a' (reward 1): w_a = 2, w_b = 0
    // v_ips = (2*1*2)/4 = 1.0; v_snips = 4/4 = 1.0; ess = 16/8 = 2
    val df = Seq(("c", "a", 1.0), ("c", "a", 1.0),
      ("c", "b", 0.0), ("c", "b", 0.0)).toDF("ctx", "act", "rew")
    val r = Aggregates.offPolicyValue(df, "ctx", "act", "rew",
      Seq("a" -> 1.0, "b" -> 0.0)).collect().head
    assert(r.getAs[Long]("n") == 4L)
    assert(r.getAs[Double]("v_ips") == 1.0)
    assert(r.getAs[Double]("v_snips") == 1.0)
    assert(r.getAs[Double]("ess") == 2.0)
  }

  test("offPolicyValue clips extreme importance weights") {
    // 'a' logged once in 20 -> mu = 0.05; target 1.0 -> raw w = 20,
    // clipped to 10: v_ips = 10*5/20 = 2.5
    val df = (Seq(("c", "a", 5.0)) ++ (1 to 19).map(_ => ("c", "b", 0.0)))
      .toDF("ctx", "act", "rew")
    val r = Aggregates.offPolicyValue(df, "ctx", "act", "rew",
      Seq("a" -> 1.0, "b" -> 0.0), clipAt = 10.0).collect().head
    assert(r.getAs[Double]("v_ips") == 2.5)
  }

  // ---- MAP@k ----

  test("mapAtK hand fixture: AP math and no-relevant exclusion") {
    // q1 ranks (d1,d2,d3), relevant {d2}: AP = P@2/1 = 0.5
    // q2 ranks (d1,d2), relevant {d1,d2}: AP = (1 + 1)/2 = 1.0
    // q3 has no relevant -> excluded; MAP = 0.75 over 2 queries
    val ranked = Seq(("q1", "d1", 1), ("q1", "d2", 2), ("q1", "d3", 3),
      ("q2", "d1", 1), ("q2", "d2", 2),
      ("q3", "d1", 1)).toDF("qid", "id", "rank")
    val rels = Seq(("q1", "d2", 1), ("q2", "d1", 1), ("q2", "d2", 1),
      ("q3", "d1", 0)).toDF("qid", "id", "rel")
    val r = graft.llm.Relevance.mapAtK(ranked, rels, 10).collect().head
    assert(r.getAs[Int]("k") == 10)
    assert(r.getAs[Long]("n_queries") == 2L)
    assert(r.getAs[Double]("map_k") == 0.75)
  }

  test("mapAtK: k cuts both the ranking and the normalizer") {
    // 3 relevant docs but k=2: ranks (rel, rel) -> AP@2 = (1+1)/min(3,2)=1
    val ranked = Seq(("q", "a", 1), ("q", "b", 2), ("q", "c", 3))
      .toDF("qid", "id", "rank")
    val rels = Seq(("q", "a", 1), ("q", "b", 1), ("q", "c", 1))
      .toDF("qid", "id", "rel")
    val r = graft.llm.Relevance.mapAtK(ranked, rels, 2).collect().head
    assert(r.getAs[Double]("map_k") == 1.0)
  }

  test("fleschReadingEase: formula, floors, degenerate text") {
    val df = Seq(
      ("The cat sat. It was happy!", 1),
      ("", 2), // no words: score via the 1-word floor
      ("rhythm 123", 3) // consonant-only word counts 1 syllable
    ).toDF("text", "id")
    val got = df.select(col("id"),
      round(Text.fleschReadingEase(col("text")), 4).as("f"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // id1: 206.835 - 1.015*(6/2) - 84.6*(7/6) = 105.09
    assert(math.abs(got(1) - 105.09) < 1e-9)
    // id2: 206.835 - 1.015*(1/1) - 84.6*0 = 205.82
    assert(math.abs(got(2) - 205.82) < 1e-9)
    // id3: one word "rhythm" (letters only), 1 syllable floor
    assert(math.abs(got(3) - (206.835 - 1.015 - 84.6)) < 1e-9)
  }
}
