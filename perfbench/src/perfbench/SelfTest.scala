package perfbench

import scala.collection.mutable.ArrayBuffer

/** Tests of the benchmark's own logic: digest order-insensitivity, the
  * percentile rule and per-seed determinism of every generator. Run with
  * `python3 perfbench/run.py --selftest`; exits non-zero on a failure. */
object SelfTest {
  private val failures = ArrayBuffer.empty[String]
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit =
    try { if (cond) passed += 1 else failures += name }
    catch { case e: Exception => failures += s"$name: $e" }

  def run(): Int = {
    // ---- percentiles ----
    val xs = (1 to 100).map(_.toDouble)
    check("median of 1..100 is 50.5")(Stats.median(xs) == 50.5)
    check("percentile matches statistics.quantiles(method='inclusive')")(
      Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 25) == 1.75)
    check("percentile ignores input order")(
      Stats.percentile(xs.reverse, 90) == Stats.percentile(xs, 90))
    check("10 samples lie beyond p90 of 100")(Stats.beyond(xs, 90) == 10)
    check("a 50-sample run does not support p90")(
      Stats.beyond((1 to 50).map(_.toDouble), 90) < Stats.MinTailSamples)
    check("interval union and intersection")(
      Intervals.length(Intervals.union(Seq((0L, 10L), (5L, 20L), (30L, 40L)))) == 30 &&
        Intervals.length(Intervals.intersect(Seq((0L, 20L)), Seq((10L, 30L)))) == 10)

    // ---- generators: same seed, same inputs; another seed, other inputs ----
    check("tables are deterministic")(Gen.tables().map(_.rows) == Gen.tables().map(_.rows))
    check("tables follow their seed")(Gen.tables(1).map(_.rows) != Gen.tables(2).map(_.rows))
    check("bronze is deterministic per seed and pass")(Gen.bronze(5, 3) == Gen.bronze(5, 3))
    check("bronze differs across seeds and passes")(
      Gen.bronze(5, 3) != Gen.bronze(6, 3) && Gen.bronze(5, 3) != Gen.bronze(5, 4))
    check("ticks are deterministic per seed")(
      (0 until 500).map(k => Gen.tick(9, k, "BP", 1000L + k)) ==
        (0 until 500).map(k => Gen.tick(9, k, "BP", 1000L + k)))
    check("ticks differ across seeds")(Gen.tick(9, 1, "BP", 0L) != Gen.tick(10, 1, "BP", 0L))
    check("tick schedule is deterministic per seed")(
      Gen.tickSchedule(9, 10).take(2000).toSeq == Gen.tickSchedule(9, 10).take(2000).toSeq)
    check("tick schedule follows its seed")(
      Gen.tickSchedule(9, 10).take(100).toSeq != Gen.tickSchedule(10, 10).take(100).toSeq)
    // reference: 4 tickers every 1.05 s on average, ETHEREUM every 4.5 s
    val hour = Gen.tickSchedule(9, 1).takeWhile(_._1 < 3600000L).toSeq
    check("tick schedule keeps the reference rate and mix")(
      math.abs(hour.size / 3600.0 - (4 / 1.05 + 1 / 4.5)) < 0.1 &&
        math.abs(hour.count(_._2 == "ETHEREUM") / 3600.0 - 1 / 4.5) < 0.02)
    check("tick schedule is in due order")(
      hour.map(_._1).sliding(2).forall { case Seq(a, b) => a <= b })
    val docs = Gen.tables().find(_.name == "documents").get.rows.map(_.getString(1))
    check("documents hold planted exact and near duplicates")(
      docs.size - docs.distinct.size > 0 && docs.indices.count { i =>
        val base = docs(i).stripSuffix(" dup").stripSuffix(" dup")
        base != docs(i) && docs.take(i).contains(base)
      } > 10)
    val (news, dumps) = Gen.bronze(5, 3)
    check("a bronze pass is one scrape and 15 minutes of quotes")(
      news.distinct.size == 720 && dumps.size == 15 &&
        math.abs(dumps.map(_.updates("XOM").distinct.size).sum - 900 / 1.05) < 60)
    check("query passes are deterministic per seed")(
      QueryWorkload.shuffled((1 to 16).map(_.toString), 3)(0) ==
        QueryWorkload.shuffled((1 to 16).map(_.toString), 3)(0))
    check("query order follows the seed")(
      QueryWorkload.shuffled((1 to 16).map(_.toString), 3)(0) !=
        QueryWorkload.shuffled((1 to 16).map(_.toString), 4)(0))

    // ---- digests (needs a session) ----
    val spark = Session.build(System.getProperty("java.io.tmpdir") + "/perfbench-selftest")
    try {
      import spark.implicits._
      val a = Seq((1, "x", 1.5), (2, "y", 2.5), (3, null, 3.5)).toDF("i", "s", "d")
      check("digest ignores row order")(
        Digest.of(a) == Digest.of(a.orderBy($"i".desc)) &&
          Digest.of(a) == Digest.of(a.repartition(3)))
      check("digest sees every column")(
        Digest.of(a) != Digest.of(a.withColumn("d", $"d" + 1)))
      check("digest is typed")(
        Digest.of(a) != Digest.of(a.withColumn("i", $"i".cast("long"))))
      check("digest counts duplicate rows")(
        Digest.of(a) != Digest.of(a.union(a.limit(1))))
      check("digest row count")(Digest.rows(Digest.of(a)) == 3)
      check("digest of maps is order-insensitive")(
        Digest.of(Seq(Map("a" -> 1, "b" -> 2)).toDF("m")) ==
          Digest.of(Seq(Map("b" -> 2, "a" -> 1)).toDF("m")))
      check("an empty expected result must be listed as expected-empty")(
        Queries.unfit("q_x", "0:0").isDefined && Queries.unfit("q_x", "rows:0").isDefined &&
          Queries.unfit("q_x", Digest.of(a)).isEmpty)
      check("rows-only entries compare row counts")(
        Queries.matches("rows:3", Digest.of(a)) && !Queries.matches("rows:4", Digest.of(a)))
    } finally spark.stop()

    failures.foreach(f => println(s"[selftest] FAILED $f"))
    println(s"[selftest] $passed passed, ${failures.size} failed")
    if (failures.isEmpty) 0 else 1
  }
}
