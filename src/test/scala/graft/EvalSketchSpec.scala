package graft

import graft.llm.Eval
import graft.operators.{Aggregates, Sessions}
import graft.plans.{CompressExpr, CompressUtil, DeflateLen}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Round-9 continuation operators: ROUGE/BLEU overlap eval, KMV/theta
  * set-operation sketch, deflate compression-ratio kernel, and the
  * gaps-and-islands streak. Hand-computable fixtures throughout — every
  * expected value below is derivable with pencil and paper. */
class EvalSketchSpec extends SparkSpec {
  import spark.implicits._

  // ---- ROUGE ----

  test("rougeN unigram: hand-computed clipped precision/recall/F1") {
    // cand "the cat the cat sat", ref "the cat ate":
    // cand counts {the:2, cat:2, sat:1}; ref {the:1, cat:1, ate:1}
    // clipped overlap = 1 + 1 = 2; P = 2/5, R = 2/3, F = 2PR/(P+R) = 0.5
    val pairs = Seq((1L, "the cat the cat sat", "the cat ate"))
      .toDF("id", "cand", "ref")
    val r = Eval.rougeN(pairs, "id", "cand", "ref", 1).collect().head
    assert(r.getAs[Double]("rouge_p") == 0.4)
    assert(math.abs(r.getAs[Double]("rouge_r") - 0.666667) < 1e-9)
    assert(r.getAs[Double]("rouge_f") == 0.5)
  }

  test("rougeN bigram: disjoint pair scores 0, identical pair scores 1") {
    val pairs = Seq(
      (1L, "a b c", "x y z"),
      (2L, "a b c d", "a b c d")).toDF("id", "cand", "ref")
    val m = Eval.rougeN(pairs, "id", "cand", "ref", 2)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("rouge_f")).toMap
    assert(m(1L) == 0.0)
    assert(m(2L) == 1.0)
  }

  test("rougeN keeps a row for pairs shorter than n") {
    val pairs = Seq((7L, "one", "one")).toDF("id", "cand", "ref")
    val r = Eval.rougeN(pairs, "id", "cand", "ref", 2).collect()
    assert(r.length == 1 && r.head.getAs[Double]("rouge_f") == 0.0)
  }

  // ---- BLEU ----

  test("bleu: identical pair scores 1, disjoint pair scores 0") {
    val pairs = Seq(
      (1L, "a b c d", "a b c d"),
      (2L, "a b c", "x y z")).toDF("id", "cand", "ref")
    val m = Eval.bleu(pairs, "id", "cand", "ref", 2)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("bleu")).toMap
    assert(m(1L) == 1.0)
    assert(m(2L) == 0.0)
  }

  test("bleu: hand-computed brevity penalty and precisions") {
    // cand "the cat" (2 toks) vs ref "the cat sat" (3 toks):
    // p1 = 2/2 = 1, p2 = 1/1 = 1, bp = exp(1 - 3/2) = exp(-0.5)
    val pairs = Seq((1L, "the cat", "the cat sat")).toDF("id", "cand", "ref")
    val r = Eval.bleu(pairs, "id", "cand", "ref", 2).collect().head
    assert(r.getAs[Double]("bleu_p1") == 1.0)
    assert(r.getAs[Double]("bleu_p2") == 1.0)
    val expBp = BigDecimal(math.exp(-0.5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("brevity_penalty") == expBp)
    assert(r.getAs[Double]("bleu") == expBp)
  }

  test("bleu: clipping caps repeated candidate grams") {
    // cand "the the the the" vs ref "the cat": p1 = clip(4->1)/4 = 0.25
    val pairs = Seq((1L, "the the the the", "the cat")).toDF("id", "cand", "ref")
    val r = Eval.bleu(pairs, "id", "cand", "ref", 1).collect().head
    assert(r.getAs[Double]("bleu_p1") == 0.25)
    assert(r.getAs[Double]("brevity_penalty") == 1.0) // cand 4 >= ref 2
    assert(r.getAs[Double]("bleu") == 0.25)
  }

  // ---- KMV / theta sketch ----

  test("thetaSketchCompare is exact when both sets fit in k") {
    val a = (1 to 300).map(i => s"k$i").toDF("key")
    val b = (201 to 500).map(i => s"k$i").toDF("key")
    val r = Aggregates.thetaSketchCompare(a, b, "key", 1024).collect().head
    assert(r.getAs[Double]("est_a") == 300.0)
    assert(r.getAs[Double]("est_b") == 300.0)
    assert(r.getAs[Double]("est_intersection") == 100.0)
    assert(r.getAs[Double]("est_union") == 500.0)
    assert(r.getAs[Double]("theta") == 1.0)
  }

  test("thetaSketchCompare estimates within 3x RSE at 20k keys") {
    // |A| = 20000, |B| = 15000 sharing 10000 keys; k = 1024 ->
    // RSE ~ 1/sqrt(1022) ~ 3.1%; assert within 3x for counts and a
    // looser 15% for the intersection/union ratios
    val a = (1 to 20000).map(i => s"key$i").toDF("key")
    val b = (10001 to 25000).map(i => s"key$i").toDF("key")
    val r = Aggregates.thetaSketchCompare(a, b, "key", 1024).collect().head
    assert(math.abs(r.getAs[Double]("est_a") - 20000) / 20000.0 < 0.10)
    assert(math.abs(r.getAs[Double]("est_b") - 15000) / 15000.0 < 0.10)
    assert(math.abs(r.getAs[Double]("est_intersection") - 10000) / 10000.0 < 0.15)
    assert(math.abs(r.getAs[Double]("est_union") - 25000) / 25000.0 < 0.10)
  }

  test("thetaSketchCompare: duplicate rows do not move distinct estimates") {
    val a = ((1 to 200) ++ (1 to 200)).map(i => s"k$i").toDF("key")
    val b = (101 to 300).map(i => s"k$i").toDF("key")
    val r = Aggregates.thetaSketchCompare(a, b, "key", 512).collect().head
    assert(r.getAs[Double]("est_a") == 200.0)
    assert(r.getAs[Double]("est_intersection") == 100.0)
  }

  // ---- deflate compression ratio ----

  test("deflate ratio orders redundancy correctly and is deterministic") {
    val repeated = "spam spam spam " * 200
    // deterministic pseudo-noise: md5 chain — incompressible-ish text
    val noisy = (1 to 60).map(i =>
      java.util.UUID.nameUUIDFromBytes(s"chunk$i".getBytes).toString)
      .mkString(" ")
    val df = Seq((1L, repeated), (2L, noisy)).toDF("id", "text")
      .select(col("id"), CompressExpr.deflateRatio(col("text")).as("r"))
    val m = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(1L) < 0.05, s"repeated text ratio ${m(1L)} should be tiny")
    assert(m(2L) > 0.3, s"noisy text ratio ${m(2L)} should be large")
    // determinism across invocations
    val again = Seq((1L, repeated)).toDF("id", "text")
      .select(CompressExpr.deflateRatio(col("text"))).collect().head.getDouble(0)
    assert(again == m(1L))
  }

  test("deflateLen codegen == interpreted, null and empty edges") {
    val texts = Seq("", "a", "hello world hello world", "é中文",
      "x" * 10000)
    texts.foreach { t =>
      val viaUtil = CompressUtil.deflatedLen(UTF8String.fromString(t))
      val viaExpr = Seq(Tuple1(t)).toDF("t")
        .select(CompressExpr.deflateLen(col("t"))).collect().head.getLong(0)
      val interpreted = DeflateLen(org.apache.spark.sql.graft.Bridge
        .toExpression(col("t"))).nullSafeEval(UTF8String.fromString(t))
      assert(viaExpr == viaUtil && interpreted == viaUtil,
        s"mismatch for ${t.take(20)}: expr=$viaExpr util=$viaUtil")
    }
    val withNull = Seq((1L, null.asInstanceOf[String]), (2L, "ok"))
      .toDF("id", "t")
      .select(col("id"), CompressExpr.deflateLen(col("t")).as("n")).collect()
    assert(withNull.find(_.getLong(0) == 1L).get.isNullAt(1))
    assert(withNull.find(_.getLong(0) == 2L).get.getLong(1) > 0)
  }

  test("deflate quality filter runs unchanged on a live stream (parity)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // map-only kernel: the ingest-time redundancy screen applies to a
    // streaming DF without restructuring
    val incoming = Seq((1L, "spam spam spam " * 100),
      (2L, "a genuinely varied sentence with many distinct words here"))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val screened = mem.toDF().toDF("doc_id", "text")
      .withColumn("r", CompressExpr.deflateRatio(col("text")))
      .filter(col("r") > 0.2)
    val q = screened.writeStream.format("memory")
      .queryName("deflate_screen_out").outputMode("append").start()
    try {
      mem.addData(incoming: _*)
      q.processAllAvailable()
      val got = spark.table("deflate_screen_out")
        .select("doc_id").as[Long].collect().toSet
      assert(got == Set(2L), "only the varied doc survives the screen")
    } finally q.stop()
  }

  // ---- streaks ----

  test("maxStreak: hand-built islands") {
    // u1: days 1,2,3, 7,8 -> max 3; u2: 1, 3, 5 -> max 1;
    // u3: 10..14 -> 5; duplicate events on a day collapse
    def ts(day: Int, h: Int = 9) = f"2024-01-$day%02d $h%02d:00:00"
    val ev = Seq(
      (1L, ts(1)), (1L, ts(2)), (1L, ts(3)), (1L, ts(7)), (1L, ts(8)),
      (1L, ts(8, 15)),
      (2L, ts(1)), (2L, ts(3)), (2L, ts(5)),
      (3L, ts(10)), (3L, ts(11)), (3L, ts(12)), (3L, ts(13)), (3L, ts(14)))
      .toDF("user_id", "raw").select(col("user_id"),
        to_timestamp(col("raw")).as("ts"))
    val m = Sessions.maxStreak(ev, "user_id", "ts")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 3L, 2L -> 1L, 3L -> 5L))
  }

  // ---- top-N + Other ----

  test("topNOther preserves group totals and breaks ties by key") {
    val df = Seq(
      ("g1", "a", 10.0), ("g1", "b", 10.0), ("g1", "c", 5.0),
      ("g1", "d", 3.0), ("g2", "x", 1.0)).toDF("grp", "key", "v")
    val r = graft.operators.Relational
      .topNOther(df, "grp", "key", sum(col("v")), 2)
      .collect().map(x => (x.getString(0), x.getString(1),
        x.getDouble(2), x.getBoolean(3)))
    val g1 = r.filter(_._1 == "g1")
    // tie 10.0/10.0 -> key asc keeps a and b; c+d lump to Other
    assert(g1.toSet == Set(("g1", "a", 10.0, false),
      ("g1", "b", 10.0, false), ("g1", "__other__", 8.0, true)))
    assert(g1.map(_._3).sum == 28.0, "group total preserved")
    // a group with <= n keys emits no Other row
    assert(r.filter(_._1 == "g2").toSeq == Seq(("g2", "x", 1.0, false)))
  }

  // ---- TWAP ----

  test("twap: hand-computed hold weights; single-tick keys drop") {
    // u1 ticks: v=10 at t0, v=20 at +10s, v=99 at +40s (no weight):
    // twap = (10*10 + 20*30) / 40 = 17.5; plain mean = 129/3 = 43
    val ev = Seq(
      (1L, 1L, "2024-01-01 00:00:00", 10.0),
      (1L, 2L, "2024-01-01 00:00:10", 20.0),
      (1L, 3L, "2024-01-01 00:00:40", 99.0),
      (2L, 4L, "2024-01-01 00:00:00", 5.0))
      .toDF("user_id", "event_id", "raw", "value")
      .select(col("user_id"), col("event_id"),
        to_timestamp(col("raw")).as("ts"), col("value"))
    val r = graft.operators.Sessions
      .twap(ev, "user_id", "ts", "value", Seq(col("event_id")))
      .collect()
    assert(r.length == 1, "single-tick user 2 drops")
    assert(r.head.getAs[Double]("twap") == 17.5)
    assert(r.head.getAs[Double]("plain_mean") == 43.0)
  }

  // ---- Poisson bootstrap CI ----

  test("bootstrapCi: brackets the mean, partitioning-invariant, constant degenerate") {
    val df = (1 to 1000).map(i => (i.toLong, i.toDouble)).toDF("id", "x")
    val r = graft.operators.Aggregates
      .bootstrapCi(df, "id", "x", 200, 0.05).collect().head
    val (lo, hi) = (r.getAs[Double]("ci_lo"), r.getAs[Double]("ci_hi"))
    assert(r.getAs[Long]("n_rows") == 1000L)
    assert(r.getAs[Double]("mean") == 500.5)
    assert(lo < 500.5 && hi > 500.5, s"CI [$lo,$hi] must bracket the mean")
    assert(lo > 450 && hi < 550, s"CI [$lo,$hi] implausibly wide for sd/sqrt(n)~9")
    // hash weights make the draw layout-independent
    val r2 = graft.operators.Aggregates
      .bootstrapCi(df.repartition(7), "id", "x", 200, 0.05).collect().head
    assert(r2.getAs[Double]("ci_lo") == lo && r2.getAs[Double]("ci_hi") == hi)
    // constant column: every replicate mean is the constant
    val c = (1 to 50).map(i => (i.toLong, 7.25)).toDF("id", "x")
    val rc = graft.operators.Aggregates
      .bootstrapCi(c, "id", "x", 50, 0.1).collect().head
    assert(rc.getAs[Double]("ci_lo") == 7.25 &&
      rc.getAs[Double]("ci_hi") == 7.25 && rc.getAs[Double]("mean") == 7.25)
  }

  // ---- PMI collocations ----

  test("pmiCollocations: hand-computed scores, rounded-tie order") {
    // corpus "a b a b" + "c a b": uni a:3 b:3 c:1 (tu=7);
    // bi "a b":3 "b a":1 "c a":1 (tb=5).
    // pmi(a b) = ln((3/5)/((3/7)^2)) = ln(49/15) = pmi(c a)
    //          = ln((1/5)/((1/7)(3/7))); pmi(b a) = ln((1/5)/((3/7)^2))
    //          = ln(49/45). Tie broken by gram asc.
    def r6(v: Double) = BigDecimal(v)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Seq((1L, "a b a b"), (2L, "c a b")).toDF("doc_id", "text")
    val r = graft.llm.Relevance
      .pmiCollocations(docs, "doc_id", "text", 1, 3).collect()
    assert(r.map(_.getString(0)).toSeq == Seq("a b", "c a", "b a"))
    assert(r(0).getAs[Double]("pmi") == r6(math.log(49.0 / 15.0)))
    assert(r(1).getAs[Double]("pmi") == r6(math.log(49.0 / 15.0)))
    assert(r(2).getAs[Double]("pmi") == r6(math.log(49.0 / 45.0)))
    assert(r(0).getAs[Long]("n") == 3L)
  }

  test("pmiCollocations: support floor drops rare grams") {
    val docs = Seq((1L, "x y x y x y"), (2L, "p q")).toDF("doc_id", "text")
    val grams = graft.llm.Relevance
      .pmiCollocations(docs, "doc_id", "text", 2, 10)
      .collect().map(_.getString(0)).toSet
    assert(grams.contains("x y") && !grams.contains("p q"))
  }

  // ---- weighted SSSP ----

  test("sssp: relaxation through a cheaper two-hop path") {
    // 1-2 (w=1), 2-3 (w=1), 1-3 (w=5): dist(3) = 2 via 2, not 5 direct
    forEachBroadcastThreshold {
      val edges = Seq((1L, 2L, 1.0), (2L, 3L, 1.0), (1L, 3L, 5.0))
        .toDF("id_a", "id_b", "weight")
      val seeds = Seq(Tuple1(1L)).toDF("id")
      val m3 = graft.operators.Graph.sssp(edges, seeds, 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(m3 == Map(1L -> 0.0, 2L -> 1.0, 3L -> 2.0))
      // with a single round only the direct edge is visible
      val m1 = graft.operators.Graph.sssp(edges, seeds, 1)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(m1(3L) == 5.0)
    }
  }

  test("sssp: undirected symmetrization and isolated seeds") {
    // edge only stated 2->1; seed 1 must still reach 2. Seed 9 is
    // isolated and keeps dist 0.
    val edges = Seq((2L, 1L, 0.5)).toDF("id_a", "id_b", "weight")
    val seeds = Seq(Tuple1(1L), Tuple1(9L)).toDF("id")
    val m = graft.operators.Graph.sssp(edges, seeds, 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m == Map(1L -> 0.0, 2L -> 0.5, 9L -> 0.0))
  }

  test("maxStreak: month boundary is consecutive") {
    val ev = Seq((1L, "2024-01-31 10:00:00"), (1L, "2024-02-01 10:00:00"),
      (1L, "2024-02-02 10:00:00"))
      .toDF("user_id", "raw").select(col("user_id"),
        to_timestamp(col("raw")).as("ts"))
    val m = Sessions.maxStreak(ev, "user_id", "ts").collect().head
    assert(m.getLong(1) == 3L)
  }
}
