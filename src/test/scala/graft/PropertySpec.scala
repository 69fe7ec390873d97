package graft

import graft.llm.Dedup
import graft.operators.Relational
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based invariants (SURVEY.md §5: "scalacheck properties —
  * dedup idempotence, union-count, …"). Uses raw scalacheck generators
  * sampled with fixed seeds (the scalatest-scalacheck bridge isn't in
  * the offline dependency set); 10 deterministic samples per property.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int = 10): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")
  private val docGen = Gen.chooseNum(3, 12)
    .flatMap(n => Gen.listOfN(n, wordGen)).map(_.mkString(" "))

  test("dedupExact is idempotent and equals scala-side distinct") {
    samples(Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0, 5), wordGen)))
      .foreach { rows =>
        val df = rows.toDF("k", "w")
        val once = Relational.dedupExact(Seq("k", "w"))(df)
        val twice = Relational.dedupExact(Seq("k", "w"))(once.toDF())
        val n1 = once.count(); val n2 = twice.count()
        assert(n1 == n2)
        assert(n1 == rows.distinct.size)
      }
  }

  test("rangeJoin grid form equals naive cross+filter for any grid width") {
    // the grid is a pure optimization: for random points, intervals
    // and grid widths (including widths far smaller/larger than the
    // interval lengths), output must equal the naive key-join + range
    // filter row-for-row, with no duplicated straddlers
    import graft.operators.Joins
    val ptGen = Gen.zip(Gen.oneOf("a", "b"), Gen.chooseNum(-50, 150))
    val ivGen = for {
      k <- Gen.oneOf("a", "b")
      lo <- Gen.chooseNum(-60, 140)
      len <- Gen.chooseNum(-5, 60) // includes empty/negative intervals
    } yield (k, lo, lo + len)
    val caseGen = for {
      pts <- Gen.nonEmptyListOf(ptGen)
      ivs <- Gen.nonEmptyListOf(ivGen)
      w <- Gen.oneOf(1.0, 3.0, 7.5, 40.0, 1000.0)
    } yield (pts, ivs, w)
    samples(caseGen).foreach { case (pts, ivs, w) =>
      val l = pts.toDF("k", "p")
      val r = ivs.zipWithIndex.map { case ((k, lo, hi), i) =>
        (k, lo, hi, i.toLong) }.toDF("k", "lo", "hi", "iid")
      val grid = Joins.rangeJoin(l, r, Seq("k"), "p", "lo", "hi", w)
        .select("p", "iid").as[(Int, Long)].collect().toSeq.sorted
      val naive = l.join(r, "k")
        .filter(col("p") >= col("lo") && col("p") < col("hi"))
        .select("p", "iid").as[(Int, Long)].collect().toSeq.sorted
      assert(grid == naive, s"width $w: $grid != $naive")
    }
  }

  test("unionAll preserves total row count") {
    samples(Gen.zip(Gen.nonEmptyListOf(wordGen), Gen.nonEmptyListOf(wordGen)))
      .foreach { case (a, b) =>
        val df = Relational.unionAll(Seq(a.toDF("w"), b.toDF("w")))
        assert(df.count() == a.size + b.size)
      }
  }

  test("interpolateLinear output is bounded by bracketing values") {
    samples(Gen.listOfN(8, Gen.option(Gen.chooseNum(0.0, 100.0))))
      .filter(_.flatten.size >= 2)
      .foreach { vs =>
        val rows = vs.zipWithIndex.map { case (v, i) => ("k", i.toLong, v) }
        val df = rows.toDF("sym", "x", "v")
        val out = Relational.interpolateLinear(Seq("sym"), "x", "v")(df)
          .select("v").collect()
          .flatMap(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
        val lo = vs.flatten.min - 1e-9
        val hi = vs.flatten.max + 1e-9
        assert(out.forall(v => v >= lo && v <= hi), s"$vs -> ${out.toSeq}")
      }
  }

  test("identical docs share minhash signatures; estimate stays in [0,1]") {
    samples(Gen.zip(docGen, docGen)).foreach { case (a, b) =>
      val df = Seq((0L, a), (1L, a), (2L, b)).toDF("doc_id", "text")
      val sig = Dedup.signatureFrame(df, "doc_id", "text", 2, 16)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(sig(0L) == sig(1L))
      val estAB = sig(0L).zip(sig(2L)).count { case (x, y) => x == y } / 16.0
      assert(estAB >= 0.0 && estAB <= 1.0)
      if (a == b) assert(estAB == 1.0)
    }
  }

  test("windowed agg: batch plan == streaming plan on random tick feeds") {
    import graft.streaming.{StreamOps, Ticks}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = 1736081400000L
    val tickGen = for {
      off <- Gen.chooseNum(0L, 3600000L)
      price <- Gen.chooseNum(10.0, 500.0)
      vol <- Gen.chooseNum(100.0, 1e6)
    } yield ("XOM", base + off, "YLIFE_FEED", "MARKET_DATA", -1.0, -1.0,
      price, vol, -1.0, -1.0, 0.4, 0.1, 50.0): Ticks.MarketTickTuple
    samples(Gen.listOfN(40, tickGen), n = 3).zipWithIndex.foreach {
      case (rows, i) =>
        val cols = Seq("symbol", "timestamp", "source", "data_type", "bid",
          "ask", "price", "volume", "spread_raw", "spread_table",
          "volatility", "market_sentiment", "trading_activity")
        val batch = StreamOps.windowedFeatureAvg(streaming = false)(
          Ticks.modelInput("XOM")(rows.toDF(cols: _*)))
          .orderBy("window_start").collect().map(_.toSeq)
        val mem = MemoryStream[Ticks.MarketTickTuple]
        mem.addData(rows)
        val q = StreamOps.windowedFeatureAvg()(
          Ticks.modelInput("XOM")(mem.toDF().toDF(cols: _*)))
          .writeStream.format("memory").queryName(s"prop_wfa_$i")
          .outputMode("complete").start()
        try {
          q.processAllAvailable()
          val stream = spark.table(s"prop_wfa_$i")
            .orderBy("window_start").collect().map(_.toSeq)
          assert(batch.length == stream.length)
          batch.zip(stream).foreach { case (br, sr) =>
            br.zip(sr).foreach {
              case (x: Double, y: Double) => assert(math.abs(x - y) < 1e-9)
              case (x, y) => assert(x == y)
            }
          }
        } finally q.stop()
    }
  }

  test("ngramJaccardPairs is ordered (id_a < id_b) and bounded in [0,1]") {
    samples(Gen.listOfN(4, docGen)).foreach { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text", 2).collect()
      pairs.foreach { r =>
        assert(r.getLong(0) < r.getLong(1))
        val j = r.getDouble(2)
        assert(j >= 0.0 && j <= 1.0)
      }
    }
  }

  test("similarityJoin (prefix filter) == ngramJaccardPairs, row for row") {
    samples(Gen.listOfN(12, docGen), n = 5).foreach { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      for (t <- Seq(0.5, 0.8)) {
        val all = Dedup.ngramJaccardPairs(df, "doc_id", "text", 2, t)
          .orderBy("id_a", "id_b").collect().toSeq
        val pref = Dedup.similarityJoin(df, "doc_id", "text", 2, t)
          .orderBy("id_a", "id_b").collect().toSeq
        assert(all == pref, s"threshold $t: $all vs $pref")
      }
    }
  }

  test("contamination of a corpus against itself is 1.0 everywhere") {
    samples(Gen.listOfN(5, docGen), n = 5).foreach { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = Dedup.contamination(df, df, "doc_id", "text", 2).collect()
      assert(out.length == docs.size)
      out.foreach(r => assert(r.getDouble(3) == 1.0, r))
    }
  }

  test("temperatureRates: rates in (0,1], monotone against stratum size") {
    // for any random stratum-size profile: a smaller stratum never gets
    // a lower accept rate than a bigger one (p^alpha flattens shares),
    // and expected kept volume stays at-or-under the uncapped target
    val profileGen = Gen.nonEmptyListOf(Gen.chooseNum(1, 40)).map(_.take(6))
    samples(profileGen).foreach { sizes =>
      val rows = sizes.zipWithIndex.flatMap { case (n, s) =>
        Seq.tabulate(n)(i => (s.toLong * 1000 + i, s"s$s"))
      }
      val rates = graft.llm.Mixing
        .temperatureRates(rows.toDF("id", "source"), "source", 0.3, 0.4)
        .collect().map(r => r.getString(0).drop(1).toInt -> r.getDouble(1))
        .toMap
      assert(rates.values.forall(a => a > 0.0 && a <= 1.0), rates)
      for (a <- sizes.indices; b <- sizes.indices if sizes(a) < sizes(b))
        assert(rates(a) >= rates(b) - 1e-12,
          s"sizes=$sizes smaller stratum $a got lower rate than $b: $rates")
      // sum n_s * min(1, fN q_s/n_s) <= fN sum(q_s) = fN — capping only
      // ever shrinks the kept volume, never grows it
      val expectedKept = sizes.indices.map(s => sizes(s) * rates(s)).sum
      assert(expectedKept <= 0.4 * sizes.sum + 1e-9,
        s"sizes=$sizes rates=$rates")
    }
  }

  test("stripBoilerplate above any line's doc-frequency is the identity") {
    // multi-line docs from a tiny line alphabet (collisions guaranteed)
    val lineGen = Gen.oneOf("cookie banner", "nav menu", "body a",
      "body b", "footer")
    val mlDocGen = Gen.chooseNum(1, 5)
      .flatMap(n => Gen.listOfN(n, lineGen)).map(_.mkString("\n"))
    samples(Gen.nonEmptyListOf(mlDocGen), n = 5).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = graft.llm.Lines
        .stripBoilerplate(df, "doc_id", "text", texts.size + 1)
        .select("id", "clean_text", "n_lines_dropped")
        .as[(Long, String, Long)].collect()
      assert(out.forall(_._3 == 0L))
      assert(out.map(r => r._1 -> r._2).toMap ==
        texts.zipWithIndex.map { case (t, i) => i.toLong -> t }.toMap)
      graft.llm.Lines.releaseCaches()
    }
  }

  test("removeRepeatedSpans on an all-unique corpus is whitespace-normalization") {
    // per-doc disjoint token alphabets -> no n-gram can repeat
    samples(Gen.chooseNum(2, 5), n = 5).foreach { nDocs =>
      val texts = (0 until nDocs).map(d =>
        (1 to 25).map(i => s"d${d}w$i").mkString(" "))
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = Dedup.removeRepeatedSpans(df, "doc_id", "text", n = 5)
        .select("id", "clean_text", "n_tokens_removed")
        .as[(Long, String, Long)].collect()
      assert(out.forall(_._3 == 0L))
      assert(out.map(r => r._1 -> r._2).toMap ==
        texts.zipWithIndex.map { case (t, i) => i.toLong -> t }.toMap)
      Dedup.releaseCaches()
    }
  }

  test("bpe pairCounts mass equals sum of (len(word)) * freq") {
    // every adjacency (including word->marker) counted exactly once:
    // a word of L chars + marker has L pairs
    samples(Gen.nonEmptyListOf(docGen), n = 5).foreach { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val pairs = graft.llm.Bpe.pairCounts(graft.llm.Bpe.initSymbols(
          graft.llm.Bpe.wordFreq(df, "text")))
        .agg(sum(col("cnt"))).as[Long].collect().head
      val words = texts.flatMap(_.split(" ")).filter(_.nonEmpty)
      assert(pairs == words.map(_.length.toLong).sum)
    }
  }

  test("withHashSplit buckets are a pure function of the key value") {
    samples(Gen.nonEmptyListOf(Gen.chooseNum(-1000L, 1000L)), n = 5)
      .foreach { ks =>
        val a = Relational.withHashSplit(ks.toDF("k"), org.apache.spark.sql
            .functions.col("k"), 7)
          .select("k", "split_bucket").as[(Long, Long)].collect().toMap
        // duplicate keys collapse to one assignment; every bucket in range
        assert(a.keySet == ks.toSet)
        assert(a.values.forall(b => b >= 0 && b < 7))
        // a shifted frame containing the same keys agrees on every key
        val b = Relational.withHashSplit(ks.reverse.toDF("k"),
            org.apache.spark.sql.functions.col("k"), 7)
          .select("k", "split_bucket").as[(Long, Long)].collect().toMap
        assert(a == b)
      }
  }

  test("connectedComponents equals driver-side union-find on random graphs") {
    import graft.operators.Graph
    // random sparse graphs over up to 30 nodes — chains, cliques and
    // isolated nodes all occur; compare against a sequential union-find
    val gen = for {
      n <- Gen.chooseNum(2, 30)
      m <- Gen.chooseNum(0, n * 2)
      es <- Gen.listOfN(m,
        Gen.zip(Gen.chooseNum(0L, n - 1L), Gen.chooseNum(0L, n - 1L)))
    } yield (n, es)
    forEachBroadcastThreshold {
      samples(gen, 12).foreach { case (n, es) =>
        val parent = Array.tabulate(n.toInt)(identity)
        def find(x: Int): Int =
          if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a.toInt), find(b.toInt))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = (0 until n.toInt)
          .map(i => i.toLong -> find(i).toLong).toMap
        val nodes = (0L until n.toLong).toDF("id")
        val edges = es.toDF("id_a", "id_b")
        val got = Graph.connectedComponents(nodes, edges)
          .as[(Long, Long)].collect().toMap
        assert(got == expected, s"n=$n edges=$es")
      }
    }
  }

  test("connectedComponents closes a pure chain (worst-case diameter)") {
    import graft.operators.Graph
    // 0-1-2-...-19: single-pass star contraction CANNOT close this;
    // the iterative closure must label every node 0
    val nodes = (0L until 20L).toDF("id")
    val edges = (0L until 19L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Graph.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(got.values.forall(_ == 0L) && got.size == 20)
  }

  test("starContract equals driver-side union-find on random graphs") {
    import graft.operators.Graph
    val gen = for {
      n <- Gen.chooseNum(2, 30)
      m <- Gen.chooseNum(1, n * 2)
      es <- Gen.listOfN(m,
        Gen.zip(Gen.chooseNum(0L, n - 1L), Gen.chooseNum(0L, n - 1L)))
    } yield (n, es)
    forEachBroadcastThreshold {
      samples(gen, 10).foreach { case (n, es) =>
        val parent = Array.tabulate(n.toInt)(identity)
        def find(x: Int): Int =
          if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a.toInt), find(b.toInt))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        // starContract labels edge ENDPOINTS only (no self-loop-only or
        // isolated nodes) — compare over exactly that set
        val endpoints = es.flatMap { case (a, b) => Seq(a, b) }
          .filter(x => es.exists { case (p, q) => p != q && (p == x || q == x) })
          .distinct
        val expected = endpoints.map(i => i -> find(i.toInt).toLong).toMap
        val got = Graph.starContract(es.toDF("id_a", "id_b"))
          .as[(Long, Long)].collect().toMap
        assert(got == expected, s"n=$n edges=$es")
      }
    }
  }

  test("connectedComponents chain past maxIter converges via star fallback") {
    import graft.operators.Graph
    // a 60-node chain with maxIter=4: min-label propagation alone
    // cannot close diameter 59 in 4 rounds — the star-contraction
    // fallback must still produce exact components (all label 0)
    val nodes = (0L until 60L).toDF("id")
    val edges = (0L until 59L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Graph.connectedComponents(nodes, edges, maxIter = 4)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 60 && got.values.forall(_ == 0L))
    // two chains + an isolated node, also past the propagation budget:
    // components must stay separate and the singleton keeps its own id
    val nodes2 = (0L until 41L).toDF("id")
    val edges2 = ((0L until 19L).map(i => (i, i + 1)) ++
      (20L until 39L).map(i => (i, i + 1))).toDF("id_a", "id_b")
    val got2 = Graph.connectedComponents(nodes2, edges2, maxIter = 3)
      .as[(Long, Long)].collect().toMap
    assert(got2.size == 41)
    assert((0L to 19L).forall(got2(_) == 0L))
    assert((20L to 39L).forall(got2(_) == 20L))
    assert(got2(40L) == 40L)
  }

  test("BMP encode/decode round-trips for any width (row padding)") {
    // widths 1..9 sweep every 4-byte row-alignment residue; random
    // pixel bytes cover sign-extension pitfalls
    val gen = for {
      w <- Gen.chooseNum(1, 9)
      h <- Gen.chooseNum(1, 6)
      px <- Gen.listOfN(w * h * 3, Gen.chooseNum(-128, 127).map(_.toByte))
    } yield (w, h, px.toArray)
    samples(gen, 20).foreach { case (w, h, bgr) =>
      val dec = graft.llm.Multimodal.decodeBmpBgr(
        graft.llm.Multimodal.encodeBmp24(w, h, bgr))
      assert(dec.isDefined)
      assert(dec.get._1 == w && dec.get._2 == h)
      assert(dec.get._3.toSeq == bgr.toSeq, s"bmp $w x $h")
    }
  }

  test("PNG encode/decode round-trips for any size") {
    val gen = for {
      w <- Gen.chooseNum(1, 9)
      h <- Gen.chooseNum(1, 6)
      px <- Gen.listOfN(w * h * 3, Gen.chooseNum(-128, 127).map(_.toByte))
    } yield (w, h, px.toArray)
    samples(gen, 20).foreach { case (w, h, rgb) =>
      val dec = graft.llm.Multimodal.decodePngRgb(
        graft.llm.Multimodal.encodePng(w, h, rgb))
      assert(dec.isDefined)
      assert(dec.get._1 == w && dec.get._2 == h)
      assert(dec.get._3.toSeq == rgb.toSeq, s"png $w x $h")
    }
  }

  test("bestFitPacks equals a driver-side best-fit-decreasing reference") {
    // the native BestFitPackIds kernel vs a plain-Scala reference of
    // the same rule (fullest feasible pack, lowest id on ties) over
    // random size mixes — covers oversize docs and zero-token docs
    val gen = for {
      k <- Gen.chooseNum(1, 40)
      ns <- Gen.listOfN(k, Gen.chooseNum(0L, 13L))
    } yield ns
    samples(gen, 15).foreach { ns =>
      val budget = 10L
      val walk = ns.zipWithIndex
        .map { case (n, i) => (i.toLong, n) }
        .sortBy { case (id, n) => (-n, id) }
      val loads = scala.collection.mutable.ArrayBuffer.empty[Long]
      val expected = walk.map { case (id, n) =>
        val fits = loads.zipWithIndex
          .filter { case (l, _) => l + n <= budget }
        val p = if (fits.isEmpty) { loads += n; loads.size - 1 }
        else {
          val best = fits.maxBy { case (l, i) => (l, -i) }._2
          loads(best) += n; best
        }
        id -> p.toLong
      }.toMap
      val df = ns.zipWithIndex.map { case (n, i) => (i.toLong, n) }
        .toDF("doc_id", "n_tokens").withColumn("shard", lit(0))
      val got = graft.llm.Packing.bestFitPacks(df, "doc_id", "n_tokens",
        budget, "shard")
        .select(col("id"), col("pack_id")).as[(Long, Long)]
        .collect().toMap
      assert(got == expected, s"ns=$ns")
    }
  }

  test("resampleBgr at identity size is the identity") {
    val gen = for {
      w <- Gen.chooseNum(1, 8)
      h <- Gen.chooseNum(1, 8)
      px <- Gen.listOfN(w * h * 3, Gen.chooseNum(-128, 127).map(_.toByte))
    } yield (w, h, px.toArray)
    samples(gen, 10).foreach { case (w, h, px) =>
      assert(graft.llm.Multimodal.resampleBgr(px, w, h, w, h).toSeq ==
        px.toSeq)
      // downscale to 1x1 picks a real source pixel
      val one = graft.llm.Multimodal.resampleBgr(px, w, h, 1, 1)
      val pixels = (0 until w * h).map(i =>
        (px(i * 3), px(i * 3 + 1), px(i * 3 + 2)))
      assert(pixels.contains((one(0), one(1), one(2))))
    }
  }

  test("quantizeInt8 is scale-invariant: v and c*v share bytes and cosines") {
    // the property that justifies storing NO scale factor: any
    // positive power-of-two scaling (exact in float) yields identical
    // codes, so quantized cosine is exactly scale-free
    val gen = for {
      n <- Gen.chooseNum(2, 16)
      v <- Gen.listOfN(n, Gen.chooseNum(-100, 100).map(_ / 10.0f))
      if v.exists(_ != 0.0f)
      c <- Gen.oneOf(0.25f, 0.5f, 2.0f, 8.0f)
    } yield (v, c)
    samples(gen, 10).foreach { case (v, c) =>
      val df = Seq((v, v.map(x => x * c))).toDF("a", "b")
      val row = df.select(
        graft.plans.VectorExpressions.quantizeInt8(col("a")).as("qa"),
        graft.plans.VectorExpressions.quantizeInt8(col("b")).as("qb"))
        .collect().head
      assert(row.getAs[Array[Byte]](0).toSeq ==
        row.getAs[Array[Byte]](1).toSeq, s"scaling $c moved bytes for $v")
    }
  }

  test("softDedupWeights: weights sum to the distinct-text count") {
    samples(Gen.nonEmptyListOf(docGen), 10).foreach { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = Dedup.softDedupWeights(df, "doc_id", "text")
      assert(out.count() == docs.size, "every copy must be kept")
      val wsum = out.agg(sum("weight")).head().getDouble(0)
      val distinct = docs.map(_.toLowerCase.trim.replaceAll("\\s+", " "))
        .distinct.size
      assert(math.abs(wsum - distinct) < 1e-4,
        s"weight mass $wsum != distinct count $distinct")
    }
  }

  test("saltedJoin == plain join for any key skew and salt count") {
    val gen = for {
      nBig <- Gen.chooseNum(1, 60)
      bigKeys <- Gen.listOfN(nBig, Gen.chooseNum(0, 4))
      smallKeys <- Gen.nonEmptyListOf(Gen.chooseNum(0, 6))
      salts <- Gen.chooseNum(1, 7)
    } yield (bigKeys, smallKeys.distinct, salts)
    samples(gen, 8).foreach { case (bigKeys, smallKeys, salts) =>
      val big = bigKeys.zipWithIndex.map { case (k, i) => (s"k$k", i.toLong) }
        .toDF("k", "v")
      val small = smallKeys.map(k => (s"k$k", k * 1.5)).toDF("k", "w")
      for (jt <- Seq("inner", "left")) {
        val plain = big.join(small, Seq("k"), jt)
          .collect().map(_.toSeq).sortBy(_.toString).toSeq
        val salted = graft.operators.Joins.saltedJoin(
            big, small, Seq("k"), salts, jt)
          .collect().map(_.toSeq).sortBy(_.toString).toSeq
        assert(salted == plain, s"salts=$salts $jt diverged")
      }
    }
  }

  test("blob merge kernel == definitional fold for random words and pairs") {
    // pins the byte-level resume rule (delimiter sharing in overlap
    // runs) and delimiter safety under multi-char symbols whose BYTES
    // overlap the pattern (" a aa " must not match " a a ")
    import java.nio.charset.StandardCharsets.UTF_8
    import org.apache.spark.unsafe.types.UTF8String
    val syms = Vector("a", "b", "aa", "ab", "ba")
    val wordGen = Gen.chooseNum(1, 10).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(syms)))
    val caseGen = for {
      words <- Gen.nonEmptyListOf(wordGen)
      a <- Gen.oneOf(syms)
      b <- Gen.oneOf(syms)
    } yield (words, a, b)
    def foldMerge(w: List[String], a: String, b: String): List[String] =
      w.foldLeft(List.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == a && x == b)
          acc.init :+ (a + b)
        else acc :+ x
      }
    samples(caseGen, 20).foreach { case (words, a, b) =>
      val blob = words.map(w => " " + w.mkString(" ") + " ").mkString("\n")
      val out = graft.plans.BpeChunkUtil.merge(
        UTF8String.fromString(blob),
        (" " + a + " " + b + " ").getBytes(UTF_8),
        (" " + a + b).getBytes(UTF_8)).toString
      val got = out.split("\n", -1).toList
        .map(_.split(" ").filter(_.nonEmpty).toList)
      val want = words.map(w => foldMerge(w, a, b))
      assert(got == want, s"pair=($a,$b) words=$words got=$got")
      // scalar twin agrees too (the delta kernel's merge path)
      words.foreach { w =>
        assert(graft.plans.BpeChunkUtil.greedyMerge(w.toArray, a, b).toList ==
          foldMerge(w, a, b))
      }
    }
  }

  test("chunked incremental trainer == full recount on random corpora") {
    // overlap-heavy random corpora over a 3-char alphabet: repeated
    // chars force greedy-overlap deltas, tiny vocab forces near-ties
    // against the (count desc, left, right) tie-break
    import graft.llm.Bpe
    val wordGen = Gen.chooseNum(1, 7).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c"))).map(_.mkString)
    val docGen = Gen.chooseNum(2, 8)
      .flatMap(m => Gen.listOfN(m, wordGen)).map(_.mkString(" "))
    val corpusGen = Gen.chooseNum(4, 12).flatMap(n => Gen.listOfN(n, docGen))
    samples(corpusGen, 5).foreach { docs =>
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val inc = Bpe.trainIncremental(df, "text", numMerges = 12, minCount = 2L)
      val rec = Bpe.trainFullRecount(df, "text", numMerges = 12, minCount = 2L)
      assert(inc == rec, s"corpus=$docs inc=$inc rec=$rec")
    }
  }

  test("compiled merge-list kernel == fold layers for random rank orders") {
    // merges drawn over a GROWING vocab so later merges can consume
    // earlier outputs, and orderings where a consumer outranks its
    // producer (the sequential-semantics trap) arise naturally
    import graft.llm.Bpe
    val mergesGen = Gen.listOfN(8, Gen.chooseNum(0, 1000)).map { picks =>
      var vocab = Vector("a", "b", "c")
      picks.map { p =>
        val a = vocab((p / 37) % vocab.size)
        val b = vocab(p % vocab.size)
        vocab = vocab :+ (a + b)
        (a, b)
      }
    }
    val caseGen = for {
      merges <- mergesGen
      shuffleSeed <- Gen.chooseNum(0, 5)
      nWords <- Gen.chooseNum(3, 10)
      words <- Gen.listOfN(nWords, Gen.chooseNum(1, 8).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("a", "b", "c", "ab", "bc"))))
    } yield (new scala.util.Random(shuffleSeed).shuffle(merges), words)
    samples(caseGen, 8).foreach { case (merges, words) =>
      val df = words.zipWithIndex.map { case (s, i) => (i.toLong, 1L, s) }
        .toDF("word", "freq", "symbols")
      def out(d: org.apache.spark.sql.DataFrame) =
        d.orderBy("word").select("symbols").as[Seq[String]].collect().toSeq
      val kernel = out(df.withColumn("symbols",
        graft.plans.BpeChunk.applyMerges(col("symbols"), merges)))
      val fold = { val r = out(Bpe.applyMergesFold(df, merges))
        Bpe.releaseCaches(); r }
      assert(kernel == fold, s"merges=$merges words=$words")
    }
  }

  test("frequentItems never misses an item above support on random streams") {
    val gen = for {
      n <- Gen.chooseNum(50, 300)
      items <- Gen.listOfN(n, Gen.frequency(
        // skewed: 'hot' dominates, tail is diffuse
        2 -> Gen.const("hot"), 1 -> Gen.const("warm"),
        2 -> Gen.chooseNum(0, 40).map(i => s"cold$i")))
      support <- Gen.oneOf(0.1, 0.2, 0.3)
    } yield (items, support)
    samples(gen, 8).foreach { case (items, support) =>
      val df = items.toDF("item")
      val surfaced = graft.operators.Aggregates
        .frequentItems(df, "item", support)
        .as[String].collect().toSet
      val exact = items.groupBy(identity).view.mapValues(_.size)
        .filter { case (_, c) => c > support * items.size }.keySet
      assert(exact.subsetOf(surfaced),
        s"sketch missed heavy hitters: ${exact -- surfaced} " +
          s"(support=$support, n=${items.size})")
    }
  }

  test("pq encode/ADC self-similarity is ~1 for any unit-ish vector") {
    // scoring a vector against its OWN code with its OWN lut must
    // approach 1 when the codebook contains the exact sub-vectors
    // (kEff == sample size -> zero distortion)
    val gen = Gen.listOfN(8, Gen.chooseNum(-50, 50).map(_ / 10.0))
      .suchThat(v => v.exists(_ != 0.0))
    val vs = samples(gen, 12).distinct
    val df = vs.zipWithIndex.map { case (v, i) =>
      (i.toLong, v.map(_.toFloat)) }.toDF("vec_id", "embedding")
    val idx = graft.llm.Similarity.buildPq(df, "vec_id", "embedding",
      m = 4, ksub = 256)
    val self = df.select(
      graft.plans.VectorExpressions.pqAdc(
        graft.plans.VectorExpressions.pqLut(col("embedding"),
          idx.codebooks, idx.coarse),
        graft.plans.VectorExpressions.pqEncode(col("embedding"),
          idx.codebooks, idx.coarse),
        idx.ksub, idx.coarse.length).as("s")).collect().map(_.getDouble(0))
    self.foreach(s => assert(math.abs(s - 1.0) < 1e-5,
      s"self-ADC $s drifted from 1"))
    idx.encoded.unpersist(blocking = true)
  }

  test("sessionize: per-key session count == gap-breaks + 1; events conserved") {
    import graft.operators.Sessions
    val eventsGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.chooseNum(0, 3), Gen.chooseNum(0L, 100000L)))
    samples(eventsGen).foreach { raw =>
      // distinct (key, second) pairs so the tie-break never decides
      val rows = raw.distinct.zipWithIndex
        .map { case ((k, s), i) => (s"u$k", new java.sql.Timestamp(s * 1000), i.toLong) }
      val gap = 5000L
      val df = rows.toDF("user", "ts", "eid")
      val out = Sessions.sessionStats(df, "user", "ts", gap, Seq(col("eid")))
        .groupBy("user")
        .agg(max(col("session_seq")).as("n_sessions"),
          sum(col("n_events")).as("n_events"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      // scala-side reference: breaks where the sorted per-key diff > gap
      rows.groupBy(_._1).foreach { case (u, evs) =>
        val ts = evs.map(_._2.getTime / 1000).sorted
        val breaks = ts.sliding(2).count {
          case Seq(a, b) => b - a > gap; case _ => false
        }
        assert(out(u) == (breaks + 1L, ts.size.toLong),
          s"key $u: got ${out(u)}, want ${(breaks + 1, ts.size)}")
      }
    }
  }

  test("funnel counts are monotone non-increasing for any event stream") {
    import graft.operators.Sessions
    val evGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(0, 4),
      Gen.chooseNum(0L, 1000L),
      Gen.oneOf("view", "click", "purchase", "error")))
    samples(evGen).foreach { raw =>
      val rows = raw.zipWithIndex.map { case ((k, s, t), i) =>
        (s"u$k", new java.sql.Timestamp(s * 1000 + i), t) // unique ts
      }
      val counts = Sessions.funnelSummary(rows.toDF("user", "ts", "etype"),
        "user", "ts", "etype", Seq("view", "click", "purchase"))
        .orderBy("step_idx").select("n_keys").as[Long].collect()
      assert(counts.length == 3)
      assert(counts(0) >= counts(1) && counts(1) >= counts(2),
        s"funnel not monotone: ${counts.toSeq}")
    }
  }

  test("retention: offset-0 count equals cohort size; rates in (0,1]") {
    import graft.operators.Sessions
    val evGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(0, 5), Gen.chooseNum(0, 27)))
    samples(evGen).foreach { raw =>
      val rows = raw.distinct.map { case (k, day) =>
        (s"u$k", java.sql.Timestamp.valueOf(f"2024-01-${day + 1}%02d 12:00:00"))
      }
      val out = Sessions.retentionCohorts(rows.toDF("user", "ts"),
        "user", "ts").collect()
      out.foreach { r =>
        val (off, n, size, ret) = (r.getAs[Long]("period_offset"),
          r.getAs[Long]("n_active"), r.getAs[Long]("cohort_size"),
          r.getAs[Double]("retention"))
        if (off == 0) assert(n == size, "offset-0 row must equal cohort size")
        assert(n <= size && ret > 0 && ret <= 1.0 + 1e-9,
          s"offset $off: n=$n size=$size ret=$ret")
      }
    }
  }

  test("weightedTake: k >= N returns every row; uniform weights match count") {
    import graft.operators.Relational
    samples(Gen.chooseNum(1, 40)).foreach { n =>
      val df = spark.range(n).toDF("id").withColumn("w", lit(1.0))
      val all = Relational.weightedTake(df, col("id"), col("w"), n + 10)
      assert(all.count() == n)
      val k = math.min(5, n)
      assert(Relational.weightedTake(df, col("id"), col("w"), k).count() == k)
    }
  }

  test("triangleCount == brute-force enumeration on random graphs") {
    import graft.operators.Graph
    val edgeGen = Gen.listOfN(60,
      Gen.zip(Gen.chooseNum(0L, 19L), Gen.chooseNum(0L, 19L)))
    forEachBroadcastThreshold {
      samples(edgeGen, 5).foreach { raw =>
        val canon = raw.collect { case (a, b) if a != b =>
          (math.min(a, b), math.max(a, b)) }.toSet
        val adj = canon.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
          .withDefaultValue(Set.empty[Long])
        val nodes = canon.flatMap(e => Seq(e._1, e._2))
        // adj holds only min->max edges, so a common neighbor of (a,b)
        // satisfies c > b > a — each triangle counted exactly once, at
        // its lowest edge
        val expTri = canon.toSeq.map { case (a, b) =>
          (adj(a) intersect adj(b)).size }.sum
        val r = Graph.triangleCount(raw.toDF("id_a", "id_b")).collect().head
        assert(r.getAs[Long]("n_triangles") == expTri.toLong,
          s"edges=$canon got=$r expected=$expTri")
        assert(r.getAs[Long]("n_edges") == canon.size.toLong)
        assert(r.getAs[Long]("n_nodes") == nodes.size.toLong)
      }
    }
  }

  test("kCore == driver-side peeling on random graphs; output is a fixpoint") {
    import graft.operators.Graph
    val edgeGen = Gen.listOfN(50,
      Gen.zip(Gen.chooseNum(0L, 15L), Gen.chooseNum(0L, 15L)))
    forEachBroadcastThreshold {
      samples(edgeGen, 5).foreach { raw =>
        val canon = raw.collect { case (a, b) if a != b =>
          (math.min(a, b), math.max(a, b)) }.toSet
        if (canon.nonEmpty) {
          val k = 3
          // reference: peel to fixpoint on adjacency sets
          var adj = scala.collection.mutable.Map[Long, Set[Long]]()
            .withDefaultValue(Set.empty)
          canon.foreach { case (a, b) =>
            adj(a) = adj(a) + b; adj(b) = adj(b) + a
          }
          var changed = true
          while (changed) {
            val drop = adj.filter(_._2.size < k).keys.toSet
            changed = drop.nonEmpty
            if (changed) {
              drop.foreach(adj.remove)
              adj = adj.map { case (n, s) => n -> (s -- drop) }
                .withDefaultValue(Set.empty)
            }
          }
          val want = adj.map { case (n, s) => n -> s.size.toLong }.toMap
          val got = Graph.kCore(canon.toSeq.toDF("id_a", "id_b"), k,
              rounds = 16).collect()
            .map(r => r.getAs[Long]("id") -> r.getAs[Long]("core_degree"))
            .toMap
          assert(got === want, s"edges=$canon")
          // fixpoint: every surviving node keeps degree >= k
          assert(got.values.forall(_ >= k))
        }
      }
    }
  }

  test("weightedPercentiles with unit weights == driver-side lower quantile") {
    import graft.operators.Aggregates
    val valGen = Gen.listOfN(40, Gen.chooseNum(1, 500).map(_.toDouble))
    samples(valGen, 5).foreach { vs =>
      val df = vs.map(v => ("g", v, 1.0)).toDF("k", "v", "w")
      val r = Aggregates.weightedPercentiles(df, Seq("k"), "v", "w")
        .collect()(0)
      val sorted = vs.sorted
      def lower(p: Double): Double = {
        // smallest v with cumweight >= p * n (unit weights)
        val need = p * sorted.size
        sorted(math.ceil(need).toInt - 1)
      }
      assert(r.getAs[Double]("p25") === lower(0.25), s"vs=$sorted")
      assert(r.getAs[Double]("p50") === lower(0.5))
      assert(r.getAs[Double]("p75") === lower(0.75))
      assert(r.getAs[Double]("total_weight") === sorted.size.toDouble)
    }
  }

  test("url_canon is idempotent and total on arbitrary input") {
    import graft.plans.UrlCanonUtil
    // canonical outputs are FIXED POINTS — a crawl-dedup key must not
    // change when re-canonicalized (re-crawled URLs pass through the
    // pipeline twice); and no input may throw
    val schemeGen = Gen.oneOf("http", "HTTPS", "ftp", "a+b-c.d", "1bad", "")
    val hostGen = Gen.oneOf("Example.COM", "a.b.c", "x", "", "h:99",
      "h:80", "h:443", "h:8x8")
    val pathGen = Gen.oneOf("", "/", "/Path/X", "/a//b/", "/p q")
    val queryGen = Gen.oneOf("", "?a=1", "?utm_source=x&b=2",
      "?&&gclid=9", "?UTM_X=1&ok=2", "?q=utm_source")
    val fragGen = Gen.oneOf("", "#f", "#a?b=1")
    val urlGen = for {
      s <- schemeGen; h <- hostGen; p <- pathGen; q <- queryGen
      f <- fragGen
    } yield s"$s://$h$p$q$f"
    val junkGen = Gen.oneOf(Gen.alphaNumStr,
      Gen.listOf(Gen.choose(' ', '~')).map(_.mkString))
    (samples(urlGen, 200) ++ samples(junkGen, 100)).foreach { u =>
      val c = UrlCanonUtil.canon(u) // must not throw
      if (c != null) {
        assert(UrlCanonUtil.canon(c) == c,
          s"not a fixed point: '$u' -> '$c' -> '${UrlCanonUtil.canon(c)}'")
        assert(!c.contains("#"), s"fragment survived: '$u' -> '$c'")
      }
    }
  }
}
