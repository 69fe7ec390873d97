package graft

import graft.llm.{Dedup, Similarity}
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again today"),
    (1L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near dup of 0
    (3L, "completely different content about spark query engines and shuffles here"),
    (4L, "completely different content about spark query engines and shuffles here")) // exact dup of 3
    .toDF("doc_id", "text")

  test("exact dedup groups identical texts under the min id") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .orderBy("canonical_id")
      .select("canonical_id", "dup_count").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((0L, 2L), (2L, 1L), (3L, 2L)))
  }

  test("sizeProfile: cluster-size histogram with exact corpus shares") {
    val corpus = Seq((1L, "a"), (2L, "a"), (3L, "a"),
      (4L, "b"), (5L, "b"), (6L, "c")).toDF("doc_id", "text")
    val out = Dedup.sizeProfile(corpus, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("cluster_size") ->
        (r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs"),
          r.getAs[Double]("doc_share"))).toMap
    assert(out(3L) == (1L, 3L, 0.5))
    assert(out(2L) == (1L, 2L, 0.333333))
    assert(out(1L) == (1L, 1L, 0.166667))
  }

  test("ngramNovelty: unique-gram share per doc, sub-n docs absent") {
    val corpus = Seq(
      (1L, "w1 w2 w3 w4"), // grams: w1w2w3 (shared), w2w3w4 (unique)
      (2L, "w1 w2 w3"), // its only gram is shared with doc 1
      (3L, "x")) // shorter than n -> no shingles, absent
      .toDF("doc_id", "text")
    val out = Dedup.ngramNovelty(corpus, "doc_id", "text", 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_unique"),
          r.getAs[Double]("novelty"))).toMap
    assert(out == Map(1L -> (2L, 1L, 0.5), 2L -> (1L, 0L, 0.0)),
      out.toString)
  }

  test("lshCandidates surfaces exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.lshCandidates(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((3L, 4L)))
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => Set(a, b) == Set(0L, 3L) })
  }

  test("minhashClusters groups dup families under the min id") {
    val out = Dedup.minhashClusters(docs, "doc_id", "text")
      .orderBy("id").as[(Long, Long)].collect()
    val byId = out.toMap
    assert(byId(0L) == 0L && byId(1L) == 0L && byId(4L) == 3L)
    assert(byId(3L) == 3L)
    assert(byId(2L) == 0L) // near-dup joins cluster 0
  }

  test("meanPoolEmbeddings: element-wise mean, L2 normalized, zero-safe") {
    val d = Seq(
      (0L, Array(1.0f, 0.0f)), (0L, Array(0.0f, 1.0f)), // mean (.5,.5)
      (1L, Array(3.0f, 4.0f)),                          // single chunk
      (2L, Array(0.0f, 0.0f)))                          // zero vector
      .toDF("g", "embedding")
    val out = Similarity.meanPoolEmbeddings(d, "g", "embedding")
      .as[(Long, Seq[Double], Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(0L)._1 == Seq(0.707107, 0.707107) && out(0L)._2 == 2L)
    assert(out(1L)._1 == Seq(0.6, 0.8) && out(1L)._2 == 1L)
    assert(out(2L)._1 == Seq(0.0, 0.0))   // zero normalizes to itself
  }

  test("lshPlan meets the recall target with the most selective r that fits") {
    def sCurve(s: Double, b: Int, r: Int): Double =
      1.0 - math.pow(1.0 - math.pow(s, r), b)
    for (threshold <- Seq(0.5, 0.7, 0.8, 0.9);
         recall <- Seq(0.8, 0.9, 0.95)) {
      val p = Dedup.lshPlan(threshold, recall, maxSlots = 256)
      assert(p.bands * p.rowsPerBand <= 256)
      assert(p.recallAtThreshold >= recall,
        s"t=$threshold want=$recall got=$p")
      assert(math.abs(p.recallAtThreshold -
        sCurve(threshold, p.bands, p.rowsPerBand)) < 1e-12)
      // most-selective-first: no r' > r fits the budget at this recall
      val rPrime = p.rowsPerBand + 1
      val pr = math.pow(threshold, rPrime)
      if (pr > 0 && pr < 1) {
        val bNeeded = math.ceil(math.log1p(-recall) / math.log1p(-pr))
        assert(bNeeded * rPrime > 256.0,
          s"a more selective plan fit: r=$rPrime b=$bNeeded for t=$threshold")
      }
    }
    // the repo's own clustering default (8x4 at threshold 0.7) is close
    // to what the planner picks under a 32-slot budget
    val small = Dedup.lshPlan(0.7, 0.85, maxSlots = 32)
    assert(small.bands * small.rowsPerBand <= 32 &&
      small.recallAtThreshold >= 0.85)
  }

  test("minhashClusters transitive=true closes chains one-hop cannot") {
    // A~B and B~C are near-dups; A and C have drifted too far apart to
    // be direct candidates — a chain, not a clique
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val b = "alpha beta gamma delta epsilon zeta eta theta iota kappa nu xi"
    val c = "omicron pi gamma delta epsilon zeta eta theta iota kappa nu xi"
    val chain = Seq((0L, a), (1L, b), (2L, c), (9L, "totally unrelated words here about completely other things entirely"))
      .toDF("doc_id", "text")
    val closed = Dedup.minhashClusters(chain, "doc_id", "text",
        minEstJaccard = 0.5, transitive = true)
      .as[(Long, Long)].collect().toMap
    // whatever the adjacency, the closure must be a consistent
    // partition: every cluster id is itself clustered to itself
    closed.foreach { case (_, cl) => assert(closed(cl) == cl) }
    assert(closed(9L) == 9L)
    // if the chain holds (A~B, B~C), all three collapse to 0 — and
    // one-hop must NOT produce a deeper id than its own min neighbor
    if (closed(1L) == 0L && closed(2L) == 0L) {
      val oneHop = Dedup.minhashClusters(chain, "doc_id", "text",
          minEstJaccard = 0.5)
        .as[(Long, Long)].collect().toMap
      // one-hop C points at min(direct neighbors) — which may be B
      // (=1), an id that is itself relabeled: the closure fixes this
      assert(oneHop(2L) >= closed(2L))
    }
  }

  test("leakageSafeSplit: near-dups never straddle a split boundary") {
    val out = Dedup.leakageSafeSplit(docs, "doc_id", "text", buckets = 10)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.size == 5)
    // the 0/1/2 dup family (exact + near) shares one component+bucket,
    // as does 3/4; the two families are independent components
    assert(out(0L) == out(1L) && out(1L) == out(2L))
    assert(out(3L) == out(4L))
    assert(out(0L)._1 == 0L && out(3L)._1 == 3L)
    // bucket is the md5 split of the COMPONENT id, matching
    // withHashSplit of the same key exactly
    val expected = graft.operators.Relational.withHashSplit(
        Seq(0L, 3L).toDF("component_id"), col("component_id"), 10)
      .as[(Long, Long)].collect().toMap
    assert(out(0L)._2 == expected(0L) && out(3L)._2 == expected(3L))
  }

  test("leakageSafeSplitAuto: exact path below the gate, LSH path above") {
    val exact = Dedup.leakageSafeSplit(docs, "doc_id", "text", buckets = 10)
      .as[(Long, Long, Long)].collect().toSet
    // 5 docs < 100k default gate -> must BE the exact split
    val small = Dedup.leakageSafeSplitAuto(docs, "doc_id", "text",
        buckets = 10)
      .as[(Long, Long, Long)].collect().toSet
    assert(small == exact)
    // forced over the gate (maxExactDocs=1): banded edges, same dup
    // families -> identical components and buckets on this fixture
    val lsh = Dedup.leakageSafeSplitAuto(docs, "doc_id", "text",
        buckets = 10, maxExactDocs = 1)
      .as[(Long, Long, Long)].collect().toSet
    Dedup.releaseCaches()
    assert(lsh == exact)
  }

  test("leakageSafeSplitFromEdges groups via a caller-supplied edge set") {
    // semantic edges (not text-derived): 0-3 declared near-dups
    val edges = Seq((0L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.leakageSafeSplitFromEdges(docs, "doc_id", edges, 10)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(out(0L) == 0L && out(3L) == 0L)     // merged component
    assert(out(1L) == 1L && out(2L) == 2L && out(4L) == 4L) // singletons
  }

  test("ngramJaccardPairs: exact dup has jaccard 1.0, near dup is high") {
    val out = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((0L, 1L)) == 1.0)
    assert(out((3L, 4L)) == 1.0)
    assert(out((0L, 2L)) > 0.5 && out((0L, 2L)) < 1.0)
    assert(!out.contains((0L, 3L)))
  }

  test("winnowedOverlapPairs detects a copied passage inside different docs") {
    val passage = "the five boxing wizards jump quickly over the lazy dog tonight"
    val d = Seq(
      (0L, s"totally unrelated preamble here $passage and some trailing words"),
      (1L, s"$passage but wrapped in an entirely different document body text"),
      (2L, "no shared content at all in this one just plain filler words"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowedOverlapPairs(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), s"copied passage not detected: $pairs")
    assert(!pairs.exists { case (a, b) => b == 2L || a == 2L })
  }

  test("simhashNearDups finds near-identical docs via pigeonhole bands") {
    val out = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((0L, 1L))) // identical -> hamming 0
    assert(out.contains((3L, 4L)))
    assert(!out.exists { case (a, b) => Set(a, b) == Set(0L, 3L) })
  }

  private val vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f), 0),
    (1L, Seq(0.9f, 0.1f, 0.0f), 0),
    (2L, Seq(0.8f, 0.2f, 0.0f), 0),
    (3L, Seq(0.0f, 1.0f, 0.0f), 1),
    (4L, Seq(0.0f, 0.9f, 0.1f), 1),
    (5L, Seq(0.0f, 0.0f, 1.0f), 2))
    .toDF("vec_id", "embedding", "label")

  test("bruteForceKnn returns nearest neighbors in similarity order") {
    val out = Similarity.bruteForceKnn(
      vecs.filter(col("vec_id") === 0L), vecs, "vec_id", "embedding", 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(out.toSeq == Seq(1L, 2L))
  }

  test("lshKnn finds the same top neighbor as brute force for tight clusters") {
    val brute = Similarity.bruteForceKnn(
      vecs.filter(col("vec_id") === 0L), vecs, "vec_id", "embedding", 1)
      .select("neighbor_id").as[Long].collect().head
    val lsh = Similarity.lshKnn(
      vecs.filter(col("vec_id") === 0L), vecs, "vec_id", "embedding", 1,
      bands = 2, bitsPerBand = 2, dim = 3)
      .select("neighbor_id").as[Long].collect()
    // LSH may prune, but anything it returns must be bucket-consistent;
    // with 2 bits the tight cluster stays together.
    assert(lsh.isEmpty || lsh.head == brute)
  }

  test("ivfKnn with full probing matches brute force; partial probing is a subset") {
    val rnd = new scala.util.Random(11)
    // 3 well-separated clusters in 8 dims
    def cluster(center: Int, n: Int, off: Long) = (0 until n).map { i =>
      (off + i, Seq.tabulate(8)(j =>
        (if (j == center) 10.0 else 0.0).toFloat + rnd.nextFloat() * 0.1f))
    }
    val corpus = (cluster(0, 30, 0L) ++ cluster(3, 30, 100L) ++
      cluster(6, 30, 200L)).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id").isin(0L, 100L, 200L))
    val index = Similarity.buildIvf(corpus, "vec_id", "embedding", nlist = 3)
    val brute = Similarity.bruteForceKnn(queries, corpus, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val fullProbe = Similarity.ivfKnn(queries, index, "vec_id",
      "embedding", 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(fullProbe == brute)
    val oneProbe = Similarity.ivfKnn(queries, index, "vec_id", "embedding",
      5, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // tight clusters: probing only the home list still finds the same top-5
    assert(oneProbe == brute)
  }

  test("buildIvf is deterministic: two builds are byte-identical (r11)") {
    // the quantizer trains with the engine's own fixed-round Lloyd
    // (deterministic seeds + rounded centroids), so rebuilding over
    // the same corpus must reproduce BOTH the centroid table and the
    // inverted-list assignment exactly — the contract that makes the
    // recall gates stable rather than per-build
    val rnd = new scala.util.Random(23)
    val corpus = (0 until 120).map { i =>
      (i.toLong, Seq.tabulate(8)(_ => rnd.nextFloat()))
    }.toDF("vec_id", "embedding")
    val a = Similarity.buildIvf(corpus, "vec_id", "embedding", nlist = 4)
    val b = Similarity.buildIvf(corpus, "vec_id", "embedding", nlist = 4)
    assert(a.centroids.map { case (i, c) => (i, c.toSeq) }.toSeq ==
      b.centroids.map { case (i, c) => (i, c.toSeq) }.toSeq)
    def lists(ix: Similarity.IvfIndex) = ix.indexed
      .select("vec_id", "list_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(lists(a) == lists(b))
    a.indexed.unpersist(); b.indexed.unpersist()
  }

  test("buildPq is deterministic: residual builds byte-identical (r12)") {
    // residual IVFADC adds a coarse table and a leading cell byte to
    // every code; the whole artifact — coarse, codebooks, codes —
    // must rebuild byte-for-byte (driver-side Lloyd under a fixed
    // seed, one rnd drawn in a pinned order: coarse first, then the
    // m sub-codebooks)
    val rnd = new scala.util.Random(29)
    val corpus = (0 until 150).map { i =>
      (i.toLong, Seq.tabulate(8)(_ => rnd.nextFloat()))
    }.toDF("vec_id", "embedding")
    val a = Similarity.buildPq(corpus, "vec_id", "embedding",
      m = 4, ksub = 16, nlist = 8)
    val b = Similarity.buildPq(corpus, "vec_id", "embedding",
      m = 4, ksub = 16, nlist = 8)
    assert(a.coarse.map(_.toSeq).toSeq == b.coarse.map(_.toSeq).toSeq)
    assert(a.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      b.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    def codes(ix: Similarity.PqIndex) = ix.encoded.collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).toSeq))
      .sortBy(_._1).toSeq
    assert(codes(a) == codes(b))
    // residual layout: (1 + m) bytes, leading cell byte inside nlist
    codes(a).foreach { case (_, c) =>
      assert(c.length == 5 && (c.head & 0xff) < 8, c.toString) }
    a.encoded.unpersist(); b.encoded.unpersist()
  }

  test("embeddingNearDups (banded) finds every exact-threshold pair") {
    // seeded corpus: 10 planted near-dup pairs (base + tiny noise,
    // cosine ~0.999) among 20 unrelated random vectors; the banded LSH
    // at defaults must recover EVERY pair the exact all-pairs cosine
    // threshold finds (deterministic: fixed seed + deterministic planes)
    val rnd = new scala.util.Random(7)
    val dim = 16
    def randVec() = Array.fill(dim)(rnd.nextGaussian())
    val bases = Seq.fill(10)(randVec())
    val rows =
      bases.zipWithIndex.flatMap { case (b, i) =>
        val noisy = b.map(x => x + rnd.nextGaussian() * 0.01)
        Seq((i.toLong * 2, b.map(_.toFloat).toSeq),
          (i.toLong * 2 + 1, noisy.map(_.toFloat).toSeq))
      } ++ (100L until 120L).map(i => (i, randVec().map(_.toFloat).toSeq))
    val df = rows.toDF("vec_id", "embedding")
    // exact ground truth, computed locally
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val (d, na, nb) = a.zip(b).foldLeft((0.0, 0.0, 0.0)) {
        case ((d, na, nb), (x, y)) =>
          (d + x.toDouble * y, na + x.toDouble * x, nb + y.toDouble * y)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = rows.toMap
    val exactPairs = (for {
      (a, va) <- rows; (b, vb) <- rows if a < b && cos(va, vb) >= 0.95
    } yield (a, b)).toSet
    assert(exactPairs.size >= 10, s"expected planted pairs, got $exactPairs")
    val banded = Dedup.embeddingNearDups(df, "vec_id", "embedding",
      minCosine = 0.95, dim = dim)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exactPairs.subsetOf(banded),
      s"banded LSH missed pairs: ${exactPairs -- banded}")
    // and nothing below the exact threshold sneaks in (exact verify step)
    banded.foreach { case (a, b) =>
      assert(cos(byId(a), byId(b)) >= 0.95) }
  }

  test("incrementalDedup drops batch docs duplicating corpus or batch") {
    // near-dup docs are ~30 tokens with ONE changed word so the true
    // 3-gram jaccard (~0.8) sits clearly above the 0.7 threshold —
    // short docs make one word change dominate the shingle set
    val baseA = "the quick brown fox jumps over the lazy dog while the " +
      "patient observer writes down every single movement it makes in " +
      "the quiet golden afternoon light today"
    val baseB = "bucketed joins salted keys and broadcast dimensions " +
      "make shuffles cheap when the planner co locates both sides of " +
      "every large fact join across the cluster nodes"
    val corpus = Seq(
      (0L, baseA),
      (1L, "completely different content about spark query engines and shuffles here"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, baseA),                               // exact dup of corpus 0 -> drop
      (11L, baseA.replace("today", "tonight")),   // near dup of corpus 0 -> drop
      (12L, "a genuinely fresh document with vocabulary nothing else shares at all"), // keep
      (13L, baseB),                               // keep (min of 13/14/15 family)
      (14L, baseB),                               // exact dup within batch -> drop
      (15L, baseB.replace("cheap", "fast")))      // near dup within batch -> drop
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(batch, corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    Dedup.releaseCaches()
    assert(kept == Seq(12L, 13L))
  }

  test("corpusDedupStateFor: batches dedup without rescanning corpus text") {
    val baseA = "the quick brown fox jumps over the lazy dog while the " +
      "patient observer writes down every single movement it makes in " +
      "the quiet golden afternoon light today"
    val dir = tmpDir("graft-corpus-state")
    Seq(
      (0L, baseA),
      (1L, "completely different content about spark query engines and shuffles here"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    val cacheKey = s"spec:$dir"
    val st = Dedup.corpusDedupStateFor(spark.read.parquet(dir),
      "doc_id", "text", cacheKey)
    // HARD proof of the no-rescan contract: delete the corpus parquet
    // behind the state — any batch that touches corpus text (instead of
    // the cached fingerprint/signature frames) now throws.
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    Files.walk(Paths.get(dir)).iterator().asScala.toSeq.reverse
      .foreach(Files.delete)
    val batch1 = Seq(
      (10L, baseA),                             // exact dup of corpus 0
      (11L, baseA.replace("today", "tonight")), // near dup of corpus 0
      (12L, "a genuinely fresh document with vocabulary nothing else shares at all"))
      .toDF("doc_id", "text")
    val kept1 = Dedup.incrementalDedupWithState(batch1, st, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept1 == Seq(12L))
    // second batch against the same registry entry — still no corpus read
    val batch2 = Seq(
      (20L, baseA),                             // exact dup of corpus 0
      (21L, "another entirely novel body of words unseen in any prior document"))
      .toDF("doc_id", "text")
    val kept2 = Dedup.incrementalDedupWithState(batch2, st, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept2 == Seq(21L))
    // the registry returns the SAME state instance for the key (no rebuild)
    assert(Dedup.corpusDedupStateFor(spark.emptyDataFrame, "doc_id",
      "text", cacheKey) eq st)
    // absorb batch2's survivor into the state (still no corpus files on
    // disk): a later batch duplicating it must now be dropped
    val st2 = Dedup.extendCorpusDedupState(st,
      batch2.filter(col("doc_id") === 21L), "doc_id", "text")
    val batch3 = Seq(
      (30L, "another entirely novel body of words unseen in any prior document"), // dup of accepted 21
      (31L, "yet more completely fresh prose sharing no vocabulary with anything else"))
      .toDF("doc_id", "text")
    val kept3 = Dedup.incrementalDedupWithState(batch3, st2, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept3 == Seq(31L))
    Dedup.releaseCaches()
    Dedup.invalidateCorpusState(cacheKey)
  }

  test("incrementalDedupWithState stays a bounded-job plan (no tree blowup)") {
    // regression guard for the round-5 finding: un-materialized batch
    // subtrees re-inlined into every downstream join produced a
    // 1,400-line physical plan and 91 Spark jobs per batch; with the
    // three materialized seams a warm batch runs ~20 jobs. Threshold
    // carries 2x headroom — trip it and the plan tree has regressed.
    val corpus = (0L until 50L)
      .map(i => (i, s"corpus document number $i with some shared words"))
      .toDF("doc_id", "text")
    val batch = (100L until 120L)
      .map(i => (i, s"batch document number $i entirely fresh tokens"))
      .toDF("doc_id", "text")
    val st = Dedup.buildCorpusDedupState(corpus, "doc_id", "text")
    Dedup.incrementalDedupWithState(batch, st, "doc_id", "text").count()
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Dedup.incrementalDedupWithState(batch, st, "doc_id", "text").count()
      // listener events post asynchronously; wait until the count stops
      // moving (bounded)
      var last = -1
      var spins = 0
      while (jobs != last && spins < 50) {
        last = jobs; spins += 1; Thread.sleep(100)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    Dedup.releaseCaches()
    st.fingerprints.unpersist(); st.signatures.unpersist()
    assert(jobs <= 40, s"plan tree regressed: $jobs jobs for one batch")
  }

  test("semanticDedup keeps one member per planted near-dup pair") {
    // same seeded corpus shape as the banded-LSH test: 10 planted
    // near-identical pairs + 20 unrelated vectors; near-identical
    // vectors land in the same k-means cell, so the within-cluster
    // sweep must keep exactly the min id of each pair and every
    // unrelated vector
    val rnd = new scala.util.Random(7)
    val dim = 16
    def randVec() = Array.fill(dim)(rnd.nextGaussian())
    val bases = Seq.fill(10)(randVec())
    val rows =
      bases.zipWithIndex.flatMap { case (b, i) =>
        val noisy = b.map(x => x + rnd.nextGaussian() * 0.01)
        Seq((i.toLong * 2, b.map(_.toFloat).toSeq),
          (i.toLong * 2 + 1, noisy.map(_.toFloat).toSeq))
      } ++ (100L until 120L).map(i => (i, randVec().map(_.toFloat).toSeq))
    val df = rows.toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedup(df, "vec_id", "embedding",
      minCosine = 0.95, nlist = 4)
      .select("vec_id").as[Long].collect().toSet
    Dedup.releaseCaches()
    (0 until 10).foreach { i =>
      assert(kept.contains(i.toLong * 2), s"min id of pair $i must survive")
      assert(!kept.contains(i.toLong * 2 + 1), s"dup of pair $i must drop")
    }
    (100L until 120L).foreach(i =>
      assert(kept.contains(i), s"unrelated vector $i must survive"))
  }

  test("knnLabelAgreement scores cluster members by shared labels") {
    val out = Similarity.knnLabelAgreement(
      vecs.filter(col("vec_id") === 0L), vecs,
      "vec_id", "embedding", "label", 2)
      .as[(Long, Long)].collect().head
    assert(out == ((0L, 2L)))
  }

  test("CorpusPipeline.prepare dedups, decontaminates and splits deterministically") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup -> dropped
      (3L, "completely different content about spark query engines and shuffles here"),
      (4L, "held out benchmark sentence that must never appear in training data"),
      (5L, "a fresh unrelated document with its own vocabulary and nothing shared"))
      .toDF("doc_id", "text")
    val eval = Seq(
      (100L, "held out benchmark sentence that must never appear in training data"))
      .toDF("doc_id", "text")
    val out = graft.llm.CorpusPipeline.prepare(corpus, "doc_id", "text",
      evalSet = Some(eval),
      cfg = graft.llm.CorpusPipeline.Config(maxContamination = 0.5))
    val kept = out.select("doc_id").as[Long].collect().sorted.toSeq
    // 1 dropped as exact dup of 0; 4 dropped as eval-contaminated
    assert(kept == Seq(0L, 3L, 5L))
    val buckets = out.select("split_bucket").as[Long].collect()
    assert(buckets.forall(b => b >= 0 && b < 10))
    // re-running assigns identical splits (pure function of doc_id)
    val again = graft.llm.CorpusPipeline.prepare(corpus, "doc_id", "text",
      evalSet = Some(eval))
      .select("doc_id", "split_bucket").as[(Long, Long)].collect().toMap
    val first = out.select("doc_id", "split_bucket").as[(Long, Long)]
      .collect().toMap
    assert(first == again)
  }

  test("CorpusPipeline: zero-token docs fail a finite LM quality bar") {
    // a doc with no tokens has no avg_logp row; it must be treated as
    // WORST quality under a finite minAvgLogProb, not best (advisor
    // r2: coalesce to 0.0 let token-less docs bypass the LM filter)
    val corpus = Seq(
      (0L, "normal document with plenty of ordinary words in it today"),
      (1L, "   ")) // whitespace-only -> zero tokens -> no LM score
      .toDF("doc_id", "text")
    val kept = graft.llm.CorpusPipeline.prepare(corpus, "doc_id", "text",
      cfg = graft.llm.CorpusPipeline.Config(minAvgLogProb = -100.0))
      .select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(0L))
    // permissive default (-inf) keeps both
    val all = graft.llm.CorpusPipeline.prepare(corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(all == Seq(0L, 1L))
  }

  test("contaminationScreen: map-only, never below the exact fraction") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "nothing shared with that corpus here"),
      (2L, "alpha beta gamma unrelated tail part")).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val screen = Dedup.contaminationScreen(corpus, eval, "doc_id", "text", 3)
    // NO exchange on the corpus side: the screen is a pure projection
    val plan = screen.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"screen must be map-only:\n$plan")
    val est = screen.orderBy("doc_id")
      .select("doc_id", "n_shingles", "est_contamination")
      .as[(Long, Long, Double)].collect().toSeq
    val exact = Dedup.contamination(corpus, eval, "doc_id", "text", 3)
      .orderBy("doc_id").select("doc_id", "contamination")
      .as[(Long, Double)].collect().toMap
    est.foreach { case (id, n, e) =>
      assert(n > 0)
      assert(e >= exact(id), s"doc $id: screen $e below exact ${exact(id)}")
    }
    // at this vocabulary size the bloom has no false positives
    assert(est.map(r => (r._1, r._3)).toMap == exact)
  }

  test("tracked dedup caches drain after releaseCaches") {
    import graft.llm.{Bpe, LanguageModel, Lines, Mixing, TrackedFrames, Unigram}
    // every owner of tracked frames: one tracking operator, its frames
    // and its public releaseCaches() delegate
    val owners: Seq[(String, TrackedFrames, () => Unit, () => Unit)] = Seq(
      ("Dedup", Dedup.tracked,
        () => Dedup.minhashClusters(docs, "doc_id", "text").count(),
        () => Dedup.releaseCaches()),
      ("Mixing", Mixing.tracked,
        () => Mixing.tokenBudgetSelect(docs, "text", "doc_id", 20L).count(),
        () => Mixing.releaseCaches()),
      ("Lines", Lines.tracked,
        () => Lines.stripBoilerplate(docs, "doc_id", "text", 2).count(),
        () => Lines.releaseCaches()),
      ("Bpe", Bpe.tracked,
        () => Bpe.encodeDocs(docs, "doc_id", "text", Seq(("t", "h"))).count(),
        () => Bpe.releaseCaches()),
      ("LanguageModel", LanguageModel.tracked,
        () => LanguageModel.unigramScore(docs, "doc_id", "text").count(),
        () => LanguageModel.releaseCaches()),
      ("Unigram", Unigram.tracked,
        () => Unigram.train(docs, "text", vocabSize = 50, iters = 1,
          seedSize = 200).count(),
        () => Unigram.releaseCaches()))
    TrackedFrames.releaseQuery() // start clean regardless of suite order
    // each owner's own releaseCaches() drains that owner
    owners.foreach { case (name, frames, run, releaseCaches) =>
      run()
      assert(frames.size > 0, s"$name should track its frames")
      releaseCaches()
      assert(frames.size == 0, s"$name.releaseCaches() must drain $name")
    }
    Dedup.minhashClusters(docs, "doc_id", "text").count()
    assert(Dedup.trackedCacheCount > 0, "minhashClusters should track its persist")
    Dedup.releaseCaches()
    assert(Dedup.trackedCacheCount == 0, "releaseCaches must drain the queue")
    // the drivers' per-query release leaves every owner empty
    owners.foreach { case (_, _, run, _) => run() }
    owners.foreach { case (name, frames, _, _) =>
      assert(frames.size > 0, s"$name should track its frames")
    }
    TrackedFrames.releaseQuery()
    assert(Dedup.trackedCacheCount == 0, "release must drain the queue")
    owners.foreach { case (name, frames, _, _) =>
      assert(frames.size == 0, s"release must drain $name")
    }
  }

  test("contamination: full overlap = 1.0, disjoint = 0.0, partial in between") {
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val test = Seq(
      (0L, "alpha beta gamma delta"),          // all 2 of its 3-grams in corpus
      (1L, "nothing shared with that corpus here"), // none
      (2L, "alpha beta gamma unrelated tail part")) // 1 of 4
      .toDF("doc_id", "text")
    val out = Dedup.contamination(test, corpus, "doc_id", "text", 3)
      .orderBy("doc_id")
      .select("doc_id", "n_shingles", "n_contaminated", "contamination")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (0L, 2L, 2L, 1.0),
      (1L, 4L, 0L, 0.0),
      (2L, 4L, 1L, 0.25)))
  }

  test("softDedupWeights: every copy kept, cluster weights sum to exactly 1") {
    val out = Dedup.softDedupWeights(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "cluster_size", "weight")
      .as[(Long, Long, Double)].collect().toSeq
    // docs fixture: {0,1} exact dups, {3,4} exact dups, 2 unique
    assert(out == Seq(
      (0L, 2L, 0.5), (1L, 2L, 0.5), (2L, 1L, 1.0),
      (3L, 2L, 0.5), (4L, 2L, 0.5)))
    // effective corpus size == distinct-text count
    assert(math.abs(out.map(_._3).sum - 3.0) < 1e-9)
  }

  test("quantizedKnn matches bruteForceKnn when gaps exceed quantization error") {
    // candidates at angles 0.2*i from each query, two disjoint axis
    // planes: cosine gaps (0.18 at the top-5 boundary) dwarf int8
    // quantization error (~0.01), so the top-5 SET must equal the
    // float kernel's exactly. (Near-TIED neighbors are the one thing
    // int8 legitimately reorders — the sf-scale recall gate
    // q_int8_knn_recall covers that regime with a 0.9 floor.)
    val dim = 8
    def vec(axis: Int, other: Int, theta: Double): Seq[Float] =
      Seq.tabulate(dim)(j =>
        (if (j == axis) math.cos(theta)
         else if (j == other) math.sin(theta) else 0.0).toFloat)
    val corpus = (
      Seq((0L, vec(0, 1, 0.0)), (100L, vec(2, 3, 0.0))) ++
      (1 to 12).map(i => (i.toLong, vec(0, 1, 0.2 * i))) ++
      (1 to 12).map(i => (100L + i, vec(2, 3, 0.2 * i)))
    ).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id").isin(0L, 100L))
    val brute = Similarity.bruteForceKnn(queries, corpus, "vec_id",
      "embedding", 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.quantizedKnn(queries, corpus, "vec_id",
      "embedding", 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute == quant,
      s"int8 kNN diverged: missing ${brute -- quant}, extra ${quant -- brute}")
    assert(quant == (for (q <- Seq(0L, 100L); i <- 1 to 5)
      yield (q, q + i)).toSet)
  }

  test("pqKnn: zero-distortion codebook reproduces the exact top-5") {
    // same two-plane angles fixture; with kEff = |corpus| every
    // sub-vector becomes its own centroid (Lloyd distortion 0), so
    // ADC equals the exact cosine and the top-5 must match brute
    // force — determinism of the whole encode/LUT/ADC path
    val dim = 8
    def vec(axis: Int, other: Int, theta: Double): Seq[Float] =
      Seq.tabulate(dim)(j =>
        (if (j == axis) math.cos(theta)
         else if (j == other) math.sin(theta) else 0.0).toFloat)
    val corpus = (
      Seq((0L, vec(0, 1, 0.0)), (100L, vec(2, 3, 0.0))) ++
      (1 to 12).map(i => (i.toLong, vec(0, 1, 0.2 * i))) ++
      (1 to 12).map(i => (100L + i, vec(2, 3, 0.2 * i)))
    ).toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id").isin(0L, 100L))
    val index = Similarity.buildPq(corpus, "vec_id", "embedding",
      m = 4, ksub = 256)
    assert(index.ksub == 26, "sample-capped codebook should be |corpus|")
    val brute = Similarity.bruteForceKnn(queries, corpus, "vec_id",
      "embedding", 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqKnn(queries, index, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pq == brute,
      s"PQ diverged: missing ${brute -- pq}, extra ${pq -- brute}")
    // composed IVF-PQ with FULL probing must equal exhaustive PQ
    // (pruning off -> only the scoring path differs, and it doesn't)
    val coarse = Similarity.buildIvf(corpus, "vec_id", "embedding", nlist = 3)
    val ivfpq = Similarity.ivfPqKnn(queries, coarse, index, "vec_id",
      "embedding", 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivfpq == brute,
      s"IVF-PQ diverged: missing ${brute -- ivfpq}, extra ${ivfpq -- brute}")

    // streaming serve: two micro-batches of queries against the SAME
    // static index must reproduce the batch search exactly
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = graft.streaming.StreamOps.annServe(
      mem.toDF().toDF("vec_id", "embedding"), coarse, index,
      "vec_id", "embedding", 5, nProbe = 3,
      checkpoint = tmpDir("annserve"),
      sink = out => collected.synchronized {
        collected ++= out.collect().map(r => (r.getLong(0), r.getLong(1)))
      })
    try {
      mem.addData((0L, vec(0, 1, 0.0)))
      q.processAllAvailable()
      mem.addData((100L, vec(2, 3, 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    assert(collected.toSet == brute,
      s"streaming serve diverged: ${collected.toSet} vs $brute")

    index.encoded.unpersist(blocking = true)
    coarse.indexed.unpersist(blocking = true)
  }

  test("kmeansFit: hand-traced Lloyd rounds recover the two blobs") {
    // seeds = the 2 smallest ids, BOTH in the origin blob — round 1
    // pulls the far blob onto seed 1, round 2 separates cleanly:
    // c0=(0,0.5) c1=(10,10.5), inertia 0.5 per cluster
    val pts = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(10.0f, 10.0f)), (3L, Seq(10.0f, 11.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.kmeansFit(pts, "vec_id", "embedding",
      k = 2, rounds = 2)
      .collect().map(r => r.getAs[Int]("cluster") ->
        (r.getAs[Long]("n_points"), r.getAs[Double]("inertia"))).toMap
    assert(out == Map(0 -> (2L, 0.5), 1 -> (2L, 0.5)), out.toString)
    // a cluster that loses all members stays dropped: three identical
    // points at the origin and one far seed -> the origin centroid
    // absorbs everything by round 2... seed 1 = the far point keeps
    // itself, so instead pin the documented drop with a seed DOMINATED
    // from round 1: two coincident seeds
    val dup = Seq(
      (0L, Seq(0.0f, 0.0f)), (1L, Seq(0.0f, 0.0f)),
      (2L, Seq(5.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val out2 = Similarity.kmeansFit(dup, "vec_id", "embedding",
      k = 2, rounds = 2)
      .collect().map(r => r.getAs[Int]("cluster") ->
        r.getAs[Long]("n_points")).toMap
    // ties break to the smaller cid: cluster 1 (the coincident seed)
    // never wins a point and is dropped
    assert(out2 == Map(0 -> 3L), out2.toString)
    // zero non-null vectors -> zero clusters, not an AnalysisException
    val empty = Similarity.kmeansFit(
      pts.filter($"vec_id" < 0L), "vec_id", "embedding", k = 2)
    assert(empty.count() == 0L)
    assert(empty.columns.toSeq == Seq("cluster", "n_points", "inertia"))
  }

  test("lloydRounds: null ELEMENTS route to the avg path, not sum/n") {
    // same-length vectors where one member is null at position 1:
    // sum() skips the null but the fast path's divisor would be the
    // full cluster count (3), giving centroid y = 4/3 ≈ 1.33 — the
    // avg() semantics (the r10 posexplode contract) divide by the 2
    // NON-null members: y = 2.0. The __nulls detector must force the
    // fallback; assignment then sends the probe at (0, 2) to this
    // cluster, not the far one.
    val base = Seq(
      (0L, Seq(Option(0.0), Option(1.0))),
      (1L, Seq(Option(0.0), Option.empty[Double])),
      (2L, Seq(Option(0.0), Option(3.0))),
      (3L, Seq(Option(100.0), Option(100.0))))
      .toDF("__id", "__v")
    val cents = Similarity.lloydRounds(base,
      Array(0 -> Seq(0.0, 1.0), 1 -> Seq(100.0, 100.0)),
      rounds = 1, scale = 6)
    assert(cents.toMap == Map(0 -> Vector(0.0, 2.0),
      1 -> Vector(100.0, 100.0)), cents.mkString(", "))
  }
}
