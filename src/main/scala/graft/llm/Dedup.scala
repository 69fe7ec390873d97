package graft.llm

import graft.functions.Text
import graft.operators.Skew
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale document deduplication (SURVEY.md §7.1 `llm/` extension;
  * north-star training-data-pipeline surface). Four families:
  *
  *  - exact: md5 fingerprint hash-groupBy (one shuffle on the 16-byte key)
  *  - MinHash + LSH banding: shingle → k minhashes → b bands → bucket join
  *  - SimHash: 64-bit per-bit-majority signature, hamming buckets
  *  - n-gram Jaccard: exact pairwise similarity over shared-shingle pairs
  *
  * Scale design: every method is shuffle-bounded by (doc_id, small key) —
  * never by text payload; candidate generation always goes through a
  * bucket equi-join (no cross join); exact Jaccard runs only on LSH/shared
  * -shingle candidates.
  */
object Dedup {

  /** CACHING SIDE EFFECT: [[minhashClusters]], [[dedupCorpus]],
    * [[ngramJaccardPairs]], [[similarityJoin]], [[ngramNovelty]],
    * [[lshVerifiedEdges]], [[incrementalDedup]],
    * [[incrementalDedupWithState]] and [[semanticDedup]] persist small
    * intermediate frames (signatures / shingle-hash rows) that feed
    * several plan branches. Long-lived drivers call [[releaseCaches]]
    * after the consuming action (see [[TrackedFrames]]). */
  private[graft] val tracked = new TrackedFrames

  def releaseCaches(): Unit = tracked.release()

  /** Currently-tracked (not yet released) cached frames — drains to 0
    * after [[releaseCaches]]. */
  def trackedCacheCount: Int = tracked.size

  /** [[Skew.fanOut]] floor in front of light map-side work (signature
    * banding); CPU-dense sites (prefix-verify) fan out at any size. */
  private val fanOutMinBytes = 64L << 20

  /** Exact dedup: group identical normalized texts, keep min doc id as
    * canonical, report group size. 100 TB note: the shuffle carries only
    * (fingerprint, doc_id) pairs after map-side partial aggregation. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), Text.fingerprint(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("dup_count"))

  /** Survivorship dedup: per exact-duplicate cluster keep the BEST
    * copy by `score` (ties to the smallest id) instead of [[exact]]'s
    * smallest-id canonical — the golden-record policy when duplicate
    * copies differ in quality (truncation, encoding damage). The
    * argmax rides one struct min_by inside the same single hash
    * aggregate as [[exact]], so the cost is identical. Score must be
    * engine-deterministic (e.g. the round-6
    * [[graft.functions.Text.qualityScore]]) for oracle duty. */
  def survivorship(df: DataFrame, idCol: String, textCol: String,
      score: Column): DataFrame =
    df.select(col(idCol).as("__id"),
        Text.fingerprint(col(textCol)).as("fingerprint"),
        score.cast("double").as("__q"))
      .groupBy("fingerprint")
      .agg(
        min_by(col("__id"),
          struct((-col("__q")).as("__nq"), col("__id"))).as("survivor_id"),
        max(col("__q")).as("survivor_quality"),
        count(lit(1)).as("dup_count"))

  /** Duplicate-aware soft reweighting (the SoftDeDup idea: keep every
    * copy, down-weight by duplicate multiplicity instead of dropping —
    * a cluster's weights sum to 1 up to 6-decimal rounding (weight is
    * round(1/cluster_size, 6), so a 3-doc cluster sums to 0.999999;
    * the rounding is what lets the DuckDB oracle reproduce the value
    * bit-exactly), so the effective corpus size equals the
    * distinct-text count while rare formatting variants still
    * contribute gradient). Output:
    * (idCol, cluster_size, weight = round(1/cluster_size, 6)).
    *
    * Scale shape: one shuffle of (id, 16-byte fingerprint) pairs — the
    * count rides a window over the fingerprint partition, so the text
    * column is dropped before the exchange and nothing is joined back. */
  def softDedupWeights(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fingerprint")
    df.select(col(idCol), Text.fingerprint(col(textCol)).as("fingerprint"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .select(col(idCol), col("cluster_size"),
        round(lit(1.0) / col("cluster_size"), 6).as("weight"))
  }

  /** Dedup cluster-size profile over exact duplicate groups: how many
    * clusters of each size, how many documents they hold and their
    * corpus share — the one-page observability report that sizes a
    * dedup stage BEFORE running it ("38% of the corpus sits in 2+
    * clusters; removal saves N docs").
    *
    * Scale shape: rides [[exact]]'s single (fingerprint, id) shuffle;
    * everything after is arithmetic on the cluster-size-bounded
    * histogram frame. */
  def sizeProfile(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val cl = exact(df, idCol, textCol)
    val tot = broadcast(cl.agg(
      sum(col("dup_count")).cast("double").as("__t")))
    cl.groupBy(col("dup_count").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .crossJoin(tot)
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        round(col("cluster_size") * col("n_clusters") / col("__t"), 6)
          .as("doc_share"))
  }

  /** Per-document n-gram novelty: the share of a document's DISTINCT
    * n-gram shingles that appear in no other document — high novelty
    * marks original text, low novelty marks templated/boilerplate or
    * near-duplicated content the pairwise dedup family might miss.
    * Documents shorter than n tokens have no shingles and are absent.
    *
    * Scale shape: ONE exchange total. Per-doc shingle counts are
    * `size(shingles)` straight off the map-side shingle arrays — no
    * explode, no shuffle — and only the unique-gram branch explodes
    * to (id, gram) pairs for one MAP-SIDE-COMBINED gram aggregate: a
    * df==1 gram has exactly one owner, so `min(id)` of its group IS
    * the owning document and no join back onto the pair frame is
    * ever needed. (Rejected shapes, measured: persisting the pair
    * frame for two grouped branches — the row-cache write costs 3x
    * the explode it saves; a gram-partitioned count window — sorts
    * the full pair frame with no partial aggregation, 4x.) Per-doc
    * DISTINCT shingles, so df counts documents. At 100 TB swap the
    * gram key for a 64-bit hash (collision-tolerant counts) to keep
    * the exchange fixed-width. */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3): DataFrame = {
    // Persisted (r14 optimization): the normalize→tokenize→n-gram-HOF→
    // array_distinct pipeline is the dominant per-row cost, and the
    // unpersisted plan evaluated it FOUR times — the per-doc-count and
    // unique-gram branches each rescan the corpus, and inside each
    // branch the pushed-down emptiness filter re-evaluates the whole
    // expression below the projection that also computes it. One
    // cached (id, shingles) pass feeds both branches; the emptiness
    // filter then reads the materialized array's size. Same
    // MEMORY_AND_DISK + releaseCaches discipline as ngramJaccardPairs
    // (isolated sf0.1 A/B: 3.89 s -> 1.71 s min).
    val sf = tracked.persist(shingleFrame(
      Skew.fanOut(df, Seq(col(idCol)), fanOutMinBytes),
      idCol, textCol, shingleN))
    val perDoc = sf
      .select(col("id"), size(col("shingles")).as("n_shingles"))
      .filter(col("n_shingles") > 0)
    val uniques = sf
      .select(col("id"), explode(col("shingles")).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("__c"), min(col("id")).as("__owner"))
      .filter(col("__c") === 1)
      .groupBy(col("__owner").as("id"))
      .agg(count(lit(1)).as("n_unique"))
    perDoc.join(uniques, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_shingles").cast("long")
          .as("n_shingles"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        round(coalesce(col("n_unique"), lit(0L)) / col("n_shingles"), 6)
          .as("novelty"))
  }

  /** (id, shingles) frame with the token array materialized in its own
    * projection stage — see [[Text.shinglesFromTokens]] for why staging
    * matters (lambda bodies defeat CSE). */
  private def shingleFrame(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int): DataFrame =
    df.select(col(idCol).as("id"),
        split(lower(Text.normWs(col(textCol))), " ").as("__toks"))
      .select(col("id"),
        Text.shinglesFromTokens(col("__toks"), shingleN).as("shingles"))

  /** k deterministic 64-bit minhash slots over a shingle array column:
    * slot i is min over shingles of xxhash64(shingle, i). Delegates to
    * the native `minhash_sig` kernel — the k-array_min-transform form
    * runs k interpreted HOF passes per row (HOFs are never codegen'd). */
  def minhashSignatureFromShingles(sh: Column, k: Int): Column =
    graft.plans.MinHashSig.minhashSig(sh, k)

  /** (id, sig) minhash-signature frame, fully staged: tokens → shingles
    * → k-slot signature, each in its own projection. */
  def signatureFrame(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, k: Int): DataFrame =
    shingleFrame(df, idCol, textCol, shingleN)
      .select(col("id"), minhashSignatureFromShingles(col("shingles"), k).as("sig"))

  /** MinHash-LSH candidate pairs: signature → b bands of r hashes → hash
    * each band → explode → bucket-combine on (band, bandHash) → distinct
    * id pairs (a<b). Exactly the banding construction of Broder/MMDS
    * ch.3. One shuffle on band hash; bucket sizes bounded by banding,
    * not data size. */
  def lshCandidates(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 4): DataFrame =
    lshCandidatesFromSig(
      signatureFrame(df, idCol, textCol, shingleN, bands * rowsPerBand),
      bands, rowsPerBand)

  /** Distinct candidate id pairs (id_a < id_b) from a banded
    * (id, band, band_hash) frame, by bucket-and-combine instead of a
    * self-join: group by (band, band_hash), collect the member ids,
    * emit pairs from two codegen'd Generates. One shuffle, and the
    * upstream signature pipeline is evaluated ONCE — a self-join
    * evaluates it per side (AQE does not reuse the alias-twin
    * exchanges), a broadcast per side too. Shared by every LSH family
    * (minhash bands, hyperplane bands). The pre-join distinct pays for
    * itself: measured AGAINST deferring dedup past the verify filter —
    * shrinking the candidate set before the id-keyed joins beats
    * re-verifying the ~1.5x cross-band duplicates. */
  private def bucketPairs(banded: DataFrame): DataFrame = {
    val buckets = banded.groupBy("band", "band_hash")
      .agg(sort_array(collect_set(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    buckets
      .select(posexplode(col("ids")).as(Seq("i", "id_a")), col("ids"))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids"))))
          .as("id_b"))
      .distinct()
  }

  /** (id, band, band_hash) rows from an (id, sig) minhash-signature
    * frame — the banding projection shared by the self-dedup path
    * ([[lshCandidatesFromSig]]) and the cross-set path
    * ([[incrementalDedup]]). */
  private def minhashBands(sig: DataFrame,
      bands: Int, rowsPerBand: Int): DataFrame =
    sig.select(col("id"), posexplode(
      array((0 until bands).map { b =>
        xxhash64(concat_ws(",",
          slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)), lit(b))
      }: _*)).as(Seq("band", "band_hash")))

  /** Banding over an existing (id, sig) frame — lets callers that also
    * need the signatures elsewhere (e.g. [[minhashClusters]]) build
    * them once. */
  def lshCandidatesFromSig(sig: DataFrame,
      bands: Int, rowsPerBand: Int): DataFrame =
    bucketPairs(minhashBands(sig, bands, rowsPerBand))

  /** MinHash near-dup clusters: candidates filtered by estimated Jaccard
    * (fraction of equal minhash slots), then connected into clusters by
    * min-id propagation (single-pass star contraction: each doc joins to
    * the min id among its neighbors; adequate for near-dup groups, which
    * are cliques in practice). Returns (id, cluster_id). */
  def minhashClusters(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      minEstJaccard: Double = 0.7, transitive: Boolean = false): DataFrame = {
    val k = bands * rowsPerBand
    // The signature frame feeds three plan branches (banding + the two
    // id-keyed verify joins, which hash by different keys so no
    // exchange is reusable). Persist it: (id, k longs) per doc —
    // orders of magnitude smaller than the text it derives from, the
    // same trade Spark ML's MinHashLSH makes when it caches transformed
    // input. Spills to disk if it outgrows executor memory.
    val sig = tracked.persist(signatureFrame(
      Skew.fanOut(df, Seq(col(idCol)), fanOutMinBytes),
      idCol, textCol, shingleN, k))
    if (!transitive) clustersFromSig(sig, bands, rowsPerBand, minEstJaccard)
    else
      // exact closure for corpora where near-dup CHAINS matter
      // (progressive paraphrase drift): same verified edge set, closed
      // by iterative min-label propagation instead of the one-hop
      // min-neighbor contraction
      graft.operators.Graph.connectedComponents(
          sig.select(col("id")),
          verifiedEdges(sig, bands, rowsPerBand, minEstJaccard)
            .select(col("id_a"), col("id_b")))
        .withColumnRenamed("component_id", "cluster_id")
  }

  /** LSH candidates verified by estimated jaccard (fraction of equal
    * minhash slots): the edge set shared by the one-hop contraction
    * ([[clustersFromSig]]) and the transitive closure — one definition
    * so the two paths cannot silently diverge on the estimator.
    * Output: (id_a, id_b, est_jaccard). */
  private def verifiedEdges(sig: DataFrame, bands: Int, rowsPerBand: Int,
      minEstJaccard: Double): DataFrame = {
    val k = bands * rowsPerBand
    lshCandidatesFromSig(sig, bands, rowsPerBand)
      .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), _ === _),
          b => b)).cast("double") / lit(k.toDouble))
      .filter(col("est_jaccard") >= minEstJaccard)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Cluster contraction over an existing (id, sig) frame — the body of
    * [[minhashClusters]], split out so callers that already hold (and
    * persisted) the signatures ([[incrementalDedup]]'s within-batch
    * pass) don't pay a second shingle+minhash scan over the text. */
  private def clustersFromSig(sig: DataFrame, bands: Int, rowsPerBand: Int,
      minEstJaccard: Double): DataFrame = {
    val est = verifiedEdges(sig, bands, rowsPerBand, minEstJaccard)
    val edges = est.select(col("id_a"), col("id_b"))
      .union(est.select(col("id_b"), col("id_a")))
    val neighborMin = edges.groupBy(col("id_a").as("id"))
      .agg(min(col("id_b")).as("min_neighbor"))
    sig.select(col("id"))
      .join(neighborMin, Seq("id"), "left")
      .select(col("id"),
        least(col("id"), coalesce(col("min_neighbor"), col("id")))
          .as("cluster_id"))
  }

  /** End-to-end corpus dedup: exact (fingerprint) + near-dup (MinHash
    * clusters) composed; keeps one canonical doc per cluster (min id).
    * Returns the kept subset of the input frame. The standard
    * training-corpus cleaning step: at 100 TB both stages are
    * bucket-join shaped (no cross joins), and the final filter is a
    * broadcast-able semi-join on kept ids. */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      minEstJaccard: Double = 0.7): DataFrame = {
    // The exact-keep id set is tiny (one id per distinct text) and
    // feeds several branches below — persist it so the md5 fingerprint
    // aggregation over the full text runs exactly once. All filtering
    // joins are left_semi: they never widen rows with join-side
    // columns, and a semi join on a small id set broadcasts.
    val exactKeep = tracked.persist(exact(df, idCol, textCol)
      .select(col("canonical_id").as(idCol)))
    val exactKept = df.join(exactKeep, Seq(idCol), "left_semi")
    val clusters = minhashClusters(exactKept, idCol, textCol,
      shingleN, bands, rowsPerBand, minEstJaccard)
    val keep = clusters.filter(col("id") === col("cluster_id"))
      .select(col("id").as(idCol))
    // keep ⊆ exactKeep ids, so filtering the ORIGINAL frame by `keep`
    // equals filtering exactKept — and skips re-deriving exactKept
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** MinHash-LSH parameter planner: the smallest `(bands, rowsPerBand)`
    * under `maxSlots` total hash slots whose S-curve hits at least
    * `minRecall` at `threshold` — p(candidate | jaccard = s) is
    * 1 - (1 - s^r)^b, so recall rises with b and falls with r, while
    * precision (candidate suppression below the threshold) rises with
    * r. The planner scans r descending (most selective first) and takes
    * the first r whose minimal sufficient b fits the slot budget —
    * i.e. the most precise configuration that meets recall. Use it to
    * size [[minhashClusters]]/[[lshCandidates]] instead of folklore
    * constants; the returned recall/falsePositiveRate make the choice
    * auditable (fpRate = S-curve value at `fpJaccard`, default 0.3).
    * Pure arithmetic — no Spark. */
  def lshPlan(threshold: Double, minRecall: Double = 0.9,
      maxSlots: Int = 256, fpJaccard: Double = 0.3): LshPlan = {
    require(threshold > 0 && threshold < 1 && minRecall > 0 && minRecall < 1)
    def sCurve(s: Double, b: Int, r: Int): Double =
      1.0 - math.pow(1.0 - math.pow(s, r), b)
    val best = (for {
      r <- (maxSlots to 1 by -1).iterator
      // smallest b with recall >= minRecall at this r:
      // b >= ln(1-minRecall) / ln(1-threshold^r)
      pr = math.pow(threshold, r)
      if pr < 1.0 && pr > 0.0
      // double space until the budget check: the required b explodes
      // for selective r (0.5^256 needs ~1e77 bands) and would wrap Int
      bD = math.ceil(math.log1p(-minRecall) / math.log1p(-pr))
      if bD >= 1.0 && bD * r <= maxSlots
      b = bD.toInt
    } yield LshPlan(b, r, sCurve(threshold, b, r),
        sCurve(fpJaccard, b, r))).nextOption()
    best.getOrElse(throw new IllegalArgumentException(
      s"no (b,r) within $maxSlots slots reaches recall $minRecall at $threshold"))
  }

  final case class LshPlan(bands: Int, rowsPerBand: Int,
      recallAtThreshold: Double, fpRateAtLowJaccard: Double)

  /** Leakage-safe deterministic split: assign every document a
    * train/val/test bucket such that near-duplicates NEVER straddle a
    * split boundary. Naive per-doc hash splits leak — a test doc with a
    * near-duplicate in train is memorization measured as generalization
    * (the Lee et al. 2022 dedup motivation) — so the split key must be
    * the duplicate GROUP: near-dup pairs are transitively closed into
    * components ([[graft.operators.Graph.connectedComponents]]) and the
    * md5 bucket ([[graft.operators.Relational.withHashSplit]]) is taken
    * on the component id, putting every member of a dup group in the
    * same bucket. Output: (idCol, component_id, split_bucket).
    *
    * The default edge source is [[similarityJoin]] (PPJoin-style
    * prefix-filtered EXACT jaccard — the exact-at-scale path); any
    * (id_a, id_b) pair frame works via
    * [[leakageSafeSplitFromEdges]] — e.g. [[lshCandidates]] for
    * approximate-but-cheaper grouping, or [[embeddingNearDups]] for
    * semantic leakage. */
  def leakageSafeSplit(df: DataFrame, idCol: String, textCol: String,
      buckets: Int = 10, shingleN: Int = 3,
      minJaccard: Double = 0.8): DataFrame = {
    // r14 size gate on the EXACT edge builder: [[ngramJaccardPairs]]
    // (bucket-combine) and [[similarityJoin]] (PPJoin prefix filter)
    // produce the same edge set row-for-row at a positive threshold,
    // so the choice is pure cost. Below the gate the bucket-combine
    // wins — candidate volume is small and PPJoin's extra exchanges
    // (distinct, frequency join, per-doc window sort) are fixed
    // overhead (quiet A/B at sf0.1, mins of 3: 4.32 -> 2.49 s,
    // -42%); above it
    // the prefix filter's ~quadratic candidate suppression is what
    // survives 100 TB. Same bounded size probe as
    // [[leakageSafeSplitAuto]]; the split contract and the oracle
    // are unchanged either way.
    val small = df.limit(ppjoinMinDocs + 1).count() <= ppjoinMinDocs
    val edges =
      if (small) ngramJaccardPairs(df, idCol, textCol, shingleN, minJaccard)
      else similarityJoin(df, idCol, textCol, shingleN, minJaccard)
    leakageSafeSplitFromEdges(df, idCol,
      edges.select(col("id_a"), col("id_b")), buckets)
  }

  /** Doc-count knee between the bucket-combine exact join and the
    * PPJoin prefix-filtered one (see [[leakageSafeSplit]]). */
  private val ppjoinMinDocs = 200000

  /** [[leakageSafeSplit]] over a caller-supplied near-dup edge frame. */
  def leakageSafeSplitFromEdges(df: DataFrame, idCol: String,
      edges: DataFrame, buckets: Int): DataFrame = {
    val comp = graft.operators.Graph.connectedComponents(
      df.select(col(idCol).as("id")), edges)
    graft.operators.Relational.withHashSplit(comp,
        col("component_id"), buckets)
      .select(col("id").as(idCol), col("component_id"), col("split_bucket"))
  }

  /** MinHash-LSH near-dup edges verified by estimated jaccard — the
    * approximate, banded twin of [[similarityJoin]] for edge-frame
    * consumers ([[leakageSafeSplitFromEdges]] at corpus scale).
    * Candidate volume comes from (band, band_hash) equi-join keys that
    * scale with the data, never all-pairs; defaults (16 bands x 4
    * rows = 64 slots) put the banding recall knee near est jaccard
    * (1/16)^(1/4) ~ 0.5, i.e. recall ~0.9998 at the 0.8 near-dup
    * design point. Output: (id_a, id_b, est_jaccard); signatures are
    * persist-tracked — call [[releaseCaches]] after the consuming
    * action. */
  def lshVerifiedEdges(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      minEstJaccard: Double = 0.8): DataFrame = {
    val sig = tracked.persist(signatureFrame(
      Skew.fanOut(df, Seq(col(idCol))),
      idCol, textCol, shingleN, bands * rowsPerBand))
    verifiedEdges(sig, bands, rowsPerBand, minEstJaccard)
  }

  /** Size-gated [[leakageSafeSplit]] — the same exact-below / banded-
    * above contract as the Spearman matrix and BPE trainer gates: the
    * PPJoin exact edge build below `maxExactDocs` documents (zero
    * false-negative edges, oracle-verifiable), [[lshVerifiedEdges]]
    * above (the 100 TB shape). The LSH path verifies at
    * `minJaccard - estimatorSlack`: with k = bands*rowsPerBand slots
    * the jaccard estimator's std at s=0.8 is ~sqrt(s(1-s)/64) ~ 0.05,
    * and the two error directions are NOT symmetric for split duty —
    * a false-positive edge only coarsens the split (merges two
    * components; still leakage-free), a false-negative edge can leak a
    * near-dup pair across buckets — so the verify threshold errs 2
    * sigma low. Residual straddle risk vs the exact split is measured
    * by q_leakage_gate and floored in RecallGatesSpec. The size probe
    * is limit(maxExactDocs+1).count() — bounded work independent of
    * corpus size. */
  def leakageSafeSplitAuto(df: DataFrame, idCol: String, textCol: String,
      buckets: Int = 10, shingleN: Int = 3, minJaccard: Double = 0.8,
      maxExactDocs: Int = 100000, bands: Int = 16, rowsPerBand: Int = 4,
      estimatorSlack: Double = 0.1): DataFrame = {
    val small = df.limit(maxExactDocs + 1).count() <= maxExactDocs
    if (small) leakageSafeSplit(df, idCol, textCol, buckets, shingleN, minJaccard)
    else leakageSafeSplitFromEdges(df, idCol,
      lshVerifiedEdges(df, idCol, textCol, shingleN, bands, rowsPerBand,
          math.max(0.0, minJaccard - estimatorSlack))
        .select(col("id_a"), col("id_b")), buckets)
  }

  /** Embedding-cosine near-duplicate pairs: banded hyperplane-LSH
    * candidate generation, exact cosine verify, threshold filter. The
    * vector-space sibling of [[lshCandidates]] (cf. SURVEY north star:
    * "embedding-cosine near-dup").
    *
    * Banding (b bands of r sign bits; a pair is a candidate iff some
    * band's r bits all agree) is what makes this survive 100 TB: a
    * single 2^nBits table has only 2^nBits distinct join keys — at
    * nBits small enough for recall that means ~N²/2^nBits within-bucket
    * pairs AND ≤2^nBits-way join parallelism. With bands, bucket
    * cardinality is b·2^r (keys scale with data via the hash values),
    * candidate volume ~ b·N²·p̄^r for mean bit-agreement p̄, and recall
    * at cosine c is 1-(1-p(c)^r)^b with p(c) = 1 - arccos(c)/π — tune
    * r up for pruning, b up for recall. Defaults (16×12, 192 planes)
    * put the recall knee at p ≈ (1/b)^(1/r) ≈ 0.79, i.e. cosine ≈ 0.8
    * — the near-dup regime. For LOW thresholds (< ~0.6) sign-LSH
    * cannot prune (random pairs agree per bit with p = 0.5); use fewer
    * bits per band for recall and expect candidate volume to approach
    * all-pairs — exact territory, same gating note as
    * [[ngramJaccardPairs]] vs [[lshCandidates]].
    *
    * Candidates carry only ids; vectors are re-attached by two id-keyed
    * joins, so buckets never shuffle vector payloads. */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double = 0.95, bands: Int = 16, bitsPerBand: Int = 12,
      dim: Int = 64, seed: Long = 42L): DataFrame = {
    val ps = graft.llm.Similarity.planes(bands * bitsPerBand, dim, seed)
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val banded = graft.llm.Similarity.bandedSignatures(
      vecs, "id", "v", ps, bands, bitsPerBand)
    bucketPairs(banded)
      .join(vecs.select(col("id").as("id_a"), col("v").as("va")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb")), "id_b")
      .withColumn("cosine",
        graft.plans.VectorExpressions.cosineSim(col("va"), col("vb")))
      .filter(col("cosine") >= minCosine)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Ingest-time incremental dedup: keep only the docs of `newDocs`
    * that duplicate neither the existing `corpus` nor each other —
    * exact (fingerprint) first, then near-dup (MinHash estimated
    * jaccard >= minEstJaccard). The production ingestion contract:
    * dedup each incoming batch against the already-kept corpus
    * WITHOUT re-clustering the corpus.
    *
    * 100 TB shape: the corpus side reduces to distinct fingerprints
    * (16 bytes/doc) and minhash band hashes (bands x 8 bytes/doc) —
    * its text is read once and never shuffled; batch-vs-corpus
    * candidates come from a (band, band_hash) equi-join exactly like
    * the self-dedup banding, and all filtering joins are
    * semi/anti-joins on doc ids. This one-shot convenience derives the
    * corpus fingerprints/signatures inline (persist-tracked, see
    * [[releaseCaches]]); ingest loops MUST instead build the state once
    * via [[corpusDedupStateFor]] and feed batches through
    * [[incrementalDedupWithState]], so per-batch cost excludes the
    * corpus text scan entirely. */
  def incrementalDedup(newDocs: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3, bands: Int = 8,
      rowsPerBand: Int = 4, minEstJaccard: Double = 0.7): DataFrame = {
    val st = CorpusDedupState(
      tracked.persist(corpus.select(Text.fingerprint(col(textCol)).as("fp"))
        .distinct()),
      tracked.persist(signatureFrame(corpus, idCol, textCol, shingleN,
        bands * rowsPerBand)),
      shingleN, bands, rowsPerBand)
    // materialize before use: cSig feeds the banding AND the verify
    // join — un-materialized, each reference re-inlines the corpus
    // text-scan subtree into the plan tree (trees, not DAGs)
    st.fingerprints.count(); st.signatures.count()
    incrementalDedupWithState(newDocs, st, idCol, textCol, minEstJaccard)
  }

  /** Persisted per-corpus dedup state: the distinct exact fingerprints
    * and the minhash signature frame of the already-kept corpus — the
    * ONLY two corpus derivatives [[incrementalDedupWithState]] needs.
    * ~16 bytes + k×8 bytes per doc; the corpus TEXT is scanned once at
    * build time and never again across batches. */
  final case class CorpusDedupState(fingerprints: DataFrame,
      signatures: DataFrame, shingleN: Int, bands: Int, rowsPerBand: Int)

  /** Registry of built corpus states, keyed by caller-supplied corpus
    * identity + banding geometry. Same contract as
    * [[Similarity.ivfIndexFor]]: `cacheKey` must identify corpus
    * CONTENT — if the data behind a key changes (appended batch
    * accepted into the corpus), use a new key or [[invalidateCorpusState]]
    * first, else batches dedup against a stale snapshot. */
  private val corpusStates = scala.collection.concurrent.TrieMap
    .empty[(String, Int, Int, Int), CorpusDedupState]

  def corpusDedupStateFor(corpus: DataFrame, idCol: String,
      textCol: String, cacheKey: String, shingleN: Int = 3,
      bands: Int = 8, rowsPerBand: Int = 4): CorpusDedupState =
    corpusStates.getOrElseUpdate((cacheKey, shingleN, bands, rowsPerBand),
      buildCorpusDedupState(corpus, idCol, textCol, shingleN, bands,
        rowsPerBand))

  /** Build (and persist, UNtracked — lifecycle owned by the registry
    * caller, not [[releaseCaches]]) the two corpus derivative frames.
    * Both are materialized eagerly so the first batch already serves
    * from the cache instead of racing three plan branches into the
    * same un-materialized persist. */
  def buildCorpusDedupState(corpus: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, bands: Int = 8,
      rowsPerBand: Int = 4): CorpusDedupState = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val fp = corpus.select(Text.fingerprint(col(textCol)).as("fp"))
      .distinct().persist(lvl)
    val sig = signatureFrame(corpus, idCol, textCol, shingleN,
      bands * rowsPerBand).persist(lvl)
    fp.count(); sig.count()
    CorpusDedupState(fp, sig, shingleN, bands, rowsPerBand)
  }

  /** Unpersist a state's cached/checkpointed frames. Call when a state
    * object is retired outside the registry (e.g. the final state held
    * by a stopped ingest stream); registry-held states are released by
    * [[invalidateCorpusState]]/[[clearCorpusStateCache]] instead. */
  def releaseCorpusState(st: CorpusDedupState): Unit = {
    // releaseFrame, not Dataset.unpersist: after the first
    // extendCorpusDedupState these frames are localCheckpoints, whose
    // blocks Dataset.unpersist does NOT free (see Bridge.releaseFrame)
    org.apache.spark.sql.graft.Bridge.releaseFrame(st.fingerprints)
    org.apache.spark.sql.graft.Bridge.releaseFrame(st.signatures)
  }

  /** Drop every registry state built under `cacheKey` (all geometry
    * variants) and unpersist its frames. Call when the corpus behind
    * the key changes (e.g. a batch was accepted) or is retired. */
  def invalidateCorpusState(cacheKey: String): Unit =
    corpusStates.keys.filter(_._1 == cacheKey).foreach { k =>
      corpusStates.remove(k).foreach(releaseCorpusState)
    }

  /** Evict the whole corpus-state registry (between jobs / suites). */
  def clearCorpusStateCache(): Unit =
    corpusStates.keys.foreach { k =>
      corpusStates.remove(k).foreach(releaseCorpusState)
    }

  /** Extend corpus state with an accepted batch WITHOUT rescanning the
    * corpus: union the batch's fingerprint/signature rows onto the
    * state frames and localCheckpoint (eager, lineage-free — the chain
    * stays flat across thousands of micro-batches instead of nesting
    * one union per batch), then unpersist the superseded frames. Batch
    * fingerprints need no re-distinct: accepted docs passed the exact
    * anti-join, so their fingerprints are new and unique. The returned
    * state REPLACES `st` (its frames are released); keep using the old
    * reference only if you skip the release by rebuilding instead. */
  def extendCorpusDedupState(st: CorpusDedupState, accepted: DataFrame,
      idCol: String, textCol: String): CorpusDedupState = {
    val k = st.bands * st.rowsPerBand
    val fp = st.fingerprints
      .union(accepted.select(Text.fingerprint(col(textCol)).as("fp")))
      .localCheckpoint()
    val sig = st.signatures
      .union(signatureFrame(accepted, idCol, textCol, st.shingleN, k))
      .localCheckpoint()
    org.apache.spark.sql.graft.Bridge.releaseFrame(st.fingerprints)
    org.apache.spark.sql.graft.Bridge.releaseFrame(st.signatures)
    CorpusDedupState(fp, sig, st.shingleN, st.bands, st.rowsPerBand)
  }

  /** [[incrementalDedup]] against pre-built corpus state: per-batch
    * cost scales with the BATCH alone — the corpus contributes only
    * its cached fingerprint/signature frames (no text rescan). This is
    * the production per-batch entry point; pair with
    * [[corpusDedupStateFor]] for build-once/ingest-many and
    * [[extendCorpusDedupState]] to absorb accepted batches. */
  def incrementalDedupWithState(newDocs: DataFrame,
      state: CorpusDedupState, idCol: String, textCol: String,
      minEstJaccard: Double = 0.7): DataFrame = {
    val CorpusDedupState(cFp, cSig, shingleN, bands, rowsPerBand) = state
    val k = bands * rowsPerBand
    // ONE batch text scan → (id, fp, sig), eagerly materialized. The
    // frame is batch-sized by the ingest contract, so the persist is
    // small; every downstream branch then reads the in-memory rows.
    // Without the break, Spark's tree-shaped plans re-inline the
    // text-scan subtree into every one of the ~10 downstream joins —
    // measured 1,400-line physical plan / 91 jobs per batch, vs ~20
    // jobs with the three batch-sized seams materialized.
    val bState = tracked.persist(newDocs
      .select(col(idCol).as("id"),
        Text.fingerprint(col(textCol)).as("fp"),
        split(lower(Text.normWs(col(textCol))), " ").as("__toks"))
      .select(col("id"), col("fp"),
        Text.shinglesFromTokens(col("__toks"), shingleN).as("shingles"))
      .select(col("id"), col("fp"),
        minhashSignatureFromShingles(col("shingles"), k).as("sig")))
    bState.count()
    // exact: batch self-dedup (min id per fingerprint), then drop
    // fingerprints the corpus already holds
    val exactKeep = bState.groupBy("fp").agg(min(col("id")).as("id"))
      .join(cFp, Seq("fp"), "left_anti")
      .select("id")
    // signatures of the exact survivors (second materialized seam:
    // feeds the banding, the estimated-jaccard verify, and the
    // within-batch clustering)
    val sigKept = tracked.persist(bState.select("id", "sig")
      .join(exactKeep, Seq("id"), "left_semi"))
    sigKept.count()
    // near vs corpus: cross-set banding (batch bands join corpus bands)
    val cands = minhashBands(sigKept, bands, rowsPerBand)
      .withColumnRenamed("id", "id_new")
      .join(minhashBands(cSig, bands, rowsPerBand)
        .withColumnRenamed("id", "id_old"), Seq("band", "band_hash"))
      .select("id_new", "id_old").distinct()
    val flagged = cands
      .join(sigKept.select(col("id").as("id_new"), col("sig").as("sig_n")),
        "id_new")
      .join(cSig.select(col("id").as("id_old"), col("sig").as("sig_o")),
        "id_old")
      .filter(size(filter(zip_with(col("sig_n"), col("sig_o"), _ === _),
        b => b)).cast("double") / lit(k.toDouble) >= minEstJaccard)
      .select(col("id_new").as("id")).distinct()
    // near within the batch: standard cluster contraction over the
    // corpus-pass survivors (third seam — clustersFromSig reads its
    // input from three plan branches)
    val keptSig = tracked.persist(
      sigKept.join(flagged, Seq("id"), "left_anti"))
    keptSig.count()
    val clusters = clustersFromSig(keptSig, bands, rowsPerBand,
      minEstJaccard)
    val keep = clusters.filter(col("id") === col("cluster_id"))
      .select(col("id").as(idCol))
    newDocs.join(keep, Seq(idCol), "left_semi")
  }

  /** Semantic dedup (the SemDeDup shape, Abbas et al. 2023): k-means
    * partition of embedding space, exact cosine pairs computed WITHIN
    * each cluster only, then every near-dup group keeps its min-id
    * member. Returns the kept subset of `df` — the embedding-space
    * sibling of [[dedupCorpus]].
    *
    * Scale shape: the cluster assignment bounds the quadratic — pair
    * candidates are ~N²/nlist instead of N² (SemDeDup's core trick),
    * the within-cluster pair join is an equi-join on list_id, and
    * group contraction is the same min-neighbor map as
    * [[minhashClusters]] (near-dup groups are cliques in practice).
    * Pairs straddling a cluster boundary are missed BY DESIGN — banded
    * LSH ([[embeddingNearDups]]) is the recall-tunable alternative;
    * this is the cheap cluster-then-sweep used on billion-scale
    * corpora. The assignment frame is persist-tracked (see
    * [[releaseCaches]]): it feeds both sides of the pair join.
    *
    * `nlist` MUST scale with the corpus: it bounds candidates
    * (~N²/nlist) AND caps the pair-join parallelism (the join key has
    * exactly nlist distinct values — SemDeDup itself runs ~11k
    * clusters for 100M docs). Rule of thumb: nlist >= max(cluster
    * cores, N/50k). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double = 0.95, nlist: Int = 16,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val feats = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      array_to_vector(graft.functions.Vectors.asDouble(col(vecCol)))
        .as("__features"))
    // random init + capped iterations, same rationale as the IVF
    // quantizer: cells only need to be balanced-ish, not optimal
    val km = new org.apache.spark.ml.clustering.KMeans()
      .setK(nlist).setSeed(seed).setFeaturesCol("__features")
      .setInitMode("random").setMaxIter(10)
      .setPredictionCol("list_id")
    val side = tracked.persist(
      km.fit(feats).transform(feats).select(col("list_id"), col("id"),
        col("v")))
    val close = side.select(col("list_id"), col("id").as("id_a"),
        col("v").as("va"))
      .join(side.select(col("list_id"), col("id").as("id_b"),
        col("v").as("vb")), "list_id")
      .filter(col("id_a") < col("id_b"))
      .filter(graft.plans.VectorExpressions.cosineSim(col("va"), col("vb"))
        >= minCosine)
      .select("id_a", "id_b")
    val edges = close.union(close.select(col("id_b").as("id_a"),
      col("id_a").as("id_b")))
    val neighborMin = edges.groupBy(col("id_a").as("id"))
      .agg(min(col("id_b")).as("min_neighbor"))
    val keep = df.select(col(idCol).as("id"))
      .join(neighborMin, Seq("id"), "left")
      .filter(col("id") <= coalesce(col("min_neighbor"), col("id")))
      .select(col("id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** 64-bit SimHash over a token-hash array column: bit j of the
    * signature is the majority vote of bit j across the hashes.
    * Delegates to the native `simhash64` kernel — the HOF formulation
    * (64 aggregate lambdas) is never codegen'd by Spark and measured
    * ~150x slower. */
  def simhashFromHashes(hashes: Column): Column =
    graft.plans.VectorExpressions.simhash64(hashes)

  /** (id, simhash) frame, staged so tokenization+hashing runs once per
    * row. */
  def simhashFrame(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), Text.tokens(lower(col(textCol))).as("__toks"))
      .select(col("id"), transform(col("__toks"), t => xxhash64(t)).as("__h"))
      .select(col("id"), simhashFromHashes(col("__h")).as("simhash"))

  /** Column form of simhash — convenience for single-use contexts. */
  def simhash(text: Column): Column =
    simhashFromHashes(transform(Text.tokens(lower(text)), t => xxhash64(t)))

  /** Winnowing-overlap pairs (MOSS): docs sharing >= minShared winnowed
    * fingerprints. Detects PARTIAL overlap (any shared substring of
    * length >= w+k-1 yields a common fingerprint) — the copied-passage
    * detector that whole-doc fingerprints miss. Staged projections per
    * the lambda-CSE rule; candidate generation is the usual
    * shared-fingerprint equi-join. */
  def winnowedOverlapPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, minShared: Int = 2): DataFrame = {
    val fps = df
      .select(col(idCol).as("id"), lower(Text.normWs(col(textCol))).as("__norm"))
      .select(col("id"),
        explode(graft.plans.Winnow.winnowFp(col("__norm"), k, w)).as("fp"))
    val inter = fps.select(col("fp"), col("id").as("id_a"))
      .join(fps.select(col("fp"), col("id").as("id_b")), "fp")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
    inter.filter(col("n_shared") >= minShared)
  }

  /** SimHash near-duplicate pairs with hamming distance <= maxHamming,
    * by pigeonhole banding: split the 64-bit signature into
    * (maxHamming+1) blocks — any pair within distance d must agree on
    * at least one block — join per block (equi-join on the 16-ish-bit
    * block value), then verify with the native hamming64 kernel. No
    * cross join; candidate volume is bounded by block-collision rate.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    simhashNearDupsFromSig(simhashFrame(df, idCol, textCol), maxHamming)

  /** Banding over an existing (id, simhash) frame — any 64-bit
    * signature source works (text simhash, [[graft.llm.Multimodal]]
    * payload simhash, ...). */
  def simhashNearDupsFromSig(sig: DataFrame, maxHamming: Int): DataFrame = {
    val blocks = maxHamming + 1
    val width = 64 / blocks
    val banded = sig.select(col("id"), col("simhash"), posexplode(
      array((0 until blocks).map { b =>
        // block b: bits [b*width, (b+1)*width) (last block takes the rest)
        val lo = b * width
        val w = if (b == blocks - 1) 64 - lo else width
        val mask = if (w == 64) -1L else (1L << w) - 1L
        shiftrightunsigned(col("simhash"), lo).bitwiseAND(lit(mask))
      }: _*)).as(Seq("block", "block_val")))
    // Bucket-and-combine instead of a self-join (see
    // [[lshCandidatesFromSig]]): one shuffle on (block, block_val),
    // the simhash kernel pipeline evaluated once, pairs from two
    // codegen'd Generates inside each bucket. sort_array on the
    // (id, simhash) structs orders by id, giving id_a < id_b.
    val buckets = banded.groupBy("block", "block_val")
      .agg(sort_array(collect_set(struct(col("id"), col("simhash"))))
        .as("xs"))
      .filter(size(col("xs")) > 1)
    buckets
      .select(posexplode(col("xs")).as(Seq("i", "a")), col("xs"))
      .select(col("a"),
        explode(slice(col("xs"), col("i") + lit(2), size(col("xs"))))
          .as("b"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        graft.plans.VectorExpressions.hamming64(col("a.simhash"),
          col("b.simhash")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact n-gram Jaccard similarity for all pairs sharing >=1 shingle:
    * explode distinct shingles → self-join on shingle → count
    * intersections → join per-doc shingle counts → |A∩B| / (|A|+|B|-|A∩B|).
    * The shared-shingle join IS the candidate filter (no cross join).
    * For 100 TB use [[lshCandidates]] first and run this only on survivors.
    *
    * `maxDocFreq` is the 100 TB skew valve: a shingle shared by m docs
    * emits m(m-1)/2 pairs, so one stop-phrase shingle with df=10^6
    * alone would emit 5x10^11 pairs. Dropping buckets with df >
    * maxDocFreq bounds any single bucket's fan-out; intersection
    * counts then miss those near-universal shingles, making the
    * reported jaccard a tight LOWER bound (high-df shingles carry ~no
    * similarity signal — the winnowing/MinHash literature drops them
    * routinely). The default keeps exact semantics. */
  /** (id, shingle-hash) rows, with duplicates (a doc repeating a
    * shingle yields repeated rows — dedupe downstream where the shuffle
    * already happens). Shingle rows are produced by exploding window
    * POSITIONS and building each shingle string after the explode —
    * measured ~20x faster than exploding a pre-built shingle-array
    * column (a staged array column collapsed into the Generate
    * re-evaluates the whole array construction pathologically). The
    * 64-bit hash keeps every downstream shuffle key at 8 bytes. */
  /** THE explode-positions n-gram staging (shared by the shingle, span
    * and DSIR pipelines): tokenize once, explode window START positions
    * (cheap ints), build each n-gram string AFTER the explode. One
    * place so the staging idiom can't drift across the three hashing
    * flavors. Output: (id, pos, gram), pos 1-based. */
  private[llm] def ngramRows(df: DataFrame, idCol: String, textCol: String,
      n: Int, lowercase: Boolean): DataFrame = {
    val base =
      if (lowercase) lower(Text.normWs(col(textCol)))
      else Text.normWs(col(textCol))
    val toks = df.select(col(idCol).as("id"), split(base, " ").as("t"))
    val starts = when(size(col("t")) >= n,
      sequence(lit(1), size(col("t")) - (n - 1))).otherwise(array())
    toks
      .select(col("id"), col("t"), explode(starts).as("pos"))
      .select(col("id"), col("pos"),
        concat_ws(" ", slice(col("t"), col("pos"), lit(n))).as("gram"))
  }

  private def shingleHashRows(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int): DataFrame =
    ngramRows(df, idCol, textCol, shingleN, lowercase = true)
      .select(col("id"), xxhash64(col("gram")).as("shingle"))

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, minJaccard: Double = 0.0,
      maxDocFreq: Int = Int.MaxValue): DataFrame = {
    // Persisted: the shingle rows feed two aggregation branches (per-doc
    // counts, per-shingle buckets) that hash by different keys, so
    // nothing is exchange-reusable — without the persist the whole
    // tokenize+hash pipeline runs twice. (id, hash) rows are ~an order
    // smaller than the text; spills to disk if bigger than memory.
    val sh = tracked.persist(shingleHashRows(
      Skew.fanOut(df, Seq(col(idCol))), idCol, textCol, shingleN))
    // No pre-distinct: collect_set / count_distinct dedupe within the
    // same shuffle that builds the buckets, saving a full (id, shingle)
    // exchange. Intersections via bucket-and-combine instead of a
    // self-join: one shuffle keyed by shingle hash, then pairs from two
    // codegen'd Generates (posexplode + explode over the sorted tail) —
    // measured ~2.5x faster cold than nested transform/flatten, which
    // builds each bucket's O(m^2) pair array in interpreted eval. A
    // self-join shape would run the shingle pipeline 4x.
    val counts = sh.groupBy("id").agg(count_distinct(col("shingle")).as("n_sh"))
    // pinWide: the bucket aggregate's exchange carries only (hash, id)
    // rows, so AQE coalesces it to ~1 task — but the SAME stage then
    // runs the pair Generates and the intersection-count partials,
    // which are the expensive part of the whole query
    val buckets = Skew.pinWide(sh, col("shingle")).groupBy("shingle")
      .agg(sort_array(collect_set(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxDocFreq)
    val pairs = buckets
      .select(posexplode(col("ids")).as(Seq("i", "id_a")), col("ids"))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids"))))
          .as("id_b"))
    val inter = pairs.groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_inter"))
    // No broadcast hint: AQE picks broadcast when counts is small; at
    // billion-doc scale both sides are large and must shuffle-join.
    inter
      .join(counts.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(counts.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("jaccard", round(col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")).cast("double"), 6))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Prefix-filtered exact similarity join (the PPJoin/AllPairs prefix
    * principle: two sets with Jaccard >= t must share an element within
    * each one's first |d| - ceil(t*|d|) + 1 shingles under a global
    * canonical order). Shingles are ordered rarest-first (ascending
    * document frequency), so the prefixes that generate candidates are
    * the most selective shingles — candidate volume drops by ~the
    * square of the prefix fraction vs the all-shared-shingles join in
    * [[ngramJaccardPairs]]. Candidates are then verified EXACTLY with
    * an array intersection over the full shingle sets, so the output
    * equals `ngramJaccardPairs(minJaccard = t)` row-for-row.
    *
    * The 100 TB shape for near-dup detection at high thresholds: at
    * t=0.8 only ~20% of each doc's shingles generate candidates, and
    * the frequency ordering puts stop-shingles last so hot buckets
    * never form. All shuffles stay keyed by 8-byte hashes or doc ids. */
  def similarityJoin(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, minJaccard: Double = 0.8): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      "prefix filtering needs a positive threshold; use ngramJaccardPairs for full output")
    import org.apache.spark.sql.expressions.Window
    // distinct (id, shingle) rows feed three branches (frequency agg,
    // ranking, verify sets) — persist, same trade as ngramJaccardPairs
    val sh = tracked.persist(shingleHashRows(
      Skew.fanOut(df, Seq(col(idCol))), idCol, textCol, shingleN).distinct())
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    // pinWide on the three CPU-dense post-exchange stages (ranking
    // windows, prefix-bucket pair expansion, set-build + verify): all
    // three exchanges carry id/hash-width rows that AQE coalesces to
    // ~1 task, serializing the sorts, Generates and array
    // intersections that dominate this query's cost
    val ranked = Skew.pinWide(sh.join(freq, "shingle"), col("id"))
      .withColumn("r", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("shingle"))))
      .withColumn("n_sh", count(lit(1)).over(Window.partitionBy("id")))
    // prefix length = n - ceil(t*n) + 1, with an epsilon inside the
    // ceil so FP noise near integer t*n errs toward a LONGER prefix
    // (never a false negative; floor((1-t)*n) naively computes
    // floor(0.1999...96*n) for t=0.8 and silently drops one slot)
    val prefix = ranked.filter(col("r") <=
      col("n_sh") - ceil(lit(minJaccard) * col("n_sh") - lit(1e-9)) + 1)
    val buckets = Skew.pinWide(prefix, col("shingle")).groupBy("shingle")
      .agg(sort_array(collect_set(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    val cands = buckets
      .select(posexplode(col("ids")).as(Seq("i", "id_a")), col("ids"))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids"))))
          .as("id_b"))
      .distinct()
    // the stream-side set build is also the stage that executes both
    // broadcast verify joins AND the array_intersect projection —
    // the single most expensive stage of the query (measured 1.4 s as
    // one AQE-coalesced task at sf0.1)
    val sets = Skew.pinWide(sh, col("id")).groupBy("id")
      .agg(sort_array(collect_set(col("shingle"))).as("set"))
    cands
      .join(sets.select(col("id").as("id_a"), col("set").as("sa")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("set").as("sb")), "id_b")
      .withColumn("n_inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", round(col("n_inter").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("n_inter")).cast("double"), 6))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Map-only contamination SCREEN: like [[contamination]] but the eval
    * set's distinct shingle hashes are folded into a bloom filter
    * (driver-materialized, rides to executors as a literal), so the
    * corpus side is a pure projection — NO shuffle of the 100 TB side
    * at all, versus the exact join's shingle-keyed exchange. The
    * reported fraction is an UPPER bound (bloom false positives, ~1%
    * at the default 8 bits/item): screen cheaply, then run the exact
    * [[contamination]] join only on the flagged docs.
    *
    * Output: (idCol, n_shingles, est_contamination). */
  def contaminationScreen(df: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3,
      expectedShingles: Long = 10000000L): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.types.BinaryType
    val numBits = math.min(8L * expectedShingles, 8L * 64 * 1024 * 1024)
    val evalSh = shingleHashRows(evalSet, idCol, textCol, shingleN)
    val bloomAgg = Bridge.toColumn(
      new BloomFilterAggregate(
        Bridge.toExpression(col("shingle")),
        Literal(expectedShingles), Literal(numBits)).toAggregateExpression())
    val bytes = evalSh.agg(bloomAgg.as("__bf")).head().getAs[Array[Byte]](0)
    def hit(x: Column): Column =
      if (bytes == null) lit(false)
      else Bridge.toColumn(BloomFilterMightContain(
        Literal(bytes, BinaryType), Bridge.toExpression(x)))
    df.select(col(idCol),
        Text.shinglesFromTokens(
          split(lower(Text.normWs(col(textCol))), " "), shingleN)
          .as("__sh"))
      .select(col(idCol),
        transform(col("__sh"), s => xxhash64(s)).as("__h"))
      .select(col(idCol),
        size(col("__h")).as("n_shingles"),
        size(filter(col("__h"), h => hit(h))).as("__hits"))
      .filter(col("n_shingles") > 0)
      .select(col(idCol), col("n_shingles"),
        round(col("__hits").cast("double") / col("n_shingles"), 6)
          .as("est_contamination"))
  }

  /** Cross-corpus contamination (train/test decontamination): for each
    * doc in `test`, the fraction of its distinct word n-gram shingles
    * that also occur anywhere in `corpus` — the overlap check run
    * before evaluating on held-out data (cf. GPT-3/PaLM appendix-style
    * n-gram decontamination). Output: (idCol, n_shingles,
    * n_contaminated, contamination in [0,1]).
    *
    * Scale shape: one shuffle keyed by the 8-byte shingle hash; the
    * corpus side is pre-aggregated to distinct shingles (map-side
    * combine) so the join carries one row per distinct corpus shingle,
    * not per occurrence. */
  def contamination(test: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3): DataFrame = {
    val t = shingleHashRows(test, idCol, textCol, shingleN).distinct()
    val c = shingleHashRows(corpus, idCol, textCol, shingleN)
      .select(col("shingle")).distinct()
      .withColumn("__hit", lit(1))
    t.join(c, Seq("shingle"), "left")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0))).as("n_contaminated"),
        round(sum(coalesce(col("__hit"), lit(0))).cast("double") /
          count(lit(1)), 6).as("contamination"))
  }

  /** (id, pos, h) token n-gram rows WITH start positions (1-based, in
    * the whitespace-token sequence of the normalized text) — the
    * position-carrying sibling of [[shingleHashRows]], for span-level
    * work where WHERE a window sits matters, not just that it exists.
    * Same explode-positions-then-hash staging (see shingleHashRows). */
  private def spanHashRows(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    // case-SENSITIVE grams: span dedup rewrites the original text, so
    // "The cat" and "the cat" are different spans. TWO independent
    // 64-bit hashes (the second salted) form an effective 128-bit key:
    // span dedup DELETES text, and at ~1e12 windows (100 TB) single
    // 64-bit birthday collisions are expected (~3%/group at 2^32
    // distinct) and would falsely excise spans from innocent documents;
    // at 128 bits the collision odds are ~1e-14 — accepted. Costs 8
    // extra bytes per window row in the count shuffle.
    ngramRows(df, idCol, textCol, n, lowercase = false)
      .select(col("id"), col("pos"), xxhash64(col("gram")).as("h"),
        xxhash64(lit("graft-span-h2"), col("gram")).as("h2"))

  /** Repeated-substring detection at token-n-gram granularity (the
    * primitive behind exact substring dedup, Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" —
    * arXiv:2107.06499 — which removes >=50-token substrings occurring
    * more than once in the corpus). Suffix arrays don't distribute;
    * the standard scale-out approximation is fixed-n windows: a
    * duplicated substring of length L >= n appears as a run of
    * L - n + 1 consecutive duplicated window starts, so maximal runs
    * recover the span boundaries exactly (up to n-1 tokens of slack at
    * the ends for partial windows).
    *
    * Occurrences are counted with multiplicity (a span repeated within
    * ONE doc counts), matching Lee et al.'s definition. Output: one row
    * per maximal duplicated span, (id, start_tok, end_tok, n_tokens),
    * token positions 1-based inclusive.
    *
    * Scale shape: the occurrence count is a map-side-combined hash agg
    * on the 128-bit (dual 64-bit) window hash; flagging joins it back
    * keyed by the same pair (1:1 per window row — no pair fan-out, unlike the
    * similarity joins); run-merging is a per-doc window (partitioned by
    * id — parallelism = corpus size). `maxOcc` is the stop-phrase
    * valve: hashes above it (ubiquitous n-grams) are ignored the same
    * way `maxDocFreq` drops hot shingles in [[ngramJaccardPairs]]. */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 20, minOcc: Int = 2,
      maxOcc: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = tracked.persist(spanHashRows(df, idCol, textCol, n))
    val dup = rows.groupBy("h", "h2").agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= minOcc && col("occ") <= maxOcc)
      .select("h", "h2")
    val flagged = rows.join(dup, Seq("h", "h2")).select("id", "pos")
    val w = Window.partitionBy("id").orderBy("pos")
    flagged
      .withColumn("__brk",
        when(col("pos") - lag(col("pos"), 1).over(w) === 1, 0).otherwise(1))
      .withColumn("__grp", sum(col("__brk")).over(w))
      .groupBy(col("id"), col("__grp"))
      .agg(min(col("pos")).as("start_tok"),
        (max(col("pos")) + n - 1).as("end_tok"))
      .select(col("id"), col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok") + 1).as("n_tokens"))
  }

  /** Remove duplicated spans, keeping ONE occurrence corpus-wide (Lee
    * et al. removal policy at token granularity): for every duplicated
    * window hash the occurrence with the globally smallest (id, pos)
    * is the keeper; tokens covered by any NON-keeper duplicated window
    * are dropped and the document is reassembled from the survivors.
    * Output: (id, clean_text, n_tokens, n_tokens_removed).
    *
    * Scale shape: this one rewrites text at token granularity, so it
    * pays two token-level exchanges (covered-position anti-join keyed
    * by (id, pos), then the id-keyed reassembly) — inherent to exact
    * span surgery, the same trade [[Lines.stripBoilerplate]] makes at
    * line granularity. Everything upstream of those joins carries only
    * (16-byte dual hash, id, int pos). Text is normalized (whitespace
    * collapse) by reconstruction. */
  def removeRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 20, minOcc: Int = 2,
      maxOcc: Int = Int.MaxValue): DataFrame = {
    val rows = tracked.persist(spanHashRows(df, idCol, textCol, n))
    val dupKeeper = rows.groupBy("h", "h2")
      .agg(count(lit(1)).as("occ"),
        min(struct(col("id"), col("pos"))).as("keep"))
      .filter(col("occ") >= minOcc && col("occ") <= maxOcc)
      .select("h", "h2", "keep")
    // non-keeper duplicated window starts -> the token positions they
    // cover; sequence explode multiplies rows by n but each row is
    // (id, int) — no text
    val covered = rows.join(dupKeeper, Seq("h", "h2"))
      .filter(!(col("id") === col("keep.id") && col("pos") === col("keep.pos")))
      .select(col("id"), explode(sequence(col("pos"),
        col("pos") + n - 1)).as("tpos"))
      .distinct()
    removeCoveredTokens(df, idCol, textCol, covered)
  }

  /** Shared rewrite tail of the span-surgery family: drop the (id,
    * tpos) token positions in `covered`, reassemble each doc from the
    * survivors. Output: (id, clean_text, n_tokens, n_tokens_removed);
    * text is normalized (whitespace collapse) by reconstruction. */
  private def removeCoveredTokens(df: DataFrame, idCol: String,
      textCol: String, covered: DataFrame): DataFrame = {
    // persisted: the token rows feed both the reassembly branch and the
    // per-doc total count — without it the corpus re-tokenizes per branch
    val toks = tracked.persist(df.select(col(idCol).as("id"),
        posexplode(split(Text.normWs(col(textCol)), " "))
          .as(Seq("__p", "tok")))
      .select(col("id"), (col("__p") + 1).as("tpos"), col("tok")))
    val kept = toks.join(covered, Seq("id", "tpos"), "left_anti")
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("tpos"), col("tok"))))
        .as("xs"))
      .select(col("id"), array_join(col("xs.tok"), " ").as("clean_text"),
        size(col("xs")).cast("long").as("n_tokens"))
    val total = toks.groupBy("id").agg(count(lit(1)).as("__n"))
    total.join(kept, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (col("__n") - coalesce(col("n_tokens"), lit(0L))).cast("long")
          .as("n_tokens_removed"))
  }

  /** SURGICAL train-set decontamination (the GPT-3 appendix-C / Lee et
    * al. policy at token granularity): remove from every training
    * document each n-gram window that also appears anywhere in the
    * held-out set, and reassemble the survivors — the span-level
    * counterpart of [[contamination]], which only SCORES docs. Unlike
    * [[removeRepeatedSpans]] there is no keeper: every contaminated
    * window is excised (the test set is the reference, not a peer).
    * GPT-3 used 13-gram removal — hence the default. Output: (id,
    * clean_text, n_tokens, n_tokens_removed).
    *
    * Scale shape: the test-side frame collapses to DISTINCT 128-bit
    * window hashes (held-out sets are small — it broadcasts); the
    * train side pays the same two token-level exchanges as
    * [[removeRepeatedSpans]], inherent to exact span surgery.
    * Upstream of those, only (16-byte hash, id, int pos) rows move. */
  def decontaminateSpans(train: DataFrame, test: DataFrame,
      idCol: String, textCol: String, n: Int = 13): DataFrame = {
    val rows = spanHashRows(train, idCol, textCol, n)
    val testHashes = spanHashRows(test, idCol, textCol, n)
      .select("h", "h2").distinct()
    val covered = rows.join(testHashes, Seq("h", "h2"), "left_semi")
      .select(col("id"), explode(sequence(col("pos"),
        col("pos") + n - 1)).as("tpos"))
      .distinct()
    removeCoveredTokens(train, idCol, textCol, covered)
  }

  /** Fit phase of the span-decontamination SCREEN: the held-out set's
    * distinct 64-bit window hashes folded into serialized bloom bytes
    * (null when the test set has no n-token window). Ship it to a
    * streaming ingest job the way [[Lines.boilerplateBloom]] ships. */
  def spanBloom(test: DataFrame, idCol: String, textCol: String,
      n: Int = 13, expectedWindows: Long = 1000000L): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.Bridge
    val numBits = math.min(8L * expectedWindows, 8L * 64 * 1024 * 1024)
    val h = spanHashRows(test, idCol, textCol, n).select(col("h")).distinct()
    val bloomAgg = Bridge.toColumn(
      new BloomFilterAggregate(
        Bridge.toExpression(col("h")),
        Literal(expectedWindows), Literal(numBits)).toAggregateExpression())
    h.agg(bloomAgg.as("__bf")).head().getAs[Array[Byte]](0)
  }

  /** Map-only span-decontamination SCREEN: [[decontaminateSpans]]'s
    * streaming-legal sibling. Window hashes are computed INSIDE array
    * HOFs against the bloom literal, so the whole rewrite is a pure
    * per-row projection — no shuffle, no state, runs unchanged on a
    * live streaming DataFrame (fit the bloom on the held-out set in
    * batch, excise at ingest). Bloom false positives over-remove ~1%
    * of innocent windows at default sizing (the screen family's usual
    * trade — use the exact form when surgical precision matters more
    * than the saved exchanges); the single 64-bit hash is fine HERE
    * because a collision costs an innocent n-gram, not a dedup
    * deletion cascade. Output matches the exact form:
    * (id, clean_text, n_tokens, n_tokens_removed). */
  def decontaminateSpansScreen(train: DataFrame, idCol: String,
      textCol: String, bloom: Array[Byte], n: Int = 13): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.types.BinaryType
    def hit(x: Column): Column =
      if (bloom == null) lit(false)
      else Bridge.toColumn(BloomFilterMightContain(
        Literal(bloom, BinaryType), Bridge.toExpression(x)))
    val t = col("__t")
    val starts = when(size(t) >= n,
      sequence(lit(1), size(t) - (n - 1))).otherwise(array())
    train
      .select(col(idCol).as("id"),
        split(Text.normWs(col(textCol)), " ").as("__t"))
      .withColumn("__hits", filter(starts,
        i => hit(xxhash64(concat_ws(" ", slice(t, i, lit(n)))))))
      .withColumn("__cov", array_distinct(flatten(
        transform(col("__hits"), i => sequence(i, i + lit(n - 1))))))
      .select(col("id"),
        array_join(filter(t, (_, j) =>
          !array_contains(col("__cov"), j + 1)), " ").as("clean_text"),
        (size(t) - size(col("__cov"))).cast("long").as("n_tokens"),
        size(col("__cov")).cast("long").as("n_tokens_removed"))
  }
}
