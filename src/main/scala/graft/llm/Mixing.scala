package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.Relational

/** Corpus-mixing operators for training-data assembly: temperature
  * resampling across domains, token-budget selection, distribution
  * divergence between corpus slices, and vocabulary-coverage (OOV)
  * profiling.
  *
  * Scale posture shared by the family: per-stratum / per-token state is
  * the only thing that shuffles (8-byte counts keyed by a bounded
  * stratum set or by token); document payloads stay map-side. Scalar
  * totals travel as broadcast one-row frames, never `Window.orderBy`
  * global sorts.
  */
object Mixing {

  /** [[tokenBudgetSelect]] caches its scored frame: it feeds the
    * histogram pass AND both kept-set branches — without the cache the
    * quality-score regex scan runs three times. Same release contract
    * as [[Dedup.releaseCaches]]. */
  private[graft] val tracked = new TrackedFrames

  def releaseCaches(): Unit = tracked.release()

  /** Per-stratum acceptance rates for temperature resampling
    * (multilingual-LM style: sample shares proportional to p^alpha, so
    * over-represented domains are downweighted and the tail is kept).
    *
    * With stratum shares p_s = n_s/N and q_s = p_s^alpha / Z, a target
    * total of `targetFrac`*N rows gives per-stratum accept probability
    *   a_s = min(1, targetFrac * N * q_s / n_s).
    *
    * Relational end-to-end: the per-stratum count frame is
    * stratum-cardinality-sized (domains/sources — bounded, thousands at
    * most at 100 TB), and the two scalar totals (N, Z) ride as
    * broadcast one-row frames, so nothing is ever single-partitioned.
    */
  def temperatureRates(docs: DataFrame, stratumCol: String, alpha: Double,
      targetFrac: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha in (0,1]")
    require(targetFrac > 0.0 && targetFrac <= 1.0, "targetFrac in (0,1]")
    val cnts = docs.groupBy(col(stratumCol)).agg(count(lit(1)).as("__n"))
    val withTot = cnts
      .crossJoin(broadcast(cnts.agg(sum("__n").as("__tot"))))
      .withColumn("__pq", pow(col("__n").cast("double") / col("__tot"), alpha))
    withTot
      .crossJoin(broadcast(withTot.agg(sum("__pq").as("__z"))))
      .select(col(stratumCol),
        least(lit(1.0),
          lit(targetFrac) * col("__tot") * (col("__pq") / col("__z")) /
            col("__n")).as("accept_rate"))
  }

  /** Temperature resampling: keep each row of `docs` with its stratum's
    * [[temperatureRates]] probability, decided by the deterministic md5
    * key bucket of [[Relational.withHashSplit]] — key-stable,
    * partitioning-independent, reproducible on any engine. The rate
    * frame is broadcast (bounded stratum cardinality); the scan side is
    * a pure map projection + filter.
    *
    * The bucket threshold is `round(accept_rate * buckets)` rather than
    * a raw double compare: on a perfectly balanced corpus a_s ==
    * targetFrac analytically, and rounding keeps the cut stable against
    * last-ulp float divergence across engines/summation orders.
    *
    * The rate attach is a null-SAFE equi-join: a null stratum is a real
    * stratum (temperatureRates' groupBy produces its rate row), and a
    * plain `===` join would silently drop every null-stratum row
    * instead of resampling it.
    */
  def temperatureResample(docs: DataFrame, stratumCol: String, key: Column,
      alpha: Double, targetFrac: Double, buckets: Int = 1000): DataFrame =
    applyRates(docs, temperatureRates(docs, stratumCol, alpha, targetFrac),
      stratumCol, key, buckets)

  /** Apply a precomputed (stratum, accept_rate) frame to `rows` — the
    * stateless half of [[temperatureResample]], split out so the same
    * rates (fitted on a batch corpus snapshot) can resample a STREAM:
    * broadcast join + deterministic hash filter are both map-side, so
    * the operator is legal and state-free under Structured Streaming.
    *
    * The attach is a LEFT join: a stream can carry strata that did not
    * exist when the rates were fitted (a new `source` appearing after
    * the batch snapshot), and an inner join would silently drop that
    * whole domain. Unseen strata pass through at rate 1.0 (keep
    * everything) with a null `accept_rate` marking them for the caller;
    * refit the rates to start resampling them.
    */
  def applyRates(rows: DataFrame, rates: DataFrame, stratumCol: String,
      key: Column, buckets: Int = 1000): DataFrame = {
    val r = rates.withColumnRenamed(stratumCol, "__stratum")
    Relational.withHashSplit(
        rows.join(broadcast(r),
          col(stratumCol) <=> col("__stratum"), "left").drop("__stratum"),
        key, buckets, "__bucket")
      .filter(col("__bucket") <
        round(coalesce(col("accept_rate"), lit(1.0)) * buckets)
          .cast("long"))
      .drop("__bucket")
  }

  /** Unigram distribution of `textCol` split on single spaces:
    * one row per distinct token with its count and the (broadcast)
    * corpus total. Token-keyed hash aggregation — partial map-side
    * combine, 8-byte counts on the wire. */
  private def unigramDist(df: DataFrame, textCol: String): DataFrame = {
    val cnts = df
      .select(explode(split(col(textCol), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    cnts.crossJoin(broadcast(cnts.agg(sum("cnt").as("tot"))))
  }

  /** Jensen-Shannon divergence (natural log, in [0, ln 2]) between the
    * unigram token distributions of two corpus slices — the standard
    * drift/contrast metric between corpus versions or domains. Output
    * is one row: the union vocabulary size and the divergence.
    *
    * Shape: two token-keyed count aggregations, a full-outer join on
    * token (absent tokens contribute probability 0 and, by the JS
    * convention 0*ln(0/m) = 0, a zero term), one scalar sum. Vocabulary
    * rows are what shuffles — never documents.
    */
  def jsDivergence(a: DataFrame, b: DataFrame, textCol: String): DataFrame = {
    val pa = unigramDist(a, textCol)
      .select(col("w"), (col("cnt").cast("double") / col("tot")).as("p"))
    val pb = unigramDist(b, textCol)
      .select(col("w"), (col("cnt").cast("double") / col("tot")).as("q"))
    val joined = pa.join(pb, Seq("w"), "full_outer")
      .select(coalesce(col("p"), lit(0.0)).as("p"),
        coalesce(col("q"), lit(0.0)).as("q"))
    val m = (col("p") + col("q")) / 2
    val term =
      when(col("p") > 0, col("p") * log(col("p") / m) / 2).otherwise(0.0) +
      when(col("q") > 0, col("q") * log(col("q") / m) / 2).otherwise(0.0)
    joined.agg(count(lit(1)).as("n_terms"),
      round(sum(term), 6).as("js_divergence"))
  }

  /** Jensen-Shannon divergence of each window's token distribution
    * against a reference corpus distribution — the batch half of the
    * streaming drift monitor ([[graft.streaming.StreamOps
    * .tokenWindowCounts]] produces `winCounts`: one row per (window,
    * token, count), e.g. from append-mode finalized windows).
    *
    * The reference-only mass never joins: for every reference token
    * ABSENT from a window (p=0), the JS term is q·ln2/2, so the whole
    * absent tail contributes 0.5·ln2·(1 − Σ_present q) — computed from
    * the presence join alone. No windows×vocabulary expansion, which is
    * what makes this exact AND cheap at a 100 TB vocabulary. */
  def jsAgainstReference(winCounts: DataFrame, refDocs: DataFrame,
      textCol: String): DataFrame = {
    val ref = unigramDist(refDocs, textCol)
      .select(col("w"), (col("cnt").cast("double") / col("tot")).as("q"))
    val withTot = winCounts.withColumn("__tot",
      sum("cnt").over(Window.partitionBy("win")))
    val joined = withTot.join(ref, Seq("w"), "left")
      .select(col("win"),
        (col("cnt").cast("double") / col("__tot")).as("p"),
        coalesce(col("q"), lit(0.0)).as("q"))
    val m = (col("p") + col("q")) / 2
    val present =
      when(col("p") > 0, col("p") * log(col("p") / m) / 2).otherwise(0.0) +
      when(col("q") > 0, col("q") * log(col("q") / m) / 2).otherwise(0.0)
    joined.groupBy("win")
      .agg(sum(present).as("__js_present"), sum(col("q")).as("__q_present"))
      .select(col("win"),
        round(col("__js_present") +
          lit(math.log(2.0) / 2) * (lit(1.0) - col("__q_present")), 6)
          .as("js_divergence"))
  }

  /** Top-`vocabSize` tokens by global count (count desc, token asc on
    * ties — a total order, so the cut is deterministic). Produces a
    * `vocabSize`-row frame: TakeOrdered over the token-count agg, small
    * enough to broadcast into any coverage join. */
  def topVocab(docs: DataFrame, textCol: String, vocabSize: Int): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc)
      .limit(vocabSize)
      .select("w")

  /** Out-of-vocabulary token rate per group (e.g. per language) against
    * the corpus-global [[topVocab]] — the coverage signal for sizing a
    * tokenizer vocabulary or spotting under-served languages. The vocab
    * side broadcasts; the token stream is a map-side explode + hash
    * aggregation on the group key. */
  def oovRate(docs: DataFrame, textCol: String, groupCol: String,
      vocabSize: Int): DataFrame = {
    val vocab = topVocab(docs, textCol, vocabSize)
      .withColumn("__in_vocab", lit(1))
    docs.select(col(groupCol),
        explode(split(col(textCol), " ")).as("w"))
      .join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(when(col("__in_vocab").isNull, 1).otherwise(0))
          .cast("double") / count(lit(1)), 6).as("oov_rate"))
  }

  /** Per-stratum epoch plan — the UPSAMPLING complement of
    * [[temperatureRates]] (whose accept probability caps at 1, so it
    * can only shrink a stratum): to hit `targetTokens` total with
    * p^alpha-tempered shares, under-represented strata need their data
    * REPEATED. For stratum s with t_s tokens and tempered share q_s,
    *   epochs_s = targetTokens * q_s / t_s
    * (>1 means repeat, <1 means subsample within one pass). Output is
    * the plan table (stratum, n_docs, n_tokens, share, epochs) —
    * stratum-cardinality-sized, the thing a training run logs as its
    * data-mixture card. */
  def epochPlan(docs: DataFrame, stratumCol: String, textCol: String,
      alpha: Double, targetTokens: Long): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha in (0,1]")
    require(targetTokens > 0)
    val cnts = docs.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(Text.tokenCount(col(textCol)).cast("long")).as("n_tokens"))
    val withTot = cnts
      .crossJoin(broadcast(cnts.agg(sum("n_tokens").as("__tot"))))
      .withColumn("__pq",
        pow(col("n_tokens").cast("double") / col("__tot"), alpha))
    withTot
      .crossJoin(broadcast(withTot.agg(sum("__pq").as("__z"))))
      .select(col(stratumCol), col("n_docs"), col("n_tokens"),
        round(col("__pq") / col("__z"), 6).as("share"),
        // a zero-token stratum (all-empty texts) has share 0 and gets
        // epochs 0, not the 0/0 NaN the raw division would produce
        when(col("n_tokens") === 0, lit(0.0)).otherwise(
          round(lit(targetTokens.toDouble) * (col("__pq") / col("__z")) /
            col("n_tokens"), 6)).as("epochs"))
  }

  /** Materialize an [[epochPlan]]: emit each doc `floor(epochs)` times
    * plus one more with probability `frac(epochs)` (deterministic
    * salted-md5 accept keyed by (doc, repeat index) — reproducible on
    * any engine/partitioning). Output carries an `epoch` index column.
    * Map-side only: the plan broadcasts, repetition is a bounded
    * `sequence` explode — no shuffle, no state; expected token share
    * per stratum converges to the plan's `share`. */
  def materializeEpochs(docs: DataFrame, plan: DataFrame,
      stratumCol: String, key: Column, buckets: Int = 1000,
      maxEpochs: Double = 1000.0): DataFrame = {
    // guard the explode fan-out: a mis-sized plan (tiny stratum, huge
    // token target) would otherwise sequence() millions of copies per
    // row. The check is one action on the stratum-sized plan frame.
    // An empty plan (docs filtered to nothing) has max(epochs) = NULL:
    // nothing will join downstream anyway, so treat it as 0, not NPE.
    val worstRow = plan.agg(max(col("epochs"))).head
    val worst = if (worstRow.isNullAt(0)) 0.0 else worstRow.getDouble(0)
    require(worst <= maxEpochs,
      f"plan epochs $worst%.1f exceeds maxEpochs $maxEpochs%.1f — " +
        "raise maxEpochs explicitly if the fan-out is intended")
    val p = plan.select(col(stratumCol).as("__stratum"), col("epochs"))
    val whole = floor(col("epochs")).cast("int")
    val fracKeep = round((col("epochs") - floor(col("epochs"))) * buckets)
      .cast("long")
    val lastBucket = conv(substring(
        md5(concat(key.cast("string"), lit("@"), col("__e"))), 1, 6), 16, 10)
      .cast("long") % buckets
    docs.join(broadcast(p), col(stratumCol) <=> col("__stratum"))
      .drop("__stratum")
      .withColumn("__e",
        explode(sequence(lit(0), whole, lit(1))))
      .filter(col("__e") < whole || lastBucket < fracKeep)
      .withColumnRenamed("__e", "epoch")
      .drop("epochs")
  }

  /** Per-stratum adaptive quality bar: keep the best `keepFrac` of each
    * stratum's docs by [[Text.qualityScore]] (percent_rank over quality
    * desc, id tiebreak — a total order, so the cut is deterministic).
    * The per-domain version of a global quality threshold: domains with
    * different score distributions each keep their own top slice.
    *
    * Scale: the window partitions BY stratum, so ranking runs in
    * parallel across domains; one pathologically hot stratum becomes a
    * single sort partition — for that shape, bucket the hot stratum
    * through a bounded quality histogram as [[tokenBudgetSelect]] does.
    * Null-quality (null-text) docs are excluded as in
    * [[tokenBudgetSelect]]. */
  def qualityPercentileFilter(docs: DataFrame, textCol: String,
      idCol: String, stratumCol: String, keepFrac: Double): DataFrame = {
    require(keepFrac >= 0.0 && keepFrac <= 1.0)
    val w = Window.partitionBy(stratumCol)
      .orderBy(col("quality").desc, col(idCol))
    docs.select(col(idCol), col(stratumCol),
        Text.qualityScore(col(textCol)).as("quality"))
      .filter(col("quality").isNotNull)
      .withColumn("__pr", percent_rank().over(w))
      .filter(col("__pr") <= keepFrac)
      .drop("__pr")
  }

  /** Deterministic sharded training-order shuffle: every row gets a
    * shard (salted md5 bucket of its key) and a position within the
    * shard (rank of an independently-salted md5 — decorrelated from the
    * shard hash). The standard shard-writer shape for pre-training
    * data: reproducible on any engine/partitioning (no rand()), and the
    * ordering work is per-shard windows running in parallel — each
    * sorts ~N/nShards rows, never a global sort. Pick nShards so a
    * shard fits an executor's sort buffer at corpus scale.
    *
    * Keys must be non-null (standard dataset-id contract): a null key
    * hashes to a null shard — rows land in a separate `shard IS NULL`
    * group instead of being silently dropped, but engines disagree on
    * null ordering, so only non-null keys are portable.
    */
  def shuffleShards(df: DataFrame, key: Column, nShards: Int): DataFrame = {
    require(nShards > 0)
    val ks = key.cast("string")
    val shard = conv(substring(md5(concat(ks, lit(":shard"))), 1, 6), 16, 10)
      .cast("long") % nShards
    val posHash = md5(concat(ks, lit(":pos")))
    val w = Window.partitionBy("shard").orderBy(col("__ph"), key)
    df.withColumn("shard", shard).withColumn("__ph", posHash)
      .withColumn("pos", row_number().over(w))
      .drop("__ph")
  }

  /** Select the highest-quality documents whose token counts fit a total
    * budget — the "best N tokens" corpus-assembly step. Selection order
    * is ([[Text.qualityScore]] desc, id asc); a document is kept iff the
    * running token total through it stays within `budgetTokens`.
    *
    * Scalable two-phase plan instead of the naive global-ordered window
    * (which is a single-partition sort at corpus scale):
    *   1. histogram pass — token totals per quality value. qualityScore
    *      is rounded to 6 decimals, so the histogram is bounded
    *      (≤ ~1.25M keys) REGARDLESS of corpus size; collecting it to
    *      the driver is O(bounded), not O(rows).
    *   2. the driver walks the histogram best-first to find the boundary
    *      quality value: strictly-better docs all fit (kept wholesale,
    *      no sort at all), strictly-worse docs can't fit (dropped).
    *   3. only the boundary-quality docs get an ordered running sum —
    *      a window partitioned BY the boundary value, i.e. one quality
    *      group, typically a vanishing fraction of the corpus.
    * The kept set is identical to the naive window's (MixingSpec proves
    * equality), with the global sort reduced to one boundary group.
    *
    * Null-text docs (null quality score) are excluded up front: they
    * carry no tokens, and null ordering in a quality sort differs
    * between engines — excluding them is the only portable contract.
    */
  def tokenBudgetSelect(docs: DataFrame, textCol: String, idCol: String,
      budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0)
    // cached: feeds the histogram job and both kept-set branches —
    // otherwise the quality-regex scan of the corpus runs three times
    val scored = tracked.persist(docs.select(col(idCol).as("doc_id"),
      Text.qualityScore(col(textCol)).as("quality"),
      Text.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .filter(col("quality").isNotNull))
    val hist = scored.groupBy("quality")
      .agg(sum("n_tokens").as("t")).collect()
      .map(r => (r.getDouble(0), r.getLong(1)))
      .sortBy { case (q, _) => -q }
    var prefix = 0L
    var boundary: Option[Double] = None
    var i = 0
    while (boundary.isEmpty && i < hist.length) {
      val (q, t) = hist(i)
      if (prefix + t > budgetTokens) boundary = Some(q)
      else { prefix += t; i += 1 }
    }
    val kept = boundary match {
      case None => scored // everything fits
      case Some(qb) =>
        val above = scored.filter(col("quality") > qb)
        val w = Window.partitionBy("quality").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val atBoundary = scored.filter(col("quality") === qb)
          .withColumn("__cum", sum("n_tokens").over(w))
          .filter(col("__cum") + prefix <= budgetTokens)
          .drop("__cum")
        above.unionByName(atBoundary)
    }
    kept.select("doc_id", "quality", "n_tokens")
  }
}
