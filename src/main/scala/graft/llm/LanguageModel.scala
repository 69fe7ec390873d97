package graft.llm

import graft.functions.Text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-statistics language-model scoring (north-star text-analysis
  * surface): the CCNet/RedPajama-shaped quality signal — score each
  * document by the average log-probability of its tokens under a
  * unigram model fitted on the corpus itself. Gibberish and
  * vocabulary-poor documents score far from the corpus mean and are
  * filter candidates; no external model needed.
  */
object LanguageModel {

  /** [[bigramScore]] caches its exploded bigram frame: it feeds three
    * frequency aggregations plus the final join, so without the cache
    * the corpus-wide tokenize+explode runs four times. Same release
    * contract as [[Dedup.releaseCaches]]. */
  private[graft] val tracked = new TrackedFrames

  def releaseCaches(): Unit = tracked.release()

  /** (idCol, n_tokens, avg_logp) per document, where avg_logp is the
    * mean natural-log unigram probability of the doc's tokens (token
    * probabilities are corpus-relative frequencies).
    *
    * Scale shape: one token explode, one frequency aggregation
    * (map-side combined), one join back keyed by token, one per-doc
    * aggregation — every shuffle keyed by token or doc id. The
    * single-row total rides along as a broadcast. */
  def unigramScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // split("") yields [""] — drop the empty pseudo-token so blank
    // docs are genuinely ABSENT from the output (downstream consumers
    // treat absence as worst-quality, cf. CorpusPipeline).
    // persisted: toks feeds the frequency agg AND the join-back — two
    // corpus-wide tokenize+explode scans without the cache (same fix
    // as bigramScore's, one branch smaller)
    val toks = tracked.persist(df.select(col(idCol).as("id"),
      explode(Text.tokens(lower(col(textCol)))).as("w"))
      .filter(length(col("w")) > 0))
    val freq = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
    val tot = freq.agg(sum(col("cnt")).as("tot"))
    toks.join(freq, "w")
      .crossJoin(broadcast(tot))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(log(col("cnt").cast("double") / col("tot"))), 6)
          .as("avg_logp"))
  }

  /** CCNet-style per-language perplexity bucketing: rank each language's
    * documents by their LM score ([[unigramScore]]'s corpus-relative
    * mean log-probability — higher = more fluent) and label the top
    * `headFrac` "head", the bottom `tailFrac` "tail", the rest
    * "middle". CCNet/RedPajama keep head+middle and drop or down-weight
    * tail; bucketing per LANGUAGE is the point — absolute perplexity is
    * not comparable across languages, percentiles are.
    * Output: (idCol, lang, avg_logp, ppl_bucket); docs with no tokens
    * are absent (no score — the [[unigramScore]] contract).
    *
    * Scale shape: scoring is [[unigramScore]]'s token-keyed shuffles;
    * the ranking window partitions BY language, so each language ranks
    * in parallel (ordering is (score desc, id) — a total order, making
    * the cut deterministic). One language dominating the corpus makes
    * a hot sort partition; at that shape pre-bucket scores through a
    * bounded histogram the way `Mixing.tokenBudgetSelect` does. */
  def pplBuckets(df: DataFrame, idCol: String, textCol: String,
      langCol: String, headFrac: Double = 1.0 / 3,
      tailFrac: Double = 1.0 / 3): DataFrame = {
    require(headFrac >= 0 && tailFrac >= 0 && headFrac + tailFrac <= 1.0)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("avg_logp").desc, col(idCol))
    df.select(col(idCol), col(langCol).as("lang"))
      .join(unigramScore(df, idCol, textCol), Seq(idCol))
      .withColumn("__pr", percent_rank().over(w))
      .select(col(idCol), col("lang"), col("avg_logp"),
        when(col("__pr") < headFrac, lit("head"))
          .when(col("__pr") > lit(1.0) - tailFrac, lit("tail"))
          .otherwise(lit("middle")).as("ppl_bucket"))
  }

  /** Per-document Shannon character entropy in nats, via the
    * single-pass identity H = ln(n) − (Σ cᵢ·ln cᵢ)/n over raw
    * character counts (no second normalization pass). Low entropy
    * flags repeated-character spam and degenerate boilerplate; very
    * high entropy flags random-byte noise — both filter candidates
    * alongside [[unigramScore]] in a quality stack.
    *
    * Scale shape: one character explode + two hash aggregations keyed
    * by (doc, char) then doc — the (doc, char) partial aggregate
    * collapses each doc to ≤ |alphabet| rows map-side, so the shuffle
    * carries character histograms, not characters.
    * Output: (idCol, n_chars, entropy). */
  def charEntropy(df: DataFrame, idCol: String, textCol: String,
      scale: Int = 6): DataFrame =
    df.select(col(idCol).as("id"), explode(split(col(textCol), "")).as("c"))
      .filter(length(col("c")) > 0) // split("") artifact on empty text
      .groupBy("id", "c").agg(count(lit(1)).as("cnt"))
      .groupBy(col("id").as(idCol))
      .agg(sum(col("cnt")).as("n_chars"),
        round(log(sum(col("cnt")).cast("double")) -
          sum(col("cnt").cast("double") * log(col("cnt").cast("double"))) /
            sum(col("cnt")).cast("double"), scale).as("entropy"))

  /** Interpolated bigram score: per doc, the mean natural log of
    * lambda * p(w2|w1) + (1-lambda) * p(w2), with both distributions
    * fitted on the corpus (p(w2|w1) = bigram count / w1-start count;
    * p(w2) over bigram-second positions). The Jelinek-Mercer-smoothed
    * step up from [[unigramScore]] — catches wrong-order token soup
    * that unigram statistics cannot. Docs with < 2 tokens are absent
    * from the output (no bigrams).
    *
    * Scale shape: bigram rows come from exploding POSITIONS (the
    * lambda-CSE-safe form); the three frequency joins are keyed by
    * (w1,w2), w1 and w2 — all token-sized keys; the scalar total rides
    * as a broadcast. */
  def bigramScore(df: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.75): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      Text.tokens(lower(col(textCol))).as("t"))
    val starts = when(size(col("t")) >= 2,
      sequence(lit(2), size(col("t")))).otherwise(array())
    // persisted: bg feeds bfreq/sfreq/uni AND the final join — four
    // corpus-wide tokenize+explode scans without the cache
    val bg = tracked.persist(toks
      .select(col("id"), col("t"), explode(starts).as("i"))
      .select(col("id"),
        element_at(col("t"), col("i") - 1).as("w1"),
        element_at(col("t"), col("i")).as("w2")))
    val bfreq = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val sfreq = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
    val uni = bg.groupBy("w2").agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum(col("c")).as("tot"))
    bg.join(bfreq, Seq("w1", "w2"))
      .join(sfreq, Seq("w1"))
      .join(uni, Seq("w2"))
      .crossJoin(broadcast(tot))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(
          lit(lambda) * col("c12").cast("double") / col("c1") +
          lit(1.0 - lambda) * col("c").cast("double") / col("tot"))), 6)
          .as("avg_logp"))
  }

  /** Interpolated Kneser-Ney bigram score (fixed discount D): per doc,
    * the mean natural log of
    *   max(c12 - D, 0)/c1  +  D * n1f(w1)/c1 * pcont(w2)
    * where n1f(w1) = distinct continuations of w1 (so the back-off mass
    * is exactly the discount taken from w1's observed bigrams) and
    * pcont(w2) = distinct-predecessor count of w2 over the number of
    * distinct bigram TYPES — the continuation distribution that makes
    * KN the strongest fixed-order n-gram smoother ("Francisco" scores
    * high as a unigram but low as a continuation). The absolute-
    * discount step up from [[bigramScore]]'s Jelinek-Mercer mixing.
    *
    * Scale shape: every derived table (n1f, n1b, c1) aggregates the
    * TYPE table `bfreq`, not the corpus token stream — one corpus-wide
    * bigram count, then type-sized groupBys keyed by single tokens;
    * the distinct-type total rides as a 1-row broadcast. */
  def kneserNeyBigramScore(df: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      Text.tokens(lower(col(textCol))).as("t"))
    val starts = when(size(col("t")) >= 2,
      sequence(lit(2), size(col("t")))).otherwise(array())
    // persisted: bg feeds bfreq AND the final join — two corpus-wide
    // tokenize+explode scans without the cache
    val bg = tracked.persist(toks
      .select(col("id"), col("t"), explode(starts).as("i"))
      .select(col("id"),
        element_at(col("t"), col("i") - 1).as("w1"),
        element_at(col("t"), col("i")).as("w2")))
    // persisted: the type table feeds c1/n1f, n1b, the type total AND
    // the final join
    val bfreq = tracked.persist(
      bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12")))
    val left = bfreq.groupBy("w1")
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
    val cont = bfreq.groupBy("w2").agg(count(lit(1)).as("n1b"))
    val types = bfreq.agg(count(lit(1)).as("n_types"))
    bg.join(bfreq, Seq("w1", "w2"))
      .join(left, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(types))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(
          greatest(col("c12").cast("double") - discount, lit(0.0)) /
            col("c1") +
          lit(discount) * col("n1f").cast("double") / col("c1") *
            (col("n1b").cast("double") / col("n_types")))), 6)
          .as("avg_logp"))
  }
}
