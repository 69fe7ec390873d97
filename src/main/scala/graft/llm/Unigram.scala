package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Unigram-LM subword tokenizer training (Kudo 2018, arXiv:1804.10959
  * — the SentencePiece algorithm behind T5/ALBERT/XLNet vocabularies;
  * the probabilistic alternative to [[Bpe]]'s greedy merges). Same
  * scale shape as BPE: the corpus is scanned ONCE into the bounded
  * (word, freq) table, and every training iteration runs against that
  * table with the vocabulary riding as a broadcast map — nothing
  * corpus-sized moves after the first aggregation.
  *
  * Honest simplifications vs the paper (documented, spec-gated):
  * Viterbi (hard) EM instead of full forward-backward marginals — the
  * E-step takes each word's single BEST segmentation; the hard-EM
  * objective (freq-weighted best-segmentation log-likelihood) is
  * still monotone non-decreasing, which UnigramSpec asserts per
  * iteration — and count-based final pruning instead of the paper's
  * likelihood-loss ranking. Both keep training deterministic.
  */
object Unigram {

  /** Same checkpoint-tracking contract as [[Bpe]]: released
    * checkpoints cannot recompute — release only after the consuming
    * action (Verify/Bench do exactly that per query). */
  private[graft] val tracked = new TrackedFrames

  def releaseCaches(): Unit = tracked.release()

  /** Seed candidate vocabulary: every substring of length <= maxPieceLen
    * of every distinct word, freq-weighted, cut to the top `seedSize`
    * by total count (count desc, piece asc — deterministic) with all
    * single characters force-kept (any word stays segmentable).
    * Substring explosion is word-table-sized x O(len x maxPieceLen),
    * map-side combined on the piece — bounded by distinct-piece
    * cardinality, never corpus-scaled. Output: (piece, cnt). */
  def seedVocab(wf: DataFrame, maxPieceLen: Int = 6,
      seedSize: Int = 20000): DataFrame = {
    val spark = wf.sparkSession
    import spark.implicits._
    val counts = wf.as[(String, Long)].flatMap { case (w, f) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      var i = 0
      while (i < w.length) {
        var l = 1
        while (l <= maxPieceLen && i + l <= w.length) {
          out += ((w.substring(i, i + l), f))
          l += 1
        }
        i += 1
      }
      out
    }.groupBy(col("_1").as("piece")).agg(sum(col("_2")).as("cnt"))
    val chars = counts.filter(length(col("piece")) === 1)
    val multi = counts.filter(length(col("piece")) > 1)
    graft.operators.Relational.topK(seedSize,
      Seq(col("cnt").desc), Seq(col("piece")))(multi)
      .unionByName(chars)
  }

  /** Viterbi-best segmentation of `w` under piece log-probabilities:
    * dp over end positions, candidates bounded by maxPieceLen; ties
    * broken toward the LONGER piece (then earlier split), so
    * segmentation is deterministic. Single characters are guaranteed
    * present by [[seedVocab]]/[[train]]. Returns pieces in order. */
  private[graft] def viterbi(w: String, logp: collection.Map[String, Double],
      maxPieceLen: Int): Array[String] = {
    val n = w.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = new Array[Int](n + 1)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var l = math.min(maxPieceLen, i)
      while (l >= 1) {
        val j = i - l
        if (best(j) != Double.NegativeInfinity) {
          logp.get(w.substring(j, i)) match {
            case Some(p) =>
              val s = best(j) + p
              // strict > plus descending-length scan = longest-piece tie-break
              if (s > best(i)) { best(i) = s; back(i) = j }
            case None => ()
          }
        }
        l -= 1
      }
      i += 1
    }
    if (best(n) == Double.NegativeInfinity) {
      // unseen character (not in training corpus): fall back to chars
      return w.split("").filter(_.nonEmpty)
    }
    val pieces = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = n
    while (pos > 0) { pieces += w.substring(back(pos), pos); pos = back(pos) }
    pieces.reverseIterator.toArray
  }

  /** Freq-weighted best-segmentation piece counts plus the hard-EM
    * objective: one pass over the word table per call. */
  private def eStep(wf: Dataset[(String, Long)],
      logp: Map[String, Double], maxPieceLen: Int)
      : (DataFrame, Double) = {
    val spark = wf.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(logp)
    val seg = wf.flatMap { case (w, f) =>
      val pieces = viterbi(w, bc.value, maxPieceLen)
      val ll = pieces.map(p =>
        bc.value.getOrElse(p, -1e9)).sum * f
      pieces.iterator.map(p => (p, f, ll / pieces.length))
    }.toDF("piece", "cnt", "llshare")
    // the objective needs each word's ll once, not per piece — llshare
    // splits it evenly so the global sum reconstructs it exactly
    val agg = seg.agg(sum("llshare")).head()
    val obj = if (agg.isNullAt(0)) 0.0 else agg.getDouble(0)
    (seg.groupBy("piece").agg(sum(col("cnt")).as("cnt")), obj)
  }

  /** Train a unigram-LM vocabulary: seed from substring counts, run
    * `iters` Viterbi-EM rounds, prune to `vocabSize` by final count
    * (single characters always retained). Output: (piece, logp) —
    * log-probabilities renormalized over the surviving vocabulary.
    * Also records the per-iteration hard-EM objective in the returned
    * frame's metadata-free companion [[trainWithObjective]]. */
  def train(df: DataFrame, textCol: String, vocabSize: Int = 8000,
      iters: Int = 4, maxPieceLen: Int = 6,
      seedSize: Int = 20000): DataFrame =
    trainWithObjective(df, textCol, vocabSize, iters, maxPieceLen,
      seedSize)._1

  /** [[train]] plus the hard-EM objective trace (one value per EM
    * iteration, monotone non-decreasing — UnigramSpec gates it). */
  def trainWithObjective(df: DataFrame, textCol: String,
      vocabSize: Int = 8000, iters: Int = 4, maxPieceLen: Int = 6,
      seedSize: Int = 20000): (DataFrame, Seq[Double]) = {
    val spark = df.sparkSession
    import spark.implicits._
    // one corpus scan into the bounded word table, reused every iter
    // (lower() matches encodeDocs so train/encode see the same words)
    val wf = tracked.trackCheckpoint(Bpe.wordFreq(
        df.select(lower(col(textCol)).as(textCol)), textCol)
      .as[(String, Long)].localCheckpoint())
    def toLogp(counts: Array[(String, Long)]): Map[String, Double] = {
      val total = counts.map(_._2).sum.toDouble
      counts.map { case (p, c) => p -> math.log(c / total) }.toMap
    }
    // bounded collect: seedSize + |chars| rows (the BPE vocab pattern)
    var logp = toLogp(seedVocab(wf.toDF("word", "freq"), maxPieceLen,
      seedSize).as[(String, Long)].collect())
    val chars = logp.keys.filter(_.length == 1).toSet
    val objective = scala.collection.mutable.ArrayBuffer.empty[Double]
    var it = 0
    while (it < iters) {
      val (countsDf, obj) = eStep(wf, logp, maxPieceLen)
      objective += obj
      val counts = countsDf.as[(String, Long)].collect()
      // single chars must stay segmentable even when currently unused
      val floors = chars.diff(counts.map(_._1).toSet)
        .map(c => c -> 1L).toArray
      logp = toLogp(counts ++ floors)
      it += 1
    }
    // prune to vocabSize by usage (logp order == count order under one
    // normalization), single chars always retained, then renormalize
    val top = logp.toArray.sortBy { case (p, lp) => (-lp, p) }
      .take(math.max(vocabSize, 1)).map(_._1).toSet
    val keptMap = logp.filter { case (p, _) =>
      top.contains(p) || p.length == 1 }
    val total = keptMap.values.map(math.exp).sum
    val renorm = keptMap.map { case (p, lp) =>
      (p, math.log(math.exp(lp) / total)) }
    (renorm.toSeq.toDF("piece", "logp")
      .select(col("piece"), round(col("logp"), 6).as("logp")),
      objective.toSeq)
  }

  /** Encode documents under a trained vocabulary: per doc, the pieces
    * of every word (Viterbi DP, candidates bounded by maxPieceLen)
    * plus the fertility ratio n_pieces/n_words — the tokenizer-quality
    * metric. The corpus is scanned once and the whole pass is a single
    * codegen projection ([[graft.plans.UnigramEncodeStats]] — the
    * bounded vocab map rides the plan, one copy per executor via the
    * task-binary broadcast); no Dataset encoder boundary on the hot
    * path. Output: (idCol, n_words, n_pieces, fertility). */
  def encodeDocs(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, maxPieceLen: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // bounded collect (vocabSize rows) — the BPE vocab-table pattern
    val logp = vocab.select("piece", "logp").as[(String, Double)]
      .collect().toMap
    df.select(col(idCol).cast("long").as(idCol),
        graft.plans.UnigramEncode.stats(
          graft.functions.Text.tokens(lower(col(textCol))),
          logp, maxPieceLen).as("__s"))
      .select(col(idCol), col("__s.n_words").as("n_words"),
        col("__s.n_pieces").as("n_pieces"),
        col("__s.fertility").as("fertility"))
  }

  /** The pre-r7 typed-map encode pass — kept as the equivalence oracle
    * for the codegen kernel (UnigramSpec asserts row equality). */
  private[graft] def encodeDocsTyped(df: DataFrame, idCol: String,
      textCol: String, vocab: DataFrame, maxPieceLen: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val logp = vocab.select("piece", "logp").as[(String, Double)]
      .collect().toMap
    val bc = spark.sparkContext.broadcast(logp)
    df.select(col(idCol).cast("long"),
        graft.functions.Text.tokens(lower(col(textCol))).as("words"))
      .as[(Long, Seq[String])]
      .map { case (id, words) =>
        val ws = words.filter(_.nonEmpty)
        var pieces = 0L
        ws.foreach(w => pieces += viterbi(w, bc.value, maxPieceLen).length)
        (id, ws.size.toLong, pieces,
          if (ws.isEmpty) 0.0
          else math.rint(pieces.toDouble / ws.size * 1e6) / 1e6)
      }
      .toDF(idCol, "n_words", "n_pieces", "fertility")
  }
}
