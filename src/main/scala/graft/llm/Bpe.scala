package graft.llm

import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding tokenizer training (Sennrich et al.
  * 2016, arXiv:1508.07909 — the subword algorithm behind GPT-2/RoBERTa
  * vocabularies). The scale shape every real BPE trainer uses: the
  * corpus is scanned ONCE into a (word, freq) table — at 100 TB that
  * agg is map-side combined on word and its output is bounded by
  * DISTINCT-word cardinality (millions, not trillions) — and all
  * `numMerges` training iterations run against that bounded table.
  * Per iteration: one pair-count aggregate over symbol adjacencies
  * (weighted by word freq), a 1-row collect of the argmax pair, and a
  * map-only greedy re-merge of the symbol arrays. Driver traffic is
  * one (pair, count) row per merge — nothing corpus-sized ever moves.
  */
object Bpe {

  /** Checkpoint tracking: [[applyMerges]] and [[encodeDocs]] pin
    * localCheckpoints of the word table (a few MB-GB, bounded by
    * distinct-word cardinality). Unlike [[Dedup.releaseCaches]], a
    * released CHECKPOINT cannot recompute — call [[releaseCaches]]
    * only after the consuming action, when the returned frames are
    * discarded (Verify/Bench do exactly that per query). */
  private[graft] val tracked = new TrackedFrames

  def releaseCaches(): Unit = tracked.release()

  /** (word, freq) over whitespace tokens of the normalized text — the
    * pre-count that makes BPE training corpus-size-independent. */
  def wordFreq(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(Text.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Initial symbol table: each word split to characters with the
    * standard end-of-word marker appended as its own symbol (so merges
    * can learn word-final units distinctly from word-internal ones). */
  def initSymbols(wf: DataFrame, marker: String = "</w>"): DataFrame =
    wf.select(col("word"), col("freq"),
      concat(split(col("word"), ""), array(lit(marker))).as("symbols"))

  /** Frequency of each adjacent symbol pair, weighted by word freq —
    * one iteration's statistics. Explodes adjacency POSITIONS (ints),
    * not pre-built pair arrays (see Dedup.shingleHashRows for why);
    * the agg is map-side combined on the (left, right) pair. */
  def pairCounts(symbols: DataFrame): DataFrame =
    symbols
      .select(col("freq"), col("symbols"),
        explode(when(size(col("symbols")) >= 2,
            sequence(lit(1), size(col("symbols")) - 1))
          .otherwise(array())).as("i"))
      .select(col("freq"),
        element_at(col("symbols"), col("i")).as("left"),
        element_at(col("symbols"), col("i") + 1).as("right"))
      .groupBy("left", "right").agg(sum(col("freq")).as("cnt"))

  /** Greedy left-to-right merge of one (a, b) pair inside a symbol
    * array — the BPE re-tokenization step, as a fold over the array
    * (interpreted HOF, but it runs on the distinct-WORD table, not the
    * corpus). Overlapping runs merge greedily ("aaa" + (a,a) → [aa, a]),
    * matching the reference algorithm. */
  private[graft] def mergePair(sym: Column, a: String, b: String): Column =
    aggregate(sym, array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Train `numMerges` BPE merges. Ties break deterministically by
    * (count desc, left asc, right asc) — fixed across engines and
    * partitionings. Stops early when no pair reaches `minCount`.
    * Returns the learned merge list in order.
    *
    * SIZE-GATED between two spec-equivalent trainers (the same
    * adaptive pattern as the size-gated Spearman): word tables at or
    * above `incrementalMinWords` train incrementally
    * ([[trainIncremental]] — the chunked vocabulary-scale path,
    * measured 679 ms/merge at 2M words x 1000 merges: 2.5x the r6
    * row-per-word shape, 19.6x the full recount, SCALING.md); smaller
    * tables use the definitional
    * full recount ([[trainFullRecount]]), whose single cheap re-agg
    * beats the incremental path's chunk-packing prologue and two
    * small jobs per merge when the table is tiny (fixed scheduler
    * overhead dominates). The word table is materialized either way,
    * so the gate's count() is nearly free. */
  def train(df: DataFrame, textCol: String, numMerges: Int,
      minCount: Long = 2L, marker: String = "</w>",
      incrementalMinWords: Long = 100000L): Seq[(String, String, Long)] = {
    require(!marker.exists(_.isWhitespace),
      "end-of-word marker must not contain whitespace")
    val syms = initSymbols(wordFreq(df, textCol), marker).localCheckpoint()
    val nWords = syms.count()
    if (nWords >= incrementalMinWords)
      trainIncrementalFromSyms(syms, numMerges, minCount, nWords0 = nWords)
    else if (nWords <= driverLocalMaxWords)
      trainDriverLocalFromSyms(syms, numMerges, minCount)
    else trainRecountFromSyms(syms, numMerges, minCount)
  }

  /** Word tables at or below this route to the driver-local trainer
    * (r15): the distributed recount loop costs two vocabulary-scale
    * jobs per merge — pure scheduler/planning latency on a table this
    * small — while the same exact algorithm over a collected
    * (freq, symbols) array is microseconds per merge. 100k words
    * bounds the collect at tens of MB, far under any driver budget;
    * bigger tables keep the distributed loop (and at or above
    * `incrementalMinWords` the chunked trainer, which never collects
    * anything word-table-sized). */
  private val driverLocalMaxWords = 100000L

  /** Exact driver-local BPE over a collected symbol table — the same
    * algorithm as [[trainRecountFromSyms]] merge for merge: adjacent
    * pairs weighted by word freq (LONG sums — order-free), argmax
    * tie-broken by (count desc, left asc, right asc) under the SAME
    * string order Spark sorts by (UTF8String's unsigned byte
    * comparison, NOT Java's UTF-16 compareTo — they diverge above the
    * BMP), greedy left-to-right re-merge. Consumes (releases) the
    * checkpointed input frame. Spec-pinned equal to the distributed
    * recount (BpeSpec). */
  private def trainDriverLocalFromSyms(syms0: DataFrame, numMerges: Int,
      minCount: Long): Seq[(String, String, Long)] = {
    val collected = syms0.select(col("freq"), col("symbols")).collect()
    org.apache.spark.sql.graft.Bridge.releaseFrame(syms0)
    val freqs = new Array[Long](collected.length)
    val words = new Array[Array[String]](collected.length)
    var w = 0
    while (w < collected.length) {
      freqs(w) = collected(w).getAs[Long](0)
      words(w) = collected(w).getAs[scala.collection.Seq[String]](1).toArray
      w += 1
    }
    // Spark's string ordering: unsigned lexicographic over UTF-8 bytes
    def utf8Lt(x: String, y: String): Boolean = {
      val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      a.length < b.length
    }
    val merges = Seq.newBuilder[(String, String, Long)]
    var it = 0
    var done = false
    while (it < numMerges && !done) {
      val counts = new java.util.HashMap[(String, String), Long]()
      var wi = 0
      while (wi < words.length) {
        val s = words(wi)
        val f = freqs(wi)
        var i = 0
        while (i < s.length - 1) {
          val k = (s(i), s(i + 1))
          val prev = counts.get(k)
          counts.put(k, (if (prev == null) 0L else prev.longValue()) + f)
          i += 1
        }
        wi += 1
      }
      var best: ((String, String), Long) = null
      val en = counts.entrySet().iterator()
      while (en.hasNext) {
        val e = en.next()
        val k = e.getKey
        val c = e.getValue.longValue()
        if (best == null || c > best._2 ||
          (c == best._2 && (utf8Lt(k._1, best._1._1) ||
            (k._1 == best._1._1 && utf8Lt(k._2, best._1._2)))))
          best = (k, c)
      }
      if (best == null || best._2 < minCount) done = true
      else {
        val ((a, b), c) = best
        merges += ((a, b, c))
        val ab = a + b
        wi = 0
        while (wi < words.length) {
          val s = words(wi)
          // greedy left-to-right, identical to [[mergePair]]'s fold
          var has = false
          var i = 0
          while (!has && i < s.length - 1) {
            if (s(i) == a && s(i + 1) == b) has = true
            i += 1
          }
          if (has) {
            val out = new scala.collection.mutable.ArrayBuffer[String](s.length)
            i = 0
            while (i < s.length) {
              if (out.nonEmpty && out.last == a && s(i) == b) {
                out(out.length - 1) = ab
              } else out += s(i)
              i += 1
            }
            words(wi) = out.toArray
          }
          wi += 1
        }
        it += 1
      }
    }
    merges.result()
  }

  /** The vocabulary-scale trainer (the fastBPE/Sennrich
    * incremental-counts optimization, distributed): the adjacent-pair
    * frequency table is built ONCE from the initial symbol table and
    * then maintained by DELTAS — merging (a,b) only changes the pair
    * statistics of words that contain (a,b) adjacently. The word table
    * itself lives CHUNKED (~1k words per row as a line-blob + freq
    * array, [[graft.plans.BpeChunk]]) so per-merge work has no
    * per-word row overhead: each iteration (1) argmaxes the
    * one-partition pair table, (2) runs one delta-kernel pass over the
    * chunk rows (affected lines re-counted in place), (3) stacks one
    * lazy merge-kernel layer, compacted every few merges. Per-merge
    * aggregation cost is bounded by affected-line volume plus a byte
    * scan — full re-aggregation pays the whole positions-explode +
    * shuffle every merge, which at 10k-50k-merge production
    * vocabularies is 10k-50k corpus-derived aggs. Equivalence with the
    * definitional recount is spec-enforced (BpeSpec) and re-asserted
    * inside the scale probe. */
  private[graft] def trainIncremental(df: DataFrame, textCol: String,
      numMerges: Int, minCount: Long = 2L,
      marker: String = "</w>"): Seq[(String, String, Long)] = {
    require(!marker.exists(_.isWhitespace),
      "end-of-word marker must not contain whitespace")
    trainIncrementalFromSyms(
      initSymbols(wordFreq(df, textCol), marker).localCheckpoint(),
      numMerges, minCount)
  }

  /** Incremental-delta training loop over a pre-materialized
    * (word, freq, symbols) checkpoint (consumed: unpersisted on exit).
    *
    * The word table is packed ONCE into ~`chunkWords`-word CHUNKS —
    * one `\n`-separated blob of space-delimited symbol lines plus a
    * parallel freq array per chunk ([[graft.plans.BpeChunk]]) — and
    * every per-merge operation becomes a codegen kernel pass over the
    * ~(words/chunkWords) chunk rows: the pair-count delta is one
    * [[graft.plans.BpeChunkPairDelta]] scan (affected lines
    * re-counted, untouched lines cost a byte-scan miss, output
    * pre-aggregated per chunk), and the table rewrite is a LAZY
    * [[graft.plans.BpeMergeChunk]] layer compacted to a fresh
    * checkpoint every `compactEvery` merges. The r6 shape kept
    * word-per-row and paid ~1.5 s/merge of pure 2M-row scan overhead
    * regardless of predicate cost (measured: an identical filter over
    * a precomputed joined column was only 25% cheaper than building
    * array_join per row — the floor is row count, not the predicate)
    * — chunking removes the per-row floor instead of shaving its
    * constant, and drops per-merge job count from 4 to 2 (argmax +
    * delta-fused counts update). Merge-sequence equality with
    * [[trainFullRecount]] is spec-enforced (BpeSpec) and re-asserted
    * at 2M words by the BpeVocabProbe tool (in git history:
    * `git show 85cc5d0:src/main/scala/graft/tools/BpeVocabProbe.scala`). */
  private def trainIncrementalFromSyms(syms0: DataFrame, numMerges: Int,
      minCount: Long, compactEvery: Int = 10,
      chunkWords: Long = 1024L,
      nWords0: Long = -1L): Seq[(String, String, Long)] = {
    import graft.plans.BpeChunk
    import org.apache.spark.sql.graft.Bridge
    val spark = syms0.sparkSession
    // callers that already counted the table for the size gate pass
    // the count through instead of paying a second scan job
    val nWords = if (nWords0 >= 0L) nWords0 else syms0.count()
    val nChunks = math.max(
      spark.sparkContext.defaultParallelism.toLong,
      nWords / chunkWords).max(1L)
    // pack: one shuffle on a hash-derived chunk id; blob lines and the
    // freq array come from the SAME collected struct list, so they
    // stay aligned whatever order collect_list produces (per-line
    // independence makes order irrelevant to the result)
    val chunks0 = syms0
      .select(
        pmod(xxhash64(col("word")), lit(nChunks)).as("cid"),
        struct(col("freq"),
          concat(lit(" "), array_join(col("symbols"), " "), lit(" "))
            .as("repr")).as("x"))
      .groupBy("cid")
      .agg(collect_list(col("x")).as("xs"))
      .select(col("xs.freq").as("freqs"),
        array_join(col("xs.repr"), "\n").as("blob"))
      .localCheckpoint()
    Bridge.releaseFrame(syms0) // consumed: repacked into chunks
    var base = chunks0        // materialized head of the merge chain
    var cur = chunks0         // base + up to compactEvery lazy kernel layers
    def compact(): Unit = if (cur ne base) {
      val next = cur.localCheckpoint() // eager: materialized here
      Bridge.releaseFrame(base)
      base = next
      cur = next
    }
    // the pair table is vocabulary-sized (hundreds to low-thousands of
    // rows) — one partition keeps every per-merge counts job and the
    // argmax at single-task cost
    var counts = chunks0
      .select(explode(BpeChunk.pairCounts(col("blob"), col("freqs"))).as("p"))
      .groupBy(col("p.left").as("left"), col("p.right").as("right"))
      .agg(sum(col("p.delta")).as("cnt"))
      .coalesce(1)
      .localCheckpoint()
    // the previous round's counts checkpoint: releasable only AFTER the
    // current (lazily-checkpointed) counts materialize — a released
    // localCheckpoint cannot recompute
    var prevCounts: DataFrame = null
    val merges = Seq.newBuilder[(String, String, Long)]
    var i = 0
    var done = false
    while (i < numMerges && !done) {
      // this collect MATERIALIZES a lazy counts checkpoint (one job for
      // delta + counts update + argmax together), after which the
      // superseded round's blocks can go
      val top = counts
        .orderBy(col("cnt").desc, col("left"), col("right"))
        .limit(1).collect()
      if (prevCounts != null) { Bridge.releaseFrame(prevCounts); prevCounts = null }
      if (top.isEmpty || top(0).getAs[Long]("cnt") < minCount) done = true
      else {
        val (a, b, c) = (top(0).getAs[String]("left"),
          top(0).getAs[String]("right"), top(0).getAs[Long]("cnt"))
        merges += ((a, b, c))
        // chunk-local deltas union'd straight into the global pair
        // table (the merged pair's own rows cancel to exactly zero —
        // greedy re-merge leaves no adjacent (a,b) behind); the
        // checkpoint is LAZY so the next iteration's argmax drives it
        val deltaRows = cur
          .select(explode(
            BpeChunk.pairDelta(col("blob"), col("freqs"), a, b)).as("p"))
          .select(col("p.left").as("left"), col("p.right").as("right"),
            col("p.delta").as("cnt"))
        val nextCounts = counts.union(deltaRows)
          .groupBy("left", "right").agg(sum(col("cnt")).as("cnt"))
          .filter(col("cnt") > 0)
          .coalesce(1)
          .localCheckpoint(false)
        // lazy rewrite: one stacked kernel layer; untouched chunks
        // return the input blob object (no copy)
        cur = cur.withColumn("blob",
          BpeChunk.mergeChunk(col("blob"), a, b))
        prevCounts = counts
        counts = nextCounts
        i += 1
        // no compaction on the FINAL merge (r15): the loop is about
        // to release every frame — a last-round counts.count() +
        // chain checkpoint would be two jobs building blocks nobody
        // reads
        if (i % compactEvery == 0 && i < numMerges) {
          // compaction evaluates the chunk chain; materialize the
          // pending counts FIRST so both jobs read the same chain once
          counts.count()
          if (prevCounts != null) { Bridge.releaseFrame(prevCounts); prevCounts = null }
          compact()
        }
      }
    }
    if (prevCounts != null) Bridge.releaseFrame(prevCounts)
    Bridge.releaseFrame(base)
    Bridge.releaseFrame(counts)
    merges.result()
  }

  /** The definitional trainer — full pair-count re-aggregation over
    * the word table every merge (Sennrich et al.'s algorithm as
    * written). The equivalence oracle for [[trainIncremental]], and
    * the path [[train]]'s size gate picks for small word tables (one
    * cheap re-agg per merge beats four small jobs there); at
    * production vocabularies its per-merge full-table shuffle is the
    * non-scalable part — use [[train]]. */
  private[graft] def trainFullRecount(df: DataFrame, textCol: String,
      numMerges: Int, minCount: Long = 2L,
      marker: String = "</w>"): Seq[(String, String, Long)] =
    trainRecountFromSyms(
      initSymbols(wordFreq(df, textCol), marker).localCheckpoint(),
      numMerges, minCount)

  /** Full-recount training loop over a pre-materialized symbol
    * checkpoint (consumed: unpersisted on exit). */
  private def trainRecountFromSyms(syms0: DataFrame, numMerges: Int,
      minCount: Long): Seq[(String, String, Long)] = {
    var syms = syms0
    // r15: the per-merge re-merge checkpoint is LAZY — the next
    // iteration's argmax collect materializes it inside its own job,
    // so each merge costs ONE action instead of two (eager rewrite +
    // argmax). The superseded parent frame must outlive the lazy
    // child until that collect runs (a released localCheckpoint
    // cannot recompute), hence the deferred release.
    var prev: DataFrame = null
    val merges = Seq.newBuilder[(String, String, Long)]
    var i = 0
    var done = false
    while (i < numMerges && !done) {
      val top = pairCounts(syms)
        .orderBy(col("cnt").desc, col("left"), col("right"))
        .limit(1).collect()
      // that collect materialized the lazy `syms` checkpoint — its
      // parent's blocks are now dead
      if (prev != null) {
        org.apache.spark.sql.graft.Bridge.releaseFrame(prev)
        prev = null
      }
      if (top.isEmpty || top(0).getAs[Long]("cnt") < minCount) done = true
      else {
        val (a, b, c) = (top(0).getAs[String]("left"),
          top(0).getAs[String]("right"), top(0).getAs[Long]("cnt"))
        merges += ((a, b, c))
        val next = syms.withColumn("symbols",
          mergePair(col("symbols"), a, b)).localCheckpoint(false)
        prev = syms
        syms = next
        i += 1
      }
    }
    if (prev != null) org.apache.spark.sql.graft.Bridge.releaseFrame(prev)
    org.apache.spark.sql.graft.Bridge.releaseFrame(syms)
    merges.result()
  }

  /** The learned subword vocabulary implied by a merge list: initial
    * characters plus one new symbol per merge, as a DataFrame for
    * inspection / persistence. */
  def mergesDf(df: DataFrame, textCol: String, numMerges: Int,
      minCount: Long = 2L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    train(df, textCol, numMerges, minCount).zipWithIndex
      .map { case ((a, b, c), i) => (i, a, b, a + b, c) }
      .toDF("merge_rank", "left", "right", "merged", "pair_count")
  }

  /** Apply a merge list to an (word, freq, symbols) table — ONE
    * codegen kernel pass ([[graft.plans.BpeApplyMerges]]): the whole
    * rank-ordered list compiles into an int-interned program applied
    * per word, so a 10k-merge production vocabulary segments in a
    * single projection. The pre-r7 shape stacked one interpreted fold
    * layer per merge with a localCheckpoint every 64 layers to bound
    * Catalyst depth — ~156 full word-table materializations at 10k
    * merges just to segment ([[applyMergesFold]], kept as the
    * spec-enforced equivalence oracle). */
  private def applyMerges(words: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    words.withColumn("symbols",
      graft.plans.BpeChunk.applyMerges(col("symbols"), merges))

  /** The definitional layer-per-merge application (fold semantics the
    * kernel must reproduce exactly) — equivalence oracle for
    * [[applyMerges]] in BpeSpec; checkpoints every 64 layers to bound
    * Catalyst analysis depth. */
  private[graft] def applyMergesFold(words: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    var cur = words
    var lastCp: Option[DataFrame] = None
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      cur = cur.withColumn("symbols", mergePair(col("symbols"), a, b))
      if ((i + 1) % 64 == 0) {
        val cp = cur.localCheckpoint() // eager: materialized here
        lastCp.foreach(org.apache.spark.sql.graft.Bridge.releaseFrame(_))
        lastCp = Some(cp)
        cur = cp
      }
    }
    // the FINAL checkpoint backs the returned frame — it stays pinned
    // until the caller is done (released via [[releaseCaches]])
    lastCp.foreach(tracked.trackCheckpoint(_))
    cur
  }

  /** The distinct-word table segmented under a trained merge list:
    * (word, freq, symbols). */
  def segmentWords(df: DataFrame, textCol: String,
      merges: Seq[(String, String)], marker: String = "</w>"): DataFrame =
    applyMerges(initSymbols(wordFreq(df, textCol), marker), merges)

  /** Corpus-wide subword unit counts under a trained merge list. */
  def subwordCounts(df: DataFrame, textCol: String,
      merges: Seq[(String, String)], marker: String = "</w>"): DataFrame =
    segmentWords(df, textCol, merges, marker)
      .select(col("freq"), explode(col("symbols")).as("subword"))
      .groupBy("subword").agg(sum(col("freq")).as("n"))

  private def vocabFromWords(words: DataFrame,
      merges: Seq[(String, String)], marker: String): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val base = words
      .select(explode(split(col("word"), "")).as("token"))
      .distinct().orderBy("token")
      .as[String].collect().toSeq :+ marker
    // distinct: two merges can concatenate to the same string (('a','bc')
    // and ('ab','c') both yield "abc"), and web-ish text can even learn a
    // merge equal to the marker — first definition wins, so the table
    // stays one id per token string (a duplicate would fan out the
    // encode join and corrupt token_ids)
    val all = (base ++ merges.map { case (a, b) => a + b }).distinct
    all.zipWithIndex.map { case (t, i) => (t, i.toLong) }
      .toDF("token", "token_id")
  }

  /** The tokenizer's id table (GPT-2-style layout): base symbols —
    * every distinct character in the corpus plus the end marker,
    * lexicographically — take ids 0..nBase-1, then one id per merge in
    * learned rank order. Bounded by vocab size; broadcastable.
    *
    * A vocabulary is a TRAINING-TIME artifact: build it ONCE from the
    * training corpus, persist it next to the merge list, and pass it
    * into every [[encodeDocs]] call — deriving it per-shard would
    * renumber every id whenever a shard's character set differs. */
  def vocabDf(df: DataFrame, textCol: String,
      merges: Seq[(String, String)], marker: String = "</w>"): DataFrame =
    vocabFromWords(wordFreq(df, textCol), merges, marker)

  /** THE last mile: documents to model-ready token-id sequences.
    * Words explode with positions, join their segmentation from the
    * broadcast word table, subwords map to ids through the broadcast
    * vocab, and one id-keyed exchange reassembles each document in
    * order. The corpus-sized side shuffles exactly once (the
    * reassembly), carrying int ids — not text.
    *
    * Pass the persisted training-corpus [[vocabDf]] as `vocab` when
    * encoding shards/new data so ids stay consistent across calls; the
    * None default derives vocab from `df` itself, which is only
    * correct single-corpus use. Subwords OUTSIDE the vocab are dropped
    * from `token_ids` but COUNTED per row in `n_oov` (vocab attach is
    * a left join, not an inner join, precisely so shard-encoding loss
    * is detectable row-by-row — a doc that decodes to different text
    * always shows n_oov > 0). Docs with no tokens (empty/whitespace
    * text) produce no output row, like [[Dsir.importanceWeights]] —
    * join back by id when you need them represented.
    * Output: (id, n_tokens, n_subwords, n_oov, token_ids: array<long>). */
  def encodeDocs(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], marker: String = "</w>",
      vocab: Option[DataFrame] = None): DataFrame = {
    val wf = wordFreq(df, textCol)
    // localCheckpoint BEFORE broadcasting: the segmented symbols column
    // is otherwise a numMerges-deep interpreted-fold EXPRESSION, and
    // the downstream Generate (posexplode) re-evaluates such exprs per
    // output row — measured ~25x on this stage, 15 s -> 0.6 s at sf0.1
    // (cf. the staging pitfall on Dedup.shingleHashRows). Checkpointing
    // ships plain arrays.
    val segCp = tracked.trackCheckpoint(
      applyMerges(initSymbols(wf, marker), merges)
        .select(col("word"), col("symbols")).localCheckpoint())
    val seg = broadcast(segCp)
    // default-vocab base chars come from the MATERIALIZED word table,
    // not a second wordFreq pass over the corpus
    val voc = broadcast(
      vocab.getOrElse(vocabFromWords(segCp, merges, marker)))
    val words = df.select(col(idCol).as("id"),
        posexplode(Text.tokens(col(textCol))).as(Seq("wpos", "word")))
      .filter(length(col("word")) > 0)
    val subs = words.join(seg, "word")
      .select(col("id"), col("wpos"),
        posexplode(col("symbols")).as(Seq("spos", "token")))
      .join(voc, Seq("token"), "left")
    subs
      .groupBy("id")
      // collect_list skips nulls, so the OOV rows (no token_id) fall
      // out of the sequence while still being counted
      .agg(array_sort(collect_list(when(col("token_id").isNotNull,
          struct(col("wpos"), col("spos"), col("token_id"))))).as("xs"),
        count_distinct(col("wpos")).as("n_tokens"),
        sum(when(col("token_id").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("id"), col("n_tokens").cast("long").as("n_tokens"),
        size(col("xs")).cast("long").as("n_subwords"),
        col("n_oov").cast("long").as("n_oov"),
        col("xs.token_id").as("token_ids"))
  }

  /** Tokenizer fertility report (subwords emitted per word — the
    * standard tokenizer-quality metric): per doc, token and subword
    * counts and their ratio. Deliberately does NOT go through
    * [[encodeDocs]]: the counts need only each word's segment SIZE
    * from the broadcast word table, so the corpus pass is one word
    * explode + broadcast join + agg — no subword-level row explosion,
    * no per-doc sequence reassembly (measured 12x cheaper at sf0.1).
    * Docs with no tokens are omitted, like [[encodeDocs]]. */
  def fertility(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], marker: String = "</w>"): DataFrame = {
    val segSizes = broadcast(segmentWords(df, textCol, merges, marker)
      .select(col("word"), size(col("symbols")).as("__ns")))
    df.select(col(idCol).as("id"),
        explode(Text.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .join(segSizes, "word")
      .groupBy("id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(col("__ns")).cast("long").as("n_subwords"))
      .select(col("id"), col("n_tokens"), col("n_subwords"),
        round(col("n_subwords").cast("double") / col("n_tokens"), 6)
          .as("fertility"))
  }
}
