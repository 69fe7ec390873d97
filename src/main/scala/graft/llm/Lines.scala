package graft.llm

import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Line-level corpus cleaning (C4 / RefinedWeb / Dolma-style): web-scale
  * training corpora carry cross-document boilerplate — cookie banners,
  * navigation menus, license footers — that document-level dedup never
  * sees because the surrounding text differs. The standard treatment
  * (C4 §2.1 of Raffel et al., RefinedWeb line-wise filtering) works on
  * `\n`-separated lines: drop lines that recur across many documents,
  * plus per-line quality heuristics.
  *
  * Scale design mirrors the contamination pair in [[Dedup]]:
  *  - the frequent-line SET is found with one hash aggregate whose
  *    map-side-combined shuffle carries (16-byte fingerprint, doc_id) —
  *    never full text;
  *  - exact stripping joins exploded lines against that (small) set
  *    broadcast-style and reconstructs documents with ONE exchange of
  *    the corpus text, keyed by doc id;
  *  - the screen variant folds the frequent set into a bloom literal so
  *    the 100 TB side stays a map-only projection (no corpus shuffle at
  *    all), at the cost of ~1% false-positive over-stripping.
  */
object Lines {

  /** Cache tracking for the multi-branch strip plans; same release
    * contract as [[Dedup.releaseCaches]]. */
  private[graft] val tracked = new TrackedFrames

  def releaseCaches(): Unit = tracked.release()

  /** One row per (doc, line): (id, pos, line). Position is 0-based and
    * preserved so documents can be reassembled in order. Lines are NOT
    * trimmed, case-folded or otherwise normalized — C4 matches
    * boilerplate byte-exactly, and the DuckDB oracle must agree on
    * semantics — so the grouping fingerprint below is md5 of the RAW
    * line (NOT [[Text.fingerprint]], which case-folds and would merge
    * "Cookie Policy" with "cookie policy"). */
  private[llm] def lineRows(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))

  /** Byte-exact 16-byte grouping key of a raw line. */
  private def lineFp(line: Column): Column = unhex(md5(line))

  /** Per-line document frequency: (line, n_docs), one row per distinct
    * line. 100 TB note: the aggregate groups on the 16-byte md5 of the
    * raw line with the line text carried as `min` (all group members
    * are byte-identical, so min is the line itself) — after map-side
    * partial aggregation the shuffle moves one (fingerprint, line,
    * partial count-set) row per distinct line per partition, and
    * boilerplate lines (the whole point) collapse hardest. */
  def lineDocFreq(df: DataFrame, idCol: String, textCol: String): DataFrame =
    lineRows(df, idCol, textCol)
      .select(lineFp(col("line")).as("fp"), col("line"), col("id"))
      .groupBy("fp")
      .agg(min(col("line")).as("line"),
        count_distinct(col("id")).as("n_docs"))
      .select("line", "n_docs")

  /** Boilerplate line set: lines occurring in at least `minDocFreq`
    * distinct documents. By construction this is small relative to the
    * corpus (a line needs df >= threshold to qualify), so downstream
    * consumers broadcast it or fold it into a bloom filter. */
  def boilerplateLines(df: DataFrame, idCol: String, textCol: String,
      minDocFreq: Int): DataFrame =
    lineDocFreq(df, idCol, textCol)
      .filter(col("n_docs") >= minDocFreq)

  /** EXACT boilerplate strip: remove every line whose corpus-wide
    * document frequency is >= `minDocFreq`, reassemble the survivors in
    * original order. Output: (id, clean_text, n_lines_kept,
    * n_lines_dropped). Documents whose every line is boilerplate come
    * back with empty clean_text (callers typically drop them next).
    *
    * Plan shape: exploded (id, pos, line) left-anti-joined against the
    * frequent set on the line fingerprint (AQE broadcasts the set — it
    * is df-thresholded small; at extreme cardinality it degrades to a
    * shuffle join and stays correct), then ONE id-keyed exchange
    * rebuilds documents. That single text exchange is inherent to
    * exact line-level rewriting; the map-only alternative is
    * [[stripBoilerplateScreen]]. */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
      minDocFreq: Int): DataFrame = {
    // persisted: the exploded line rows feed THREE branches (frequency
    // agg, per-doc totals, kept reassembly) keyed differently — without
    // the persist each branch re-scans and re-splits the corpus text
    val rows = tracked.persist(lineRows(df, idCol, textCol)
      .withColumn("fp", lineFp(col("line"))))
    val freqFps = rows.groupBy("fp")
      .agg(count_distinct(col("id")).as("n_docs"))
      .filter(col("n_docs") >= minDocFreq)
      .select("fp")
    val total = rows.groupBy("id").agg(count(lit(1)).as("n_lines"))
    val kept = rows.join(freqFps, Seq("fp"), "left_anti")
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("pos"), col("line"))))
          .as("xs"))
      .select(col("id"),
        array_join(col("xs.line"), "\n").as("clean_text"),
        size(col("xs")).as("n_lines_kept"))
    total.join(kept, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_lines_kept"), lit(0)).cast("long")
          .as("n_lines_kept"),
        (col("n_lines") - coalesce(col("n_lines_kept"), lit(0)))
          .cast("long").as("n_lines_dropped"))
  }

  /** Map-only boilerplate SCREEN: the frequent-line fingerprints are
    * folded into a bloom filter literal (same construction as
    * [[Dedup.contaminationScreen]]), so the corpus pass is a pure
    * projection — lines are filtered inside an array HOF and the
    * document never leaves its partition. False positives over-strip
    * ~1% of innocent lines at the default sizing; use the exact
    * [[stripBoilerplate]] when byte-exact semantics matter more than
    * the saved exchange.
    *
    * The first phase (finding frequent lines) still runs its fingerprint
    * aggregate — that shuffle carries fingerprints, not text, and is
    * unavoidable: corpus-wide frequency is a global property. */
  def stripBoilerplateScreen(df: DataFrame, idCol: String, textCol: String,
      minDocFreq: Int, expectedLines: Long = 1000000L): DataFrame =
    applyBoilerplateBloom(df, idCol, textCol,
      boilerplateBloom(df, idCol, textCol, minDocFreq, expectedLines))

  /** Fit phase of the screen: fold the frequent-line xxhash64 set into
    * serialized bloom-filter bytes (null when no line reaches
    * `minDocFreq`). The artifact is a few MB regardless of corpus size
    * — persist it / ship it to a streaming job the way batch-fitted
    * [[Mixing.applyRates]] rates are. */
  def boilerplateBloom(df: DataFrame, idCol: String, textCol: String,
      minDocFreq: Int, expectedLines: Long = 1000000L): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.Bridge
    val numBits = math.min(8L * expectedLines, 8L * 64 * 1024 * 1024)
    val freq = boilerplateLines(df, idCol, textCol, minDocFreq)
      .select(xxhash64(col("line")).as("h"))
    val bloomAgg = Bridge.toColumn(
      new BloomFilterAggregate(
        Bridge.toExpression(col("h")),
        Literal(expectedLines), Literal(numBits)).toAggregateExpression())
    freq.agg(bloomAgg.as("__bf")).head().getAs[Array[Byte]](0)
  }

  /** Apply phase: drop lines the bloom flags, map-only (the filter is
    * an array HOF against a literal — no shuffle, no state). Works
    * unchanged on a STREAMING DataFrame: fit on the batch corpus with
    * [[boilerplateBloom]], apply at ingest — the streaming analogue of
    * the batch [[stripBoilerplate]], trading ~1% bloom false-positive
    * over-stripping for zero per-batch aggregation. */
  def applyBoilerplateBloom(df: DataFrame, idCol: String, textCol: String,
      bloom: Array[Byte]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.types.BinaryType
    def hit(x: Column): Column =
      if (bloom == null) lit(false)
      else Bridge.toColumn(BloomFilterMightContain(
        Literal(bloom, BinaryType), Bridge.toExpression(x)))
    df.select(col(idCol).as("id"), split(col(textCol), "\n").as("__ls"))
      .select(col("id"), col("__ls"),
        filter(col("__ls"), l => !hit(xxhash64(l))).as("__keep"))
      .select(col("id"),
        array_join(col("__keep"), "\n").as("clean_text"),
        size(col("__keep")).cast("long").as("n_lines_kept"),
        (size(col("__ls")) - size(col("__keep"))).cast("long")
          .as("n_lines_dropped"))
  }

  /** Keep-FIRST paragraph dedup (Dolma-style): corpus-wide, every
    * distinct paragraph survives exactly once — at its canonical
    * occurrence, the lexicographically smallest (doc id, position) —
    * and every later occurrence is removed. Distinct from
    * [[stripBoilerplate]], which removes ALL occurrences of frequent
    * lines: boilerplate strip de-noises, keep-first dedup preserves
    * one copy of every passage (the Lee et al. / Dolma training-set
    * treatment, at paragraph rather than substring granularity).
    * Output: (id, clean_text, n_paras_kept, n_paras_dropped); docs
    * whose every paragraph appeared earlier come back empty.
    *
    * 100 TB plan: text rides exactly ONE exchange.
    *  1. canonical-occurrence aggregate groups a text-free projection
    *     (16-byte md5 fingerprint, id, pos) — map-side-combined `min`
    *     on a struct; the shuffle carries ~28 bytes per paragraph
    *     occurrence, and duplicate-heavy corpora collapse hardest;
    *  2. the canonical set is re-keyed per doc into a sorted
    *     kept-position array (fingerprints dropped — positions only);
    *  3. the original (un-exploded) corpus joins that array on doc id
    *     — the single text exchange — and the rewrite is a map-only
    *     index-filtered array HOF; no explode-reassemble round trip. */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
      sep: String = "\n\n"): DataFrame = {
    val sepLit = java.util.regex.Pattern.quote(sep)
    val rows = df.select(col(idCol).as("id"),
        posexplode(split(col(textCol), sepLit)).as(Seq("pos", "para")))
      .select(col("id"), col("pos"), lineFp(col("para")).as("fp"))
    val keepPos = rows.groupBy("fp")
      .agg(min(struct(col("id"), col("pos"))).as("c"))
      .groupBy(col("c.id").as("id"))
      .agg(sort_array(collect_list(col("c.pos"))).as("__kp"))
    df.select(col(idCol).as("id"), split(col(textCol), sepLit).as("__ps"))
      .join(keepPos, Seq("id"), "left")
      .select(col("id"), col("__ps"),
        coalesce(col("__kp"), array().cast("array<int>")).as("__kp"))
      .select(col("id"),
        array_join(filter(col("__ps"),
          (_, i) => array_contains(col("__kp"), i)), sep).as("clean_text"),
        size(col("__kp")).cast("long").as("n_paras_kept"),
        (size(col("__ps")) - size(col("__kp"))).cast("long")
          .as("n_paras_dropped"))
  }

  /** C4-style per-line quality filter (Raffel et al. §2.1, parameters
    * exposed): keep a line iff
    *  - it has at least `minWords` whitespace words, and
    *  - (`requireTerminalPunct`) it ends in . ! ? or a closing quote, and
    *  - it contains none of `blocklist` (case-insensitive substring —
    *    the C4 "javascript"/"lorem ipsum"/"cookie policy" rule).
    * Documents are reassembled from surviving lines; map-only (the
    * filter is a per-row array HOF, no shuffle anywhere).
    * Output: (id, clean_text, n_lines_kept, n_lines_dropped). */
  def c4LineFilter(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 3, requireTerminalPunct: Boolean = false,
      blocklist: Seq[String] = Seq.empty): DataFrame = {
    def keep(l: Column): Column = {
      val words = size(split(trim(l), "\\s+")) >= minWords &&
        length(trim(l)) > 0
      val punct =
        if (requireTerminalPunct)
          trim(l).rlike("[.!?][\"']?$")
        else lit(true)
      val blocked = blocklist
        .map(b => lower(l).contains(lit(b.toLowerCase)))
        .foldLeft(lit(false))(_ || _)
      words && punct && !blocked
    }
    df.select(col(idCol).as("id"), split(col(textCol), "\n").as("__ls"))
      .select(col("id"), col("__ls"),
        filter(col("__ls"), keep _).as("__keep"))
      .select(col("id"),
        array_join(col("__keep"), "\n").as("clean_text"),
        size(col("__keep")).cast("long").as("n_lines_kept"),
        (size(col("__ls")) - size(col("__keep"))).cast("long")
          .as("n_lines_dropped"))
  }
}
