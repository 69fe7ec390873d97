package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregation operators from SURVEY.md §2.4 (A1–A11) and §2.5. All are
  * plain hash aggregates — Catalyst plans partial (map-side) + final
  * stages automatically, so shuffle volume is group keys × partial states,
  * not raw rows. No driver-side collect anywhere (the reference's
  * `load_to_gold_layer.py:76-96` collect-and-insert loop is deliberately
  * NOT reproduced).
  */
object Aggregates {

  /** A3 — descriptive-stats block: per-group min/max/avg/stddev of a set
    * of metrics, rounded. Reference: `EDA_silver.ipynb:566-586` (cell 18).
    * One aggregate pass for all metrics (the reference loops per metric).
    */
  def statsProfile(groupBy: Seq[String], metrics: Seq[String], scale: Int = 2)(
      df: DataFrame): DataFrame = {
    val aggs = metrics.flatMap { m =>
      Seq(
        round(min(col(m)), scale).as(s"min_$m"),
        round(max(col(m)), scale).as(s"max_$m"),
        round(avg(col(m)), scale).as(s"avg_$m"),
        round(stddev_samp(col(m)), scale).as(s"std_$m"))
    }
    df.groupBy(groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** A8/A9 — event-time tumbling-window aggregate (batch form; the
    * streaming form in [[graft.streaming.StreamOps]] is the same plan plus
    * a watermark). Reference: `NEW_train_offset_3_10min.py:124-136`
    * (10-min windows), `stream_eda.ipynb:300` (5-s pandas resample).
    * Emits `window_start` (timestamp) as the bucket key.
    */
  def timeBucketAgg(ts: String, duration: String, keys: Seq[String],
      aggs: Seq[Column])(df: DataFrame): DataFrame =
    df.groupBy(window(col(ts), duration) +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .drop("window")

  /** Grouped percentile block. `exact = true` uses SQL `percentile`
    * (reproducible to the digit in any ANSI engine — but it buffers
    * every value of a group in memory: dashboard-scale only).
    * `exact = false` is the 100 TB twin: `approx_percentile`'s
    * mergeable sketch holds O(accuracy) numbers per group regardless
    * of group size, with rank error <= 1/accuracy (the same
    * exact-for-oracles / sketch-for-scale pairing as
    * [[spearmanMinRank]] vs [[spearmanDistributed]]; accuracy-vs-exact
    * agreement is gated in RelationalSpec). */
  def percentiles(groupBy: Seq[String], valueCol: String,
      ps: Seq[(Double, String)], exact: Boolean = true,
      accuracy: Int = 10000, scale: Int = 4)(df: DataFrame): DataFrame = {
    val aggs = ps.map { case (p, name) =>
      val e =
        if (exact) expr(s"percentile($valueCol, $p)")
        else expr(s"approx_percentile($valueCol, $p, $accuracy)")
      round(e.cast("double"), scale).as(name)
    }
    df.groupBy(groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** A5 — Pearson correlation aggregate (optionally grouped).
    * Reference: `joined_streams.py:103-110` (`corr(bp_price, eth_ask)` over
    * per-minute means).
    */
  def pearson(groupBy: Seq[String], x: String, y: String, scale: Int = 6)(
      df: DataFrame): DataFrame = {
    val c = round(corr(col(x), col(y)), scale).as("corr")
    if (groupBy.isEmpty) df.agg(c)
    else df.groupBy(groupBy.map(col): _*).agg(c)
  }

  /** A6 — Spearman rank correlation, min-rank variant: rank each variable
    * globally, then Pearson over the ranks. Reference (pandas):
    * `Deliverable_4/app_2 NEW with joined.py:315,372`
    * (`corr(method='spearman')`). pandas uses average ranks for ties; we
    * use `rank()` (min rank) so the result is exactly reproducible in any
    * ANSI engine — divergence documented here.
    *
    * Scale note: global rank = global sort. For 100 TB inputs prefer the
    * grouped form (rank within partitions) or pre-aggregate; this operator
    * is meant for the reference's dashboard-sized metric frames.
    */
  def spearmanMinRank(x: String, y: String, scale: Int = 6)(df: DataFrame): DataFrame = {
    val rx = rank().over(Window.orderBy(col(x))).cast("double")
    val ry = rank().over(Window.orderBy(col(y))).cast("double")
    df.select(rx.as("rx"), ry.as("ry"))
      .agg(round(corr(col("rx"), col("ry")), scale).as("spearman"))
  }

  /** A6 — size-gated Spearman: the min-rank form below this threshold
    * (exact ANSI-oracle reproducibility, but its global rank is a
    * single-partition sort), the distributed ml.stat form beyond it.
    * The gate probes with `limit(maxExactRows + 1).count()` — bounded
    * work, never a full count of a huge frame. NOTE the two forms only
    * agree exactly on tie-free data (min ranks vs average ranks); on a
    * 100 TB frame the distributed path's average-rank semantics is the
    * one pandas/scipy users expect anyway. */
  def spearman(x: String, y: String, scale: Int = 6,
      maxExactRows: Int = 1000000)(df: DataFrame): DataFrame = {
    val small = df.limit(maxExactRows + 1).count() <= maxExactRows
    if (small) spearmanMinRank(x, y, scale)(df)
    else {
      val spark = df.sparkSession
      import spark.implicits._
      Seq(BigDecimal(spearmanDistributed(x, y)(df))
        .setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble)
        .toDF("spearman")
    }
  }

  /** A6, scale path — Spearman via `ml.stat.Correlation` (average ranks
    * for ties, distributed ranking under the hood: no single-partition
    * window). Use this form beyond dashboard-sized frames; the min-rank
    * variant above exists for exact ANSI-oracle reproducibility. */
  def spearmanDistributed(x: String, y: String)(df: DataFrame): Double = {
    val assembled = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array(x, y)).setOutputCol("__v")
      .transform(df.select(col(x).cast("double"), col(y).cast("double")))
    org.apache.spark.ml.stat.Correlation.corr(assembled, "__v", "spearman")
      .head().getAs[org.apache.spark.ml.linalg.Matrix](0)(0, 1)
  }

  /** A6 — full correlation matrix over a metric column set, one pass
    * (the dashboard computes pandas `corr()` matrices per symbol:
    * `app_2 NEW with joined.py:314-315,371-372`). method: "pearson" or
    * "spearman" (distributed ranking via ml.stat). Returns tidy rows
    * (metric_a, metric_b, corr) for all ordered pairs.
    *
    * Pearson runs all n^2 `corr` aggregates in ONE codegen'd agg pass
    * (single scan + one partial-agg shuffle of moment tuples) — the
    * RDD-based ml.stat route costs a vector copy per row and isn't
    * whole-stage-codegen'd. Pairwise null semantics (each cell ignores
    * rows null in its own pair), matching SQL `corr`. */
  def corrMatrix(metrics: Seq[String], method: String = "pearson",
      scale: Int = 6)(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = for { a <- metrics; b <- metrics } yield (a, b)
    if (method == "pearson") {
      val aggs = pairs.map { case (a, b) =>
        corr(col(a).cast("double"), col(b).cast("double")).as(s"${a}__$b") }
      val row = df.agg(aggs.head, aggs.tail: _*).head()
      val rows = pairs.zipWithIndex.map { case ((a, b), i) =>
        (a, b,
          if (row.isNullAt(i)) None
          else Some(BigDecimal(row.getDouble(i))
            .setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
      rows.toDF("metric_a", "metric_b", "corr")
    } else {
      val assembled = new org.apache.spark.ml.feature.VectorAssembler()
        .setInputCols(metrics.toArray).setOutputCol("__v")
        .setHandleInvalid("skip")
        .transform(df.select(metrics.map(m => col(m).cast("double")): _*))
      val m = org.apache.spark.ml.stat.Correlation.corr(assembled, "__v", method)
        .head().getAs[org.apache.spark.ml.linalg.Matrix](0)
      val rows = for {
        i <- metrics.indices
        j <- metrics.indices
      } yield (metrics(i), metrics(j),
        BigDecimal(m(i, j)).setScale(scale, BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
      rows.toDF("metric_a", "metric_b", "corr")
    }
  }

  /** Rolling z-score over a trailing row window — the dashboard-style
    * anomaly signal (how many trailing-window standard deviations the
    * current value sits from the trailing mean). Null until the window
    * has >= 2 rows (sample stddev undefined), matching SQL engines.
    * One shuffle on the partition key; the frame is rows-based so the
    * plan is a single streaming window scan. Include a unique
    * tie-breaker in `orderBy` for deterministic frames. */
  def rollingZscore(partitionBy: Seq[String], orderBy: Seq[Column],
      value: String, window: Int = 100, scale: Int = 4)(
      df: DataFrame): DataFrame = {
    val w = Window.partitionBy(partitionBy.map(col): _*)
      .orderBy(orderBy: _*)
      .rowsBetween(-(window - 1), Window.currentRow)
    val v = col(value).cast("double")
    df.withColumn("zscore",
      round((v - avg(v).over(w)) / stddev_samp(v).over(w), scale))
  }

  /** Multi-level subtotal aggregate via ROLLUP: the n+1 grouping sets
    * (every key prefix + the grand total) in ONE pass, tagged with the
    * grouping-id bitmask (`lvlCol`) so subtotal rows are
    * distinguishable from genuine null key values. Catalyst plans
    * rollup as a single Expand + hash aggregate — one scan and one
    * shuffle for all levels, vs n+1 scans for a union-of-groupbys
    * (the dashboard-total shape of SURVEY §2.4 A10, generalized). */
  def rollupAgg(keys: Seq[String], aggs: Seq[Column],
      lvlCol: String = "lvl")(df: DataFrame): DataFrame =
    df.rollup(keys.map(col): _*)
      .agg(grouping_id().cast("long").as(lvlCol), aggs: _*)

  /** All-combinations subtotals via CUBE (2^n grouping sets), same
    * single Expand + hash-aggregate plan shape as [[rollupAgg]].
    * Keep `keys` small: the Expand multiplies scan rows by 2^n. */
  def cubeAgg(keys: Seq[String], aggs: Seq[Column],
      lvlCol: String = "lvl")(df: DataFrame): DataFrame =
    df.cube(keys.map(col): _*)
      .agg(grouping_id().cast("long").as(lvlCol), aggs: _*)

  /** Pivot: one output column per `values` entry holding `agg` over
    * the matching rows — the long-to-wide reshape behind every
    * per-category dashboard block (A10). `values` is REQUIRED: with
    * an explicit list Spark plans a single pass of conditional
    * aggregates; omitting it costs an extra distinct job over the
    * pivot column before the plan can even be built (and an
    * unbounded-width schema at 100 TB). */
  def pivotAgg(groupBy: Seq[String], pivotCol: String,
      values: Seq[String], agg: Column)(df: DataFrame): DataFrame =
    df.groupBy(groupBy.map(col): _*).pivot(pivotCol, values).agg(agg)

  /** Single-pass approximate heavy hitters over an exploded item
    * column (the sketch twin of the exact top-k profile): wraps
    * Spark's `stat.freqItems` (Karp/Demaine one-pass counting — the
    * Misra-Gries family), whose guarantee is a SUPERSET: every item
    * with frequency > support*N is returned, possibly with false
    * positives, using O(1/support) memory per partition regardless of
    * corpus size. That memory bound is the 100 TB story — the exact
    * profile shuffles every distinct item's count; the sketch merges
    * 1/support-sized summaries. False positives are the documented
    * trade (callers needing exactness re-count just the candidates —
    * candidate-sized, not corpus-sized work). Output: one exploded
    * (item) row per surfaced candidate.
    *
    * The zero-miss guarantee is gate-checked (q_freq_tokens_gate:
    * recall == 1.0 vs the exact > support*N set, floor in-row). */
  def frequentItems(df: DataFrame, itemCol: String,
      support: Double): DataFrame =
    df.select(col(itemCol).as("item"))
      .stat.freqItems(Seq("item"), support)
      .select(explode(col("item_freqItems")).as("item"))

  /** Join-key skew diagnosis — the report that picks the join
    * strategy BEFORE the 100 TB shuffle burns: distinct-key count,
    * rows-per-key average, and the share of the hottest key / hottest
    * topK keys. max_share ≈ 1/parallelism means one reducer owns the
    * key's whole partition — reach for [[graft.operators.Joins
    * .saltedJoin]] (or AQE skew-split for sort-merge cases);
    * a small n_keys with modest rows means broadcast.
    *
    * One map-side-combined count per key (key-cardinality-sized
    * frame), one 1-row roll-up, one TakeOrdered(topK). Output: a
    * single bounded row. */
  def skewReport(df: DataFrame, keyCol: String, topK: Int = 5): DataFrame = {
    val counts = df.groupBy(col(keyCol).as("k"))
      .agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum(col("cnt")).as("total"),
      count(lit(1)).as("n_keys"), max(col("cnt")).as("mx"))
    val topk = counts.orderBy(col("cnt").desc, col("k")).limit(topK)
      .agg(sum(col("cnt")).as("topk"))
    totals.crossJoin(broadcast(topk))
      .select(lit(keyCol).as("key_col"),
        col("total").cast("long").as("n_rows"),
        col("n_keys").cast("long").as("n_keys"),
        round(col("total").cast("double") / col("n_keys"), 2)
          .as("avg_rows_per_key"),
        round(col("mx").cast("double") / col("total"), 6).as("max_share"),
        round(col("topk").cast("double") / col("total"), 6)
          .as(s"top${topK}_share"))
  }

  /** Count-Min point-frequency estimates for a bounded candidate set
    * (the frequency twin of [[frequentItems]]'s membership sketch):
    * wraps Spark's `stat.countMinSketch` (Cormode/Muthukrishnan CM
    * sketch — a distributed aggregate merging per-partition
    * d×w counter grids of w = ceil(2/eps) columns; the corpus never
    * leaves the executors, only O(d·w) counters do). The guarantee is
    * ONE-SIDED: estimate >= true count always, and
    * estimate <= true + eps·N with probability 1-delta. At 100 TB the
    * sketch answers "how often does item x occur" for any x in a
    * single already-merged structure — the exact answer is a full
    * distinct-count shuffle per refresh.
    *
    * `candidates` must be bounded (a top-k list, a blocklist — never
    * corpus-derived-unbounded): estimates are read driver-side from
    * the merged sketch. Output: (item, est) per candidate.
    *
    * Both bound sides are gate-checked (q_cms_gate: est in
    * [exact, exact + eps·N], floors in-row). */
  def countMinEstimates(df: DataFrame, itemCol: String,
      candidates: Seq[String], eps: Double, confidence: Double,
      seed: Int = 42): DataFrame = {
    val sketch = df.select(col(itemCol).as("item"))
      .stat.countMinSketch("item", eps, confidence, seed)
    val spark = df.sparkSession
    import spark.implicits._
    candidates.map(c => (c, sketch.estimateCount(c)))
      .toDF("item", "est")
  }

  /** KMV / theta-sketch set-operation estimates (Bar-Yossef et al.
    * 2002 k-minimum-values; the theta-sketch framing of Dasgupta et
    * al. 2016): distinct-count estimates for two key sets AND their
    * intersection / union from two k-row sketches — the set-operation
    * sibling of the HLL distinct sketch (HLL union is lossless but it
    * cannot intersect; KMV intersects). At 100 TB: "how many
    * part-supplier combos appear in BOTH quarters" is a full
    * distinct-shuffle of each side done exactly; the sketch answer
    * ships k=1024 doubles per side.
    *
    * Each side maps keys through native xxhash64 scaled to (0,1) and
    * keeps the k smallest DISTINCT hashes via the bounded-buffer
    * [[graft.functions.KmvAgg]] aggregator — ONE map-side-combined
    * pass per side, at most 2k doubles per partition on the shuffle,
    * no distinct-key exchange at all (a distinct+TakeOrdered plan
    * shuffles the full key set first, which is the exact computation's
    * own cost — measured 3x slower than exact at 2e7 keys; the
    * aggregator form is what makes the sketch the cheap path).
    * Estimates |A| = (k-1)/u_k; theta = min(u_k^A, u_k^B);
    * |A∩B| ≈ |{u in both sketches, u < theta}| / theta, |A∪B| likewise
    * over the sketch union. A side with fewer than k distinct keys is
    * EXACT (theta side = 1). RSE ≈ 1/sqrt(k-2) for the per-set counts;
    * intersection error additionally scales with 1/Jaccard —
    * q_theta_sketch_gate pins both IN-ROW against the exact twin.
    *
    * The two k-arrays are combined DRIVER-SIDE — bounded, k doubles
    * per side (the [[countMinEstimates]] convention: sketch state is
    * O(k), never corpus-sized). Output: ONE row
    * (est_a, est_b, est_intersection, est_union, theta). */
  def thetaSketchCompare(a: DataFrame, b: DataFrame, keyCol: String,
      k: Int = 1024): DataFrame = {
    require(k >= 16, s"k=$k too small for a stable estimate")
    // xxhash64 -> uniform (0,1): shift the signed long into [0, 2^64)
    // then scale; 53-bit double precision is the usual KMV hash width
    def sketchOf(df: DataFrame): Array[Double] = {
      val u = (xxhash64(col(keyCol)).cast("double") * lit(math.pow(2, -64))
        + lit(0.5))
      df.select(graft.functions.KmvAgg.kmv(k, u).as("sk"))
        .collect().head.getSeq[Double](0).toArray
    }
    val ska = sketchOf(a)
    val skb = sketchOf(b)
    def kth(s: Array[Double]): Double =
      if (s.length < k) 1.0 else s.last
    val theta = math.min(kth(ska), kth(skb))
    def est(s: Array[Double]): Double =
      if (s.length < k) s.length.toDouble else (k - 1.0) / s.last
    val sb = skb.toSet
    val ni = ska.count(u => u < theta && sb.contains(u))
    val nu = (ska ++ skb).distinct.count(_ < theta)
    val spark = a.sparkSession
    import spark.implicits._
    Seq((est(ska), est(skb), ni / theta, nu / theta, theta))
      .toDF("est_a", "est_b", "est_intersection", "est_union", "theta")
  }

  /** Inverse Poisson(1) CDF as a when-chain over hard-coded cumulative
    * thresholds (e^-1 · Σ 1/j!): identical literals on the oracle side
    * make the draw bit-reproducible across engines. Truncated at 9
    * (P(k>9|λ=1) < 1e-7). */
  private def poissonInv(u: Column): Column = {
    val cum = Seq(0.36787944117144233, 0.7357588823428847,
      0.9196986029286058, 0.9810118431238462, 0.9963401531726563,
      0.9994058151824183, 0.9999167588507119, 0.9999897508033253,
      0.9999988747969721)
    cum.zipWithIndex.foldRight(lit(9): Column) { case ((c, k), els) =>
      when(u < c, k).otherwise(els)
    }
  }

  /** Poisson-bootstrap percentile confidence interval for a mean
    * (Efron 1979 bootstrap; the Poisson(1)-weight formulation that
    * made it map-reducible — Chamandy et al. 2012, "Estimating
    * uncertainty for massive data streams"): instead of materializing
    * B resamples, every row carries B deterministic Poisson(1)
    * weights (hash-derived, so reproducible across runs, engines and
    * partitionings — the salted-md5 idiom), replicate b's mean is
    * Σwx/Σw, and the CI is the lower-percentile pair of the B
    * replicate means.
    *
    * Scale shape: the row×B explode never reaches the shuffle — the
    * (rep) hash aggregate partial-combines map-side, so B·partitions
    * rows move and the reduce side is B rows total. No resample
    * materialization, no driver-side loop; per-row cost is B hashes.
    * This is THE way to put error bars on a 100 TB mean: an exact
    * permutation/resample is corpus-sized per replicate.
    *
    * Replicate means are ROUNDED (`scale`) before ranking so the
    * rank selection is engine-stable; percentile convention is the
    * lower (kth-smallest, k = ceil(q·B)) rank. Output: ONE row
    * (n_rows, mean, ci_lo, ci_hi, b). */
  def bootstrapCi(df: DataFrame, keyCol: String, valueCol: String,
      b: Int = 200, alpha: Double = 0.05, salt: String = "boot",
      scale: Int = 6): DataFrame = {
    require(b >= 10, "need enough replicates for percentile ends")
    require(alpha > 0 && alpha < 1)
    val reps = df.select(col(keyCol).cast("string").as("__k"),
        col(valueCol).cast("double").as("__x"))
      .withColumn("__rep", explode(sequence(lit(1), lit(b))))
    val u = (conv(substring(md5(concat_ws(":", col("__k"),
        col("__rep").cast("string"), lit(salt))), 1, 13), 16, 10)
        .cast("double") + 1.0) / lit(math.pow(2, 52) + 2.0)
    val means = reps.withColumn("__w", poissonInv(u).cast("double"))
      .groupBy("__rep")
      .agg((sum(col("__w") * col("__x")) / sum(col("__w"))).as("__m"))
      .select(round(col("__m"), scale).as("m"))
    val loRank = math.ceil(alpha / 2 * b).toInt.max(1)
    val hiRank = math.ceil((1 - alpha / 2) * b).toInt.min(b)
    // B rows total: the single-partition window is a constant-size
    // driver-adjacent step, not a data-scaled sort
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("m"))
    val ci = means.withColumn("__rn", row_number().over(w))
      .agg(min(when(col("__rn") === loRank, col("m"))).as("ci_lo"),
        min(when(col("__rn") === hiRank, col("m"))).as("ci_hi"))
    val stats = df.agg(count(lit(1)).as("n_rows"),
      round(avg(col(valueCol).cast("double")), scale).as("mean"))
    stats.crossJoin(broadcast(ci)).withColumn("b", lit(b))
  }

  /** A11 — RMSE between a prediction and a label column, grouped.
    * Reference: `app_2 NEW with joined.py:235-236`
    * (`sqrt(mean((pred-label)**2))`).
    */
  def rmse(groupBy: Seq[String], pred: String, label: String, scale: Int = 4)(
      df: DataFrame): DataFrame = {
    val e = round(sqrt(avg(pow(col(pred) - col(label), lit(2)))), scale).as("rmse")
    if (groupBy.isEmpty) df.agg(e)
    else df.groupBy(groupBy.map(col): _*).agg(e)
  }

  /** Shannon entropy (nats) of a categorical column per group — the
    * diversity screen (is this source one-note? did a segment's event
    * mix collapse?). One (keys, cat) count, then entropy assembled
    * over the category-bounded frame via a window on the keys —
    * nothing row-scaled past the first aggregate. */
  def entropy(df: DataFrame, keys: Seq[String], catCol: String,
      scale: Int = 6): DataFrame = {
    val kc = keys.map(col)
    val counts = df.groupBy(kc :+ col(catCol).as("__c"): _*)
      .agg(count(lit(1)).as("__n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(kc: _*)
    counts
      .withColumn("__tot", sum(col("__n")).over(w))
      .groupBy(kc: _*)
      .agg(round(-sum((col("__n") / col("__tot")) *
        log(col("__n") / col("__tot"))), scale).as("entropy"),
        countDistinct(col("__c")).as("n_categories"),
        max(col("__tot")).as("n_rows"))
  }

  /** Wilson score interval for a per-group success rate — the
    * conversion-rate CI that stays sane at small n and extreme rates
    * (a plain normal interval leaks outside [0,1]). z defaults to
    * 1.96 (95%). One grouped pass; closed-form arithmetic both
    * engines evaluate identically. */
  def wilsonInterval(df: DataFrame, keys: Seq[String],
      successCol: String, z: Double = 1.96, scale: Int = 6): DataFrame = {
    val kc = keys.map(col)
    val agg = df.groupBy(kc: _*)
      .agg(sum(when(col(successCol).cast("boolean"), 1L).otherwise(0L))
        .as("n_success"), count(lit(1)).as("n"))
    val nD = col("n").cast("double")
    val p = col("n_success") / nD
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / nD
    val center = p + z2 / (lit(2.0) * nD)
    val spread = lit(z) * sqrt(p * (lit(1.0) - p) / nD +
      z2 / (lit(4.0) * nD * nD))
    agg.select(kc ++ Seq(col("n_success"), col("n"),
      round(p, scale).as("rate"),
      round((center - spread) / denom, scale).as("ci_lo"),
      round((center + spread) / denom, scale).as("ci_hi")): _*)
  }

  /** Seasonal-naive baseline forecast + backtest: predict each test
    * row by its (keys, hour-of-day) TRAIN mean and report the
    * per-key MAE — the baseline every fancier forecaster must beat,
    * and the drift smoke-test for metric pipelines.
    *
    * Scale shape: the model IS a (keys x 24)-bounded aggregate,
    * broadcast back onto the test side; one grouped pass each way,
    * no windows. */
  def seasonalBaseline(train: DataFrame, test: DataFrame,
      keys: Seq[String], ts: String, valueCol: String,
      scale: Int = 4): DataFrame = {
    val kc = keys.map(col)
    val model = train
      .groupBy(kc :+ hour(col(ts)).as("__h"): _*)
      .agg(avg(col(valueCol)).as("__pred"))
    test.withColumn("__h", hour(col(ts)))
      .join(broadcast(model), keys :+ "__h")
      .groupBy(kc: _*)
      .agg(round(avg(abs(col(valueCol) - col("__pred"))), scale)
        .as("mae"),
        count(lit(1)).as("n_test"))
  }

  /** Welch's two-sample t-test: means, the t statistic and the
    * Welch-Satterthwaite degrees of freedom for unequal-variance
    * samples — the A/B-test summary (is the metric difference real?).
    * One aggregate pass per side (mean + sample variance are
    * single-pass co-moments), all arithmetic on two 1-row frames.
    * Degenerate inputs (n<2 or both variances 0) yield null t/df
    * rather than Infinity. */
  def welchTTest(a: DataFrame, b: DataFrame, valueCol: String,
      scale: Int = 6): DataFrame = {
    val v = col(valueCol).cast("double")
    def side(df: DataFrame, tag: String): DataFrame = df.agg(
      avg(v).as(s"__m$tag"), var_samp(v).as(s"__v$tag"),
      count(v).as(s"n_$tag"))
    val sa = side(a, "a")
    val sb = side(b, "b")
    val se2 = col("__va") / col("n_a") + col("__vb") / col("n_b")
    val tStat = (col("__ma") - col("__mb")) /
      when(se2 > 0.0, sqrt(se2))
    val dof = (se2 * se2) /
      when(col("n_a") > 1L && col("n_b") > 1L && se2 > 0.0,
        pow(col("__va") / col("n_a"), 2) / (col("n_a") - 1L) +
          pow(col("__vb") / col("n_b"), 2) / (col("n_b") - 1L))
    sa.crossJoin(sb).select(
      round(col("__ma"), scale).as("mean_a"),
      round(col("__mb"), scale).as("mean_b"),
      round(tStat, scale).as("t_stat"),
      round(dof, scale).as("deg_f"),
      col("n_a"), col("n_b"))
  }

  /** Two-sample Kolmogorov-Smirnov statistic: D = max |F_a(x) -
    * F_b(x)| over the empirical CDFs — the distribution-shift
    * detector between two numeric samples (did this week's quality
    * scores drift from last week's?).
    *
    * Scale shape: the CDF needs a running count over globally-ordered
    * values — decomposed like [[graft.operators.Sessions.peakConcurrency]]
    * instead of one totally-ordered window: per-distinct-value
    * increments bucket into `buckets` equi-width value ranges,
    * running sums ride bucket-partitioned windows, and the cross-
    * bucket carry is a running sum over the BUCKETS-bounded frame,
    * broadcast back. Ties are handled by aggregating increments per
    * distinct value first, so the CDF is evaluated after each whole
    * tie group — identical to the single global running sum the SQL
    * oracle runs. */
  def ksTwoSample(a: DataFrame, b: DataFrame, valueCol: String,
      buckets: Int = 1024, scale: Int = 6): DataFrame = {
    require(buckets > 0)
    val v = col(valueCol).cast("double")
    val u = a.select(v.as("__v"), lit(1L).as("__ca"), lit(0L).as("__cb"))
      .unionByName(b.select(v.as("__v"), lit(0L).as("__ca"),
        lit(1L).as("__cb")))
    // lineage cut: the distinct-value frame feeds min/max, the
    // bucketed run, the carries and the totals — without it each
    // consumer re-derived both raw scans
    val inc = u.groupBy(col("__v"))
      .agg(sum(col("__ca")).as("__da"), sum(col("__cb")).as("__db"))
      .localCheckpoint(false)
    val mm = broadcast(inc.agg(min(col("__v")).as("__mn"),
      max(col("__v")).as("__mx")))
    val width = (col("__mx") - col("__mn")) / lit(buckets.toDouble)
    val bucketed = inc.crossJoin(mm)
      .withColumn("__bkt", when(width === 0.0, lit(0L)).otherwise(
        least(floor((col("__v") - col("__mn")) / width).cast("long"),
          lit(buckets - 1L))))
    val w = Window.partitionBy(col("__bkt")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = bucketed
      .withColumn("__ra", sum(col("__da")).over(w))
      .withColumn("__rb", sum(col("__db")).over(w))
    val wc = Window.orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = bucketed.groupBy(col("__bkt"))
      .agg(sum(col("__da")).as("__na"), sum(col("__db")).as("__nb"))
      .withColumn("__cca", coalesce(sum(col("__na")).over(wc), lit(0L)))
      .withColumn("__ccb", coalesce(sum(col("__nb")).over(wc), lit(0L)))
      .select(col("__bkt"), col("__cca"), col("__ccb"))
    val tot = broadcast(inc.agg(sum(col("__da")).as("__NA"),
      sum(col("__db")).as("__NB")))
    run.join(broadcast(carries), Seq("__bkt")).crossJoin(tot)
      .select(abs(
        (col("__ra") + col("__cca")) / col("__NA").cast("double") -
          (col("__rb") + col("__ccb")) / col("__NB").cast("double"))
        .as("__diff"), col("__NA"), col("__NB"))
      .agg(round(max(col("__diff")), scale).as("ks_stat"),
        max(col("__NA")).as("n_a"), max(col("__NB")).as("n_b"))
  }

  /** Exact ROC AUC by the midrank Mann-Whitney identity:
    * AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻), with R⁺ the positive rows'
    * midrank sum over the score ordering — ties get the average rank,
    * the textbook estimator. The binary-classifier eval you run over
    * a full corpus (quality-model scores vs labels) where sampling
    * would bias the tail.
    *
    * Scale shape — the [[ksTwoSample]] two-level construction: rows
    * collapse to the DISTINCT-SCORE frame in one map-side-combined
    * count, prefix sums ride value-range buckets (within-bucket
    * running sum + bucket-carry broadcast) so no global sort ever
    * touches data rows. Midranks stay in INTEGER arithmetic (×2, as
    * decimal(38,0) against n² overflow) until the single final
    * division, so the result is deterministic to the division — not
    * a float-accumulation race. Output: 1 row (auc, n_pos, n_neg);
    * auc is null when a class is empty. */
  def auc(df: DataFrame, labelCol: Column, scoreCol: Column,
      buckets: Int = 1024, scale: Int = 6): DataFrame = {
    require(buckets > 0)
    // lineage cut: the distinct-score frame feeds min/max, the run
    // window and the carries — one raw scan instead of four
    val g = df.select(scoreCol.cast("double").as("__v"),
        when(labelCol, 1L).otherwise(0L).as("__y"))
      .groupBy(col("__v"))
      .agg(count(lit(1)).as("__cnt"), sum(col("__y")).as("__pos"))
      .localCheckpoint(false)
    val mm = broadcast(g.agg(min(col("__v")).as("__mn"),
      max(col("__v")).as("__mx")))
    val width = (col("__mx") - col("__mn")) / lit(buckets.toDouble)
    val bucketed = g.crossJoin(mm)
      .withColumn("__bkt", when(width === 0.0, lit(0L)).otherwise(
        least(floor((col("__v") - col("__mn")) / width).cast("long"),
          lit(buckets - 1L))))
    val w = Window.partitionBy(col("__bkt")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wc = Window.orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = bucketed.groupBy(col("__bkt"))
      .agg(sum(col("__cnt")).as("__bn"))
      .withColumn("__carry", coalesce(sum(col("__bn")).over(wc), lit(0L)))
      .select(col("__bkt"), col("__carry"))
    bucketed
      .withColumn("__run", sum(col("__cnt")).over(w))
      .join(broadcast(carries), Seq("__bkt"))
      // cumBefore = (carry + within-bucket run) − own count;
      // 2·midrank = 2·cumBefore + cnt + 1 keeps everything integral
      .select((col("__pos").cast("decimal(38,0)") *
          (lit(2) * (col("__carry") + col("__run") - col("__cnt")) +
            col("__cnt") + lit(1)).cast("decimal(38,0)")).as("__r2"),
        col("__cnt"), col("__pos"))
      .agg(sum(col("__r2")).as("__R2"),
        sum(col("__pos")).cast("decimal(38,0)").as("__np"),
        sum(col("__cnt")).cast("decimal(38,0)").as("__n"))
      .select(
        when(col("__np") > 0 && (col("__n") - col("__np")) > 0,
          round((col("__R2") - col("__np") * (col("__np") + lit(1)))
              .cast("double") /
            (lit(2.0) * col("__np").cast("double") *
              (col("__n") - col("__np")).cast("double")), scale))
          .as("auc"),
        col("__np").cast("long").as("n_pos"),
        (col("__n") - col("__np")).cast("long").as("n_neg"))
  }

  /** Precision/recall threshold sweep — the PR-curve table at exact
    * score percentiles: per threshold, the full confusion quadrant
    * (tp/fp/fn/tn) plus precision, recall, F1. [[auc]] ranks the
    * classifier; this picks its operating point.
    *
    * Scale shape: data rows are touched ONCE (the map-side-combined
    * collapse to the distinct-score frame) plus one percentile
    * aggregate; the probs-sized threshold frame cross-joins the
    * DISTINCT frame, never the data, so the sweep costs
    * |thresholds|x|distinct scores| frame rows. Counts are integral;
    * ratios are the only doubles, rounded once at the end. Percentile
    * thresholds may differ from another engine's at the last ulp, but
    * interpolated cuts land strictly between adjacent distinct values,
    * so the >= comparisons — and every count — are ulp-insensitive. */
  def prCurve(df: DataFrame, labelCol: Column, scoreCol: Column,
      probs: Seq[Double] = (1 to 9).map(_ / 10.0),
      scale: Int = 6): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p < 1))
    val base = df.select(scoreCol.cast("double").as("__v"),
      when(labelCol, 1L).otherwise(0L).as("__y"))
    // lineage cut: the distinct-score frame feeds the percentile
    // thresholds, the totals and the sweep — one raw scan
    val g = base.groupBy(col("__v"))
      .agg(count(lit(1)).as("__cnt"), sum(col("__y")).as("__pos"))
      .localCheckpoint(false)
    val probsArr = probs.map(p => s"${p}D").mkString(",")
    val thr = g.agg(expr(
        s"percentile(__v, array($probsArr), __cnt) AS __thrs"))
      .select(posexplode(col("__thrs")).as(Seq("__i", "threshold")))
      .select(element_at(expr(s"array($probsArr)"),
        col("__i").cast("int") + 1).as("prob"), col("threshold"))
    val tot = broadcast(g.agg(sum(col("__pos")).as("__np"),
      sum(col("__cnt")).as("__n")))
    g.crossJoin(broadcast(thr))
      .groupBy(col("prob"), col("threshold"))
      .agg(sum(when(col("__v") >= col("threshold"), col("__pos"))
          .otherwise(0L)).as("tp"),
        sum(when(col("__v") >= col("threshold"),
          col("__cnt") - col("__pos")).otherwise(0L)).as("fp"))
      .crossJoin(tot)
      .select(col("prob"), round(col("threshold"), 4).as("threshold"),
        col("tp"), col("fp"),
        (col("__np") - col("tp")).as("fn"),
        (col("__n") - col("__np") - col("fp")).as("tn"),
        // "prec" not "precision": DOUBLE PRECISION makes the natural
        // name a reserved word in ANSI oracles
        round(col("tp").cast("double") /
          nullif(col("tp") + col("fp"), lit(0L)), scale).as("prec"),
        round(col("tp").cast("double") /
          nullif(col("__np"), lit(0L)), scale).as("recall"),
        round(lit(2.0) * col("tp").cast("double") /
          nullif(lit(2L) * col("tp") + col("fp") +
            (col("__np") - col("tp")), lit(0L)), scale).as("f1"))
  }

  /** Quantile-quantile drift table between two samples: exact
    * percentiles of both sides at the given probabilities, side by
    * side with the per-quantile shift — WHERE the distribution moved
    * (the location companion to [[ksTwoSample]]'s single max-gap
    * number: a tail-only drift shows up at p=0.9 and nowhere else).
    *
    * Scale shape: one percentile aggregate per side (1-row array
    * results), zipped and exploded to a probs-bounded frame — no
    * joins over data rows. Exact percentiles for oracle duty; swap
    * [[percentiles]]' approx form at 100 TB. */
  def qqDrift(a: DataFrame, b: DataFrame, valueCol: String,
      probs: Seq[Double] = (1 to 9).map(_ / 10.0),
      scale: Int = 6): DataFrame = {
    require(probs.nonEmpty)
    val ps = probs.mkString(", ")
    def side(df: DataFrame, out: String) = df.agg(
      expr(s"percentile(CAST($valueCol AS DOUBLE), array($ps))").as(out))
    side(a, "__qa").crossJoin(side(b, "__qb"))
      .select(explode(arrays_zip(
        array(probs.map(lit): _*).as("p"),
        col("__qa").as("q_a"), col("__qb").as("q_b"))).as("__z"))
      .select(col("__z.p").as("p"),
        round(col("__z.q_a"), scale).as("q_a"),
        round(col("__z.q_b"), scale).as("q_b"),
        round(col("__z.q_b") - col("__z.q_a"), scale).as("shift"))
  }

  /** Pareto / ABC classification over an aggregated (key, value)
    * frame: rank keys by value descending, classify by inclusive
    * cumulative share against `thresholds` (A ≤ t1, B ≤ t2, else C),
    * and report each class's key count, total and share — the
    * inventory-analytics 80/15/5 screen.
    *
    * Scale shape: the cumulative sum uses the same two-level
    * bucketed-rank decomposition as [[gini]] — equi-width value
    * buckets partition the descending order, the within-bucket running
    * sum rides a bucket-partitioned window, and the cross-bucket carry
    * is a windows-over-BUCKET-COUNT frame broadcast back; no global
    * single-partition sort at any width. Ties break on the key, so the
    * order (and the classes) are engine-reproducible. */
  def paretoClasses(df: DataFrame, keyCol: String, valueCol: String,
      thresholds: Seq[Double] = Seq(0.8, 0.95), buckets: Int = 1024,
      scale: Int = 6): DataFrame = {
    require(thresholds.size == 2 && thresholds(0) < thresholds(1),
      "expect two ascending share thresholds")
    val v = col(valueCol).cast("double")
    val mm = broadcast(df.agg(min(v).as("__mn"), max(v).as("__mx"),
      sum(v).as("__tot")))
    val width = (col("__mx") - col("__mn")) / lit(buckets.toDouble)
    // bucket 0 holds the LARGEST values: descending order = ascending
    // bucket ids, so the carry is "sum of all higher-value buckets"
    // lineage cut: the rank window and the carry aggregate both
    // consume this frame — without it each consumer re-derives the
    // fact scan (same fix as weightedPercentiles; narrow columns)
    val bucketed = df.select(col(keyCol).as("__k"), v.as("__v"))
      .crossJoin(mm)
      .withColumn("__bkt", when(width === 0.0, lit(0L)).otherwise(
        least(floor((col("__mx") - col("__v")) / width).cast("long"),
          lit(buckets - 1L))))
      .localCheckpoint(false)
    val w = Window.partitionBy(col("__bkt"))
      .orderBy(col("__v").desc, col("__k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = bucketed.withColumn("__run", sum(col("__v")).over(w))
    val wc = Window.orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = bucketed.groupBy(col("__bkt"))
      .agg(sum(col("__v")).as("__bv"))
      .withColumn("__carry", coalesce(sum(col("__bv")).over(wc), lit(0.0)))
      .select(col("__bkt"), col("__carry"))
    val share = run.join(broadcast(carries), Seq("__bkt"))
      .withColumn("__share", (col("__run") + col("__carry")) / col("__tot"))
    share
      .withColumn("pareto_class",
        when(col("__share") <= thresholds(0), "A")
          .when(col("__share") <= thresholds(1), "B").otherwise("C"))
      .groupBy(col("pareto_class"))
      .agg(count(lit(1)).as("n_keys"),
        round(sum(col("__v")), 2).as("revenue"),
        round(sum(col("__v")) / max(col("__tot")), scale)
          .as("revenue_share"))
  }

  /** Period-over-period report: bucket a timestamped value stream to
    * calendar months, then stamp each month's total with its
    * month-over-month and year-over-year growth — the first BI page
    * of any revenue dashboard.
    *
    * Scale shape: raw rows collapse to the month-cardinality frame in
    * one map-side-combined aggregate; both lags ride a single window
    * over that bounded frame. */
  def periodOverPeriod(df: DataFrame, tsCol: String, valueCol: String,
      scale: Int = 6): DataFrame = {
    val monthly = df
      .groupBy(date_format(col(tsCol), "yyyy-MM").as("month"))
      .agg(sum(col(valueCol).cast("double")).as("__rev"))
    val w = Window.orderBy(col("month"))
    monthly.select(col("month"),
      round(col("__rev"), 2).as("revenue"),
      round(col("__rev") / lag(col("__rev"), 1).over(w) - 1.0, scale)
        .as("mom"),
      round(col("__rev") / lag(col("__rev"), 12).over(w) - 1.0, scale)
        .as("yoy"))
  }

  /** CUSUM change-point screen per key: cumulative sum of deviations
    * from the key's series mean over the daily-mean series; the day
    * where |S| peaks is the classic single-change-point estimate, and
    * the peak height (vs the series' spread) is the evidence. Peak
    * selection rounds |S| first and tie-breaks on the day, so the
    * argmax is engine-reproducible.
    *
    * Scale shape: raw rows collapse to (keys × days) in one
    * aggregate; the running sum and the argmax ride key-partitioned
    * windows over that bounded frame. */
  def cusumChangePoint(df: DataFrame, keyCols: Seq[String], tsCol: String,
      valueCol: String, scale: Int = 6): DataFrame = {
    val daily = df
      .groupBy((keyCols.map(col) :+ to_date(col(tsCol)).as("__day")): _*)
      .agg(avg(col(valueCol)).as("__v"))
    val mu = daily.groupBy(keyCols.map(col): _*)
      .agg(avg(col("__v")).as("__mu"), count(lit(1)).as("__nd"))
    val wr = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withS = daily.join(mu, keyCols)
      .withColumn("__s", sum(col("__v") - col("__mu")).over(wr))
      .withColumn("__abs", round(abs(col("__s")), scale))
    val pick = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__abs").desc, col("__day"))
    withS.withColumn("__rn", row_number().over(pick))
      .filter(col("__rn") === 1)
      .select(keyCols.map(col) :+ col("__day").as("change_day") :+
        col("__abs").as("cusum_peak") :+ col("__nd").as("n_days"): _*)
  }

  /** Autocorrelation function over a per-key daily-mean series: for
    * each key and each lag 1..maxLag, the Pearson correlation between
    * the series and its lag-shifted self — the standard seasonality /
    * momentum screen ("does today's metric predict tomorrow's?").
    *
    * Scale shape: the raw stream collapses to a (keys × days)-bounded
    * frame in ONE map-side-combined aggregate; the lag columns ride a
    * single key-partitioned window pass over that bounded frame (all
    * maxLag shifts in one sort), and the stacked corr is a group on
    * (key, lag) — nothing afterwards scales with raw rows. */
  def autocorrelation(df: DataFrame, keyCols: Seq[String], tsCol: String,
      valueCol: String, maxLag: Int = 5, scale: Int = 6): DataFrame = {
    require(maxLag >= 1, "need at least lag 1")
    val daily = df
      .groupBy((keyCols.map(col) :+ to_date(col(tsCol)).as("__day")): _*)
      .agg(avg(col(valueCol)).as("__v"))
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__day"))
    val lagged = (1 to maxLag).foldLeft(daily)((d, i) =>
      d.withColumn(s"__l$i", lag(col("__v"), i).over(w)))
    val stacked = (1 to maxLag)
      .map(i => s"$i, __v, __l$i").mkString(", ")
    lagged
      .selectExpr(keyCols :+
        s"stack($maxLag, $stacked) AS (`lag`, __v, __lv)": _*)
      .groupBy((keyCols.map(col) :+ col("lag")): _*)
      .agg(round(corr(col("__v"), col("__lv")), scale).as("acf"),
        count(col("__lv")).as("n_pairs"))
  }

  /** Partial autocorrelation at lags 1–3 by the Durbin–Levinson
    * recursion over [[autocorrelation]]'s (rounded) r₁..r₃ — the
    * AR-order screen that separates direct lag influence from what
    * lower lags already explain:
    *   φ₁₁ = r₁; φ₂₂ = (r₂−r₁²)/(1−r₁²); φ₂₁ = φ₁₁−φ₂₂·φ₁₁;
    *   φ₃₃ = (r₃−φ₂₁r₂−φ₂₂r₁)/(1−φ₂₁r₁−φ₂₂r₂).
    * Degenerate denominators (|r₁| = 1 etc.) yield null, not a
    * crash. Consumes the SAME rounded acf both engines emit, and
    * applies the identical expression tree, so the 6-digit round is
    * hash-stable.
    *
    * Scale shape: everything after the acf aggregate rides the
    * (groups × 3)-row frame — pivot, arithmetic, stack. */
  def pacf(df: DataFrame, keyCols: Seq[String], tsCol: String,
      valueCol: String, scale: Int = 6): DataFrame = {
    val kc = keyCols.map(col)
    val r = autocorrelation(df, keyCols, tsCol, valueCol, maxLag = 3,
      scale = scale)
    r.groupBy(kc: _*)
      .agg(max(when(col("lag") === 1, col("acf"))).as("__r1"),
        max(when(col("lag") === 2, col("acf"))).as("__r2"),
        max(when(col("lag") === 3, col("acf"))).as("__r3"))
      .withColumn("__p11", col("__r1"))
      .withColumn("__p22",
        when(lit(1.0) - col("__r1") * col("__r1") =!= 0.0,
          (col("__r2") - col("__r1") * col("__r1")) /
            (lit(1.0) - col("__r1") * col("__r1"))))
      .withColumn("__p21", col("__p11") - col("__p22") * col("__p11"))
      .withColumn("__p33",
        when(lit(1.0) - col("__p21") * col("__r1") -
          col("__p22") * col("__r2") =!= 0.0,
          (col("__r3") - col("__p21") * col("__r2") -
            col("__p22") * col("__r1")) /
            (lit(1.0) - col("__p21") * col("__r1") -
              col("__p22") * col("__r2"))))
      .selectExpr(keyCols :+
        "stack(3, 1, __p11, 2, __p22, 3, __p33) AS (`lag`, __pacf)": _*)
      .select(kc :+ col("lag") :+
        round(col("__pacf"), scale).as("pacf"): _*)
  }

  /** Mutual information between two categorical columns, in nats, with
    * the marginal entropies and the sqrt-normalized NMI — the
    * association strength that, unlike chi-square, reads directly as
    * "bits of one column knowable from the other".
    *
    * Scale shape: ONE count pass over the raw rows to the |X|×|Y|
    * joint table; marginals, entropies and the MI sum are all
    * arithmetic over that category-bounded frame (windows + one final
    * agg), with nothing row-scaled after the first exchange. */
  def mutualInfo(df: DataFrame, xCol: String, yCol: String,
      scale: Int = 6): DataFrame = {
    val joint = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("__x"), col(yCol).as("__y"))
      .agg(count(lit(1)).as("__n"))
    val withP = joint
      .crossJoin(broadcast(joint.agg(sum(col("__n")).as("__t"))))
      .withColumn("__nx", sum(col("__n")).over(Window.partitionBy(col("__x"))))
      .withColumn("__ny", sum(col("__n")).over(Window.partitionBy(col("__y"))))
      .select(
        (col("__n") / col("__t")).as("__p"),
        (col("__nx") / col("__t")).as("__px"),
        (col("__ny") / col("__t")).as("__py"),
        col("__n"), col("__nx"), col("__ny"), col("__t"))
    withP.agg(
      round(sum(col("__p") * log(col("__p") / (col("__px") * col("__py")))),
        scale).as("mi_nats"),
      // marginal entropies: each joint cell contributes p * ln(px)
      // grouped by x exactly once per x across its cells — summing
      // p*ln(px) over ALL cells reproduces sum_x px*ln(px)
      round(-sum(col("__p") * log(col("__px"))), scale).as("h_x"),
      round(-sum(col("__p") * log(col("__py"))), scale).as("h_y"),
      round(sum(col("__p") * log(col("__p") / (col("__px") * col("__py")))) /
        sqrt(sum(col("__p") * log(col("__px"))) *
          sum(col("__p") * log(col("__py")))), scale).as("nmi"),
      max(col("__t")).as("n"))
  }

  /** Zipf power-law fit over a frequency table: OLS of ln(count) on
    * ln(rank) for the top-N entries — slope ≈ -1 is the Zipf
    * signature; a flatter slope flags synthetic or templated text and
    * feeds tokenizer-vocabulary sizing. Rank ties break on the term
    * for cross-engine determinism.
    *
    * Scale shape: the frequency table is top-N'd via
    * TakeOrderedAndProject (k-bounded, no global sort materialized);
    * ranking and the closed-form regression run on N rows. */
  def zipfSlope(df: DataFrame, termCol: String, countCol: String,
      topN: Int = 1000, scale: Int = 6): DataFrame = {
    require(topN >= 2, "regression needs at least two ranks")
    val top = df.select(col(termCol).as("__w"), col(countCol).as("__c"))
      .orderBy(col("__c").desc, col("__w")).limit(topN)
    val ranked = top.withColumn("__r",
      row_number().over(Window.orderBy(col("__c").desc, col("__w"))))
    ranked.agg(
      round(expr("regr_slope(ln(CAST(__c AS DOUBLE)), ln(CAST(__r AS DOUBLE)))"), scale).as("slope"),
      round(expr("regr_intercept(ln(CAST(__c AS DOUBLE)), ln(CAST(__r AS DOUBLE)))"), scale).as("intercept"),
      round(expr("regr_r2(ln(CAST(__c AS DOUBLE)), ln(CAST(__r AS DOUBLE)))"), scale).as("r2"),
      count(lit(1)).as("n_terms"))
  }

  /** Benford first-digit deviation — the data-forensics screen for
    * fabricated or truncated numeric columns: observed first-
    * significant-digit shares vs Benford's log10(1 + 1/d), one row
    * per digit plus the share delta. Judge with the mean absolute
    * deviation downstream (<0.006 conforming, >0.015 suspect by the
    * Nigrini rule of thumb). One map-side digit extraction + a
    * 9-row-bounded aggregate; only strictly-positive values
    * participate (Benford is undefined elsewhere). */
  def benford(df: DataFrame, valueCol: String,
      scale: Int = 6): DataFrame = {
    val v = col(valueCol).cast("double")
    val digit = floor(v / pow(lit(10.0), floor(log10(v)))).cast("int")
    val counts = df.filter(v > 0.0)
      .select(digit.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    counts.crossJoin(broadcast(counts.agg(sum(col("n")).as("__t"))))
      .select(col("digit"), col("n"),
        round(col("n") / col("__t").cast("double"), scale).as("observed"),
        round(log10(lit(1.0) + lit(1.0) / col("digit")), scale)
          .as("expected"),
        round(abs(col("n") / col("__t").cast("double") -
          log10(lit(1.0) + lit(1.0) / col("digit"))), scale).as("abs_dev"))
  }

  /** Top-share concentration: what fraction of the column's total sits
    * at or above the p-th percentile ("the top decile holds X% of
    * revenue") — the one-number Lorenz summary lighter than [[gini]].
    * One exact-percentile aggregate broadcast back + one conditional
    * sum; ties at the threshold are included on the top side in both
    * engines. */
  def topShare(df: DataFrame, valueCol: String, p: Double = 0.9,
      scale: Int = 6): DataFrame = {
    require(p > 0 && p < 1)
    val v = col(valueCol).cast("double")
    val thr = df.agg(expr(
      s"percentile(CAST($valueCol AS DOUBLE), $p)").as("__thr"))
    df.select(v.as("__v")).crossJoin(broadcast(thr))
      .agg(round(max(col("__thr")), scale).as("threshold"),
        round(sum(when(col("__v") >= col("__thr"), col("__v"))
          .otherwise(lit(0.0))) / sum(col("__v")), scale).as("top_share"),
        sum(when(col("__v") >= col("__thr"), 1L).otherwise(0L))
          .as("n_top"),
        count(lit(1)).as("n"))
  }

  /** Population Stability Index between an EXPECTED (training /
    * last-period) and ACTUAL (serving / this-period) sample of a
    * numeric column — the industry-standard model-monitoring drift
    * score (rule of thumb: <0.1 stable, 0.1-0.25 watch, >0.25 act).
    * Bins are equi-width over the EXPECTED sample's [min, max] with
    * open-ended edge bins so actual values outside the training range
    * land in the boundary bins instead of vanishing; empty shares are
    * floored at `eps` so PSI stays finite.
    *
    * Scale shape: a 1-row min/max pass on expected (broadcast), one
    * map-side bucket count per side, then arithmetic on two
    * bins-bounded frames. */
  def psi(expected: DataFrame, actual: DataFrame, valueCol: String,
      bins: Int = 10, eps: Double = 1e-4, scale: Int = 6): DataFrame = {
    require(bins > 0)
    val v = col(valueCol).cast("double")
    val mm = broadcast(expected.agg(min(v).as("__mn"), max(v).as("__mx")))
    def share(df: DataFrame, tag: String): DataFrame = {
      val width = (col("__mx") - col("__mn")) / lit(bins.toDouble)
      val binned = df.select(v.as("__v")).crossJoin(mm)
        .withColumn("__bin", when(width === 0.0, lit(0L)).otherwise(
          least(greatest(
            floor((col("__v") - col("__mn")) / width).cast("long"),
            lit(0L)), lit(bins - 1L))))
        .groupBy(col("__bin")).agg(count(lit(1)).as(s"__n_$tag"))
      binned.crossJoin(broadcast(
          binned.agg(sum(col(s"__n_$tag")).as(s"__t_$tag"))))
        .select(col("__bin"), greatest(
          col(s"__n_$tag") / col(s"__t_$tag").cast("double"), lit(eps))
          .as(s"__p_$tag"))
    }
    val e = share(expected, "e")
    val a = share(actual, "a")
    e.join(a, Seq("__bin"), "full_outer")
      .select(coalesce(col("__p_e"), lit(eps)).as("__pe"),
        coalesce(col("__p_a"), lit(eps)).as("__pa"))
      .agg(round(sum((col("__pa") - col("__pe")) *
        log(col("__pa") / col("__pe"))), scale).as("psi"),
        count(lit(1)).as("n_bins"))
  }

  /** Gini concentration index over a non-negative value column —
    * "what share of revenue sits with the top customers" as one
    * number in [0, 1): G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n over the
    * ascending-sorted values. Equal values commute inside Σ i·x, so
    * tie order cannot change the result.
    *
    * Scale shape: the global rank i decomposes exactly like
    * [[graft.operators.Sessions.peakConcurrency]] — equi-width value
    * buckets, row_number within bucket windows, plus a
    * BUCKETS-bounded count-carry broadcast back; one final 1-row
    * aggregate. The SQL oracle runs the single global row_number. */
  def gini(df: DataFrame, valueCol: String, buckets: Int = 1024,
      scale: Int = 6): DataFrame = {
    require(buckets > 0)
    val v = col(valueCol).cast("double")
    val mm = broadcast(df.agg(min(v).as("__mn"), max(v).as("__mx")))
    val width = (col("__mx") - col("__mn")) / lit(buckets.toDouble)
    // lineage cut — see paretoClasses/weightedPercentiles: ranked and
    // carries both consume this frame
    val bucketed = df.select(v.as("__v")).crossJoin(mm)
      .withColumn("__bkt", when(width === 0.0, lit(0L)).otherwise(
        least(floor((col("__v") - col("__mn")) / width).cast("long"),
          lit(buckets - 1L))))
      .localCheckpoint(false)
    val w = Window.partitionBy(col("__bkt")).orderBy(col("__v"))
    val ranked = bucketed.withColumn("__r", row_number().over(w))
    val wc = Window.orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = bucketed.groupBy(col("__bkt"))
      .agg(count(lit(1)).as("__bn"))
      .withColumn("__carry", coalesce(sum(col("__bn")).over(wc), lit(0L)))
      .select(col("__bkt"), col("__carry"))
    ranked.join(broadcast(carries), Seq("__bkt"))
      .agg(
        round(lit(2.0) * sum((col("__r") + col("__carry")) * col("__v")) /
          (count(lit(1)) * sum(col("__v"))) -
          (count(lit(1)) + lit(1L)).cast("double") / count(lit(1)), scale)
          .as("gini"),
        count(lit(1)).as("n"),
        round(sum(col("__v")), 2).as("total"))
  }

  /** Distinct-set overlap estimate by HLL inclusion-exclusion:
    * |A∩B| ≈ hll(A) + hll(B) - hll(A∪B) — the audience-overlap
    * estimator that never materializes either key set (three
    * mergeable sketches vs an exact distinct join). The EXACT overlap
    * is computed alongside (per-key flag aggregate) and the relative
    * error is stamped IN-ROW with a `pass` gate, mirroring the
    * q_freq_tokens_gate discipline: a drifting sketch drops the row.
    * Inclusion-exclusion COMPOUNDS the three sketches' errors, so the
    * floor sits above a single sketch's rsd. */
  def distinctOverlapGate(a: DataFrame, b: DataFrame, keyCol: String,
      maxRelErr: Double = 0.15): DataFrame = {
    val ta = a.select(col(keyCol).as("__k"), lit(1).as("__ta"),
      lit(0).as("__tb"))
    val tb = b.select(col(keyCol).as("__k"), lit(0).as("__ta"),
      lit(1).as("__tb"))
    val u = ta.unionByName(tb)
    val approx = u.agg(
      approx_count_distinct(when(col("__ta") === 1, col("__k"))).as("__ca"),
      approx_count_distinct(when(col("__tb") === 1, col("__k"))).as("__cb"),
      approx_count_distinct(col("__k")).as("__cu"))
    val exact = u.groupBy(col("__k"))
      .agg(max(col("__ta")).as("__a"), max(col("__tb")).as("__b"))
      .agg(sum(when(col("__a") === 1 && col("__b") === 1, 1L)
        .otherwise(0L)).as("n_exact"))
    approx.crossJoin(exact)
      .select(
        (col("__ca") + col("__cb") - col("__cu")).as("n_est"),
        col("n_exact"),
        round(abs(col("__ca") + col("__cb") - col("__cu") -
          col("n_exact")) /
          when(col("n_exact") =!= 0L, col("n_exact").cast("double")), 6)
          .as("rel_err"),
        lit(maxRelErr).as("max_rel_err"))
      .withColumn("pass", col("rel_err") <= col("max_rel_err"))
  }

  /** Additive seasonal decomposition of a daily series (the classical
    * decompose / STL-lite shape): y = trend + seasonal + remainder,
    * with trend a centered `period`-day moving average, seasonal the
    * per-phase mean of the detrended series re-centered to sum to
    * zero, and remainder what's left. The "is this spike real or just
    * Saturday" separation a drift monitor needs before alerting.
    *
    * Engine-portability: the daily sums are rounded ONCE up front, so
    * every downstream mean/difference is derived from identical
    * doubles in both engines; the phase index is pure day arithmetic
    * ((day − first day) mod period), never a locale-dependent
    * weekday function. Scale shape: rows collapse to the
    * DAY-cardinality frame in one map-side-combined pass; the trend
    * window, the phase means (period-sized), and the re-centering
    * 1-row mean all ride that bounded frame. */
  def seasonalDecompose(df: DataFrame, tsCol: Column, valueCol: Column,
      period: Int = 7, scale: Int = 6): DataFrame = {
    require(period > 1)
    val half = period / 2
    // lineage cut: the anchor, trend window, phase means and final
    // assembly all consume the day-cardinality frame — without it
    // each branch re-derives the raw scan (measured 20 scans in
    // q_seasonal_outliers' executed plan before the cut)
    val daily = df.groupBy(to_date(tsCol).as("day"))
      .agg(round(sum(valueCol), scale).as("y"))
      .localCheckpoint(false)
    val wTrend = Window.orderBy(col("day")).rowsBetween(-half, half)
    val anchor = broadcast(daily.agg(min(col("day")).as("__d0")))
    val detr = daily.crossJoin(anchor)
      .withColumn("__trend", avg(col("y")).over(wTrend))
      .withColumn("__detr", col("y") - col("__trend"))
      .withColumn("__phase",
        pmod(datediff(col("day"), col("__d0")), lit(period)))
    val phaseMeans = detr.groupBy(col("__phase"))
      .agg(avg(col("__detr")).as("__praw"))
    val center = broadcast(phaseMeans.agg(avg(col("__praw")).as("__c")))
    detr
      .join(broadcast(phaseMeans), Seq("__phase"))
      .crossJoin(center)
      .select(
        date_format(col("day"), "yyyy-MM-dd").as("day"), col("y"),
        round(col("__trend"), scale).as("trend"),
        round(col("__praw") - col("__c"), scale).as("seasonal"),
        round(col("__detr") - (col("__praw") - col("__c")), scale)
          .as("remainder"))
  }

  /** Seasonal anomaly screen: decompose the daily series with
    * [[seasonalDecompose]], then flag the days whose remainder sits
    * more than k robust sigmas (1.4826·MAD) from the remainder
    * median — "which days were genuinely unusual AFTER the weekly
    * rhythm and the trend are explained away". The STL-residual
    * outlier rule, composed from two operators already proven exact.
    *
    * Scale shape: everything after the decompose's daily collapse is
    * day-cardinality; the median/MAD gate is two exact-percentile
    * aggregates broadcast back. Constants multiply FIRST (k·1.4826)
    * so both engines compare bit-identical thresholds on the
    * round-once remainder. */
  def seasonalOutliers(df: DataFrame, tsCol: Column, valueCol: Column,
      period: Int = 7, k: Double = 3.0): DataFrame = {
    val dec = seasonalDecompose(df, tsCol, valueCol, period)
    val med = broadcast(dec.agg(
      expr("percentile(remainder, 0.5)").as("__med")))
    val mad = broadcast(dec.crossJoin(med).agg(
      expr("percentile(abs(remainder - __med), 0.5)").as("__mad"),
      first(col("__med")).as("__med")))
    dec.crossJoin(mad)
      .filter(abs(col("remainder") - col("__med")) >
        lit(k * 1.4826) * col("__mad"))
      .select(col("day"), col("y"), col("trend"), col("remainder"),
        round(col("__med"), 6).as("med"),
        round(col("__mad"), 6).as("mad"))
  }

  /** Lead–lag cross-correlation of two daily series: Pearson r of
    * (A on day t, B on day t+lag) for every lag in [−maxLag, maxLag] —
    * "does order revenue lead shipment revenue, and by how many
    * days". The lag with the peak |r| is the discovered lead time.
    *
    * Scale shape: both inputs collapse to calendar-bounded daily
    * frames (rounded once); the lag sweep is an explode over the
    * (2·maxLag+1)-row lag set against the day frame, joined back on
    * the shifted day index — days × lags rows total, data-size
    * independent. r is guarded covar/sqrt(var·var), null (not a
    * throw) on degenerate windows. */
  def crossCorrelation(dfA: DataFrame, tsA: String, valA: String,
      dfB: DataFrame, tsB: String, valB: String,
      maxLag: Int = 10, scale: Int = 6): DataFrame = {
    require(maxLag >= 1)
    // day-cardinality frames, lineage-cut so the lag sweep's join
    // branches don't re-derive the raw scans
    def daily(df: DataFrame, ts: String, v: String, out: String) = df
      .groupBy(to_date(col(ts)).as("__d"))
      .agg(round(sum(col(v).cast("double")), 6).as(out))
      .select(datediff(col("__d"), lit("1970-01-01").cast("date"))
        .cast("long").as("__x"), col(out))
      .localCheckpoint(false)
    val a = daily(dfA, tsA, valA, "__a")
    val b = daily(dfB, tsB, valB, "__b")
    val lagged = a
      .withColumn("lag", explode(sequence(lit(-maxLag), lit(maxLag))))
      .withColumn("__x", col("__x") + col("lag"))
      .join(b, "__x")
    val den = sqrt(var_pop(col("__a")) * var_pop(col("__b")))
    lagged.groupBy(col("lag"))
      .agg(
        count(lit(1)).as("n_days"),
        round(covar_pop(col("__a"), col("__b")) /
          when(den =!= 0.0, den), scale).as("r"))
  }

  /** CUPED variance reduction (Deng et al. 2013): adjust each unit's
    * experiment metric by its pre-period covariate,
    * y* = y − θ(x − x̄) with θ = cov(x,y)/var(x), and report the
    * arm-mean difference before and after adjustment plus the
    * variance-reduction ratio — the experimentation-platform op that
    * turns a week of extra data into narrower confidence intervals.
    * θ is fit POOLED (treatment-blind), the standard unbiased recipe.
    *
    * Input is the per-unit frame (unit, arm, covariate x, metric y) —
    * build it with one grouped pass upstream. Scale shape: one 1-row
    * co-moment aggregate broadcast back onto the unit frame, one
    * adjusted aggregate; nothing beyond unit cardinality is ever
    * shuffled. Output: 1 row (n_units, theta, var_y, var_adj,
    * var_reduction, diff_raw, diff_cuped); null theta (zero-variance
    * covariate) passes y through unadjusted. */
  def cuped(units: DataFrame, armCol: Column, xCol: Column, yCol: Column,
      scale: Int = 6): DataFrame = {
    val base = units.select(armCol.cast("int").as("__arm"),
      xCol.cast("double").as("__x"), yCol.cast("double").as("__y"))
    val mom = broadcast(base.agg(
      covar_pop(col("__x"), col("__y")).as("__cxy"),
      var_pop(col("__x")).as("__vx"),
      avg(col("__x")).as("__mx")))
    val adj = base.crossJoin(mom)
      .withColumn("__theta",
        when(col("__vx") > 0.0, col("__cxy") / col("__vx")))
      .withColumn("__yadj",
        when(col("__theta").isNotNull,
          col("__y") - col("__theta") * (col("__x") - col("__mx")))
          .otherwise(col("__y")))
    adj.agg(
      count(lit(1)).as("n_units"),
      round(first(col("__theta")), scale).as("theta"),
      round(var_pop(col("__y")), 2).as("var_y"),
      round(var_pop(col("__yadj")), 2).as("var_adj"),
      // guard-the-divisor (ANSI throws on ratio /0): a zero-variance
      // metric reports null reduction, not a crash
      round(lit(1.0) - var_pop(col("__yadj")) /
        when(var_pop(col("__y")) > 0.0, var_pop(col("__y"))),
        scale).as("var_reduction"),
      round(avg(when(col("__arm") === 1, col("__y"))) -
        avg(when(col("__arm") === 0, col("__y"))), scale).as("diff_raw"),
      round(avg(when(col("__arm") === 1, col("__yadj"))) -
        avg(when(col("__arm") === 0, col("__yadj"))), scale)
        .as("diff_cuped"))
  }

  /** Difference-in-differences estimator over a 2×2 design: the
    * treatment effect net of both the group baseline gap and the
    * common time trend — DiD = (T̄post − T̄pre) − (C̄post − C̄pre),
    * the standard quasi-experimental readout when assignment wasn't
    * randomized (a rollout, a policy change). Emits the four cell
    * means + counts alongside the estimate so the parallel-trends
    * eyeball has its inputs. ONE row out.
    *
    * Scale shape: a single full-scan aggregate with conditional
    * means — no shuffle beyond the one partial-agg exchange; the 2×2
    * cells are columns, not groups, so skewed cohorts cost nothing
    * extra. */
  def diffInDiff(df: DataFrame, outcome: Column, treated: Column,
      post: Column, scale: Int = 6): DataFrame = {
    val y = outcome.cast("double")
    val t = treated.cast("boolean")
    val p = post.cast("boolean")
    def cell(tv: Boolean, pv: Boolean) =
      when(t === tv && p === pv, y)
    // counts are ROW counts per cell (a null outcome still occupies
    // its cell — mirrors the oracle's CASE WHEN cond THEN 1 END);
    // the means skip null outcomes as avg always does
    def one(tv: Boolean, pv: Boolean) =
      when(t === tv && p === pv, 1)
    df.agg(
      count(one(true, false)).as("n_treated_pre"),
      count(one(true, true)).as("n_treated_post"),
      count(one(false, false)).as("n_control_pre"),
      count(one(false, true)).as("n_control_post"),
      round(avg(cell(true, false)), scale).as("treated_pre"),
      round(avg(cell(true, true)), scale).as("treated_post"),
      round(avg(cell(false, false)), scale).as("control_pre"),
      round(avg(cell(false, true)), scale).as("control_post"),
      round((avg(cell(true, true)) - avg(cell(true, false))) -
        (avg(cell(false, true)) - avg(cell(false, false))), scale)
        .as("did"))
  }

  /** Frequent 3-itemsets by the A-priori downward-closure route
    * (Agrawal & Srikant 1994): items below `minSupport` cannot appear
    * in any frequent triple, so baskets are PRUNED to frequent items
    * BEFORE the triple expansion — the difference between C(|basket|,3)
    * over raw baskets and over their frequent cores, which is what
    * makes per-basket expansion survive wide baskets at scale (the
    * level-2 prune — requiring all three pairs frequent — composes the
    * same way; level 1 alone already bounds the blowup and keeps the
    * construction oracle-mirrorable).
    *
    * Scale shape: one distinct pass, one item-support count, a
    * broadcast semi-join prune, then two basket-keyed self-joins whose
    * fan-out is bounded by the PRUNED basket width; one final
    * map-side-combined triple count. Output: (item_a < item_b <
    * item_c, support), support >= minSupport. */
  def frequentTriples(df: DataFrame, basketCol: String, itemCol: String,
      minSupportFraction: Double): DataFrame = {
    require(minSupportFraction > 0.0 && minSupportFraction <= 1.0)
    // materialized ONCE: both the threshold aggregate and the
    // frequent-item count aggregate read this frame, and the triple
    // expansion joins it three ways — without the checkpoint each
    // consumer re-runs the distinct shuffle
    val bi = Skew.fanOut(
        df.select(col(basketCol).as("__b"), col(itemCol).as("__i")),
        Seq(col("__b")))
      .distinct()
      .localCheckpoint(true)
    // support threshold as a FRACTION of baskets, not an absolute
    // count — the mining contract that survives a 100x corpus growth
    // with the same selectivity
    val thr = broadcast(bi.agg(
      ceil(countDistinct(col("__b")) * lit(minSupportFraction))
        .cast("long").as("__thr")))
    val freq1 = bi.groupBy(col("__i")).agg(count(lit(1)).as("__ni"))
      .crossJoin(thr)
      .filter(col("__ni") >= col("__thr"))
      .select(col("__i"))
    val core = bi.join(broadcast(freq1), Seq("__i"), "left_semi")
    // r15: bucket-and-combine instead of the 3-way basket self-join
    // (the ngramJaccardPairs lesson — codegen'd Generates beat
    // join-shaped pair/triple expansion): ONE exchange groups each
    // basket's frequent items into a sorted array, and three chained
    // Generates enumerate exactly the ordered C(w,3) triples the old
    // `__i <` join predicates produced (sort_array orders strings the
    // same way `<` compares them). Kills two SMJ sort+exchange pairs
    // and the re-shuffle of the exploded intermediate; the per-basket
    // fan-out bound is unchanged — C(w,3) is the a-priori contract
    // either way, on frequent items only. posexplode positions are
    // 0-based, slice starts are 1-based: a at 0-based i → b scans
    // slice(i+2), b at relative 0-based j (absolute i+1+j) → c scans
    // slice(i+j+3).
    val baskets = core.groupBy(col("__b"))
      .agg(sort_array(collect_set(col("__i"))).as("__xs"))
      .filter(size(col("__xs")) >= 3)
    baskets
      .select(col("__xs"), posexplode(col("__xs")).as(Seq("__i", "item_a")))
      .select(col("__xs"), col("__i"), col("item_a"),
        posexplode(slice(col("__xs"), col("__i") + lit(2),
          size(col("__xs")))).as(Seq("__j", "item_b")))
      .select(col("item_a"), col("item_b"),
        explode(slice(col("__xs"), col("__i") + col("__j") + lit(3),
          size(col("__xs")))).as("item_c"))
      .groupBy(col("item_a"), col("item_b"), col("item_c"))
      .agg(count(lit(1)).as("support"))
      .crossJoin(thr)
      .filter(col("support") >= col("__thr"))
      .select(col("item_a"), col("item_b"), col("item_c"), col("support"))
  }

  /** Market-basket pair analysis: for every co-occurring item pair,
    * the basket counts and the SUPPORT (P(a,b)) and LIFT
    * (P(a,b)/(P(a)P(b))) association metrics — "bought X, also bought
    * Y" and its statistical strength (lift > 1 = genuinely
    * associated, not just both popular).
    *
    * Scale shape: one distinct pass to (basket, item), a self-join
    * keyed on basket (per-basket fan-out bounded by basket size
    * squared — the inherent pair cost), then an item²-bounded pair
    * aggregate. Per-item basket counts and the global basket count
    * ride back as broadcasts. Items should be a bounded vocabulary
    * (brands, categories); for open vocabularies pre-filter to the
    * frequent items first (Apriori's first pass — [[frequentItems]]). */
  def basketLift(df: DataFrame, basketCol: String, itemCol: String,
      scale: Int = 6): DataFrame = {
    // lineage cut: the distinct (basket, item) frame feeds the basket
    // count, the per-item counts and the pair expansion
    val bi = Skew.fanOut(
        df.select(col(basketCol).as("__b"), col(itemCol).as("__i")),
        Seq(col("__b")))
      .distinct()
      .localCheckpoint(false)
    val n = broadcast(bi.agg(countDistinct(col("__b")).as("__n")))
    val items = bi.groupBy(col("__i")).agg(count(lit(1)).as("__ni"))
    // r15: bucket-and-combine instead of the basket self-join (the
    // ngramJaccardPairs lesson): one exchange groups each basket's
    // items into a sorted array, two codegen'd Generates enumerate
    // the same ordered pairs the `__i <` predicate produced. Same
    // per-basket size² fan-out bound, minus the SMJ sort+exchange
    // pair and the exploded-frame re-shuffle.
    val pairs = bi.groupBy(col("__b"))
      .agg(sort_array(collect_set(col("__i"))).as("__xs"))
      .filter(size(col("__xs")) >= 2)
      .select(col("__xs"), posexplode(col("__xs")).as(Seq("__i", "item_a")))
      .select(col("item_a"),
        explode(slice(col("__xs"), col("__i") + lit(2),
          size(col("__xs")))).as("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(items.select(col("__i").as("item_a"),
        col("__ni").as("n_a"))), "item_a")
      .join(broadcast(items.select(col("__i").as("item_b"),
        col("__ni").as("n_b"))), "item_b")
      .crossJoin(n)
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"),
        col("n_b"),
        round(col("n_ab") / col("__n").cast("double"), scale)
          .as("support"),
        round(col("n_ab") * col("__n") /
          (col("n_a").cast("double") * col("n_b")), scale).as("lift"))
  }

  /** Equi-DEPTH histogram: `bins` buckets holding ~equal row counts,
    * split at the exact percentile cutpoints — the distribution view
    * equi-width can't give on skewed data (one huge bin + empties).
    * One 1-row exact-percentile aggregate (broadcast back) and one
    * map-side-combined count; the bucket id is "how many cutpoints lie
    * strictly below v", so a value equal to a cutpoint closes the
    * lower bucket in any engine evaluating the same lambda. Exact
    * percentile is the oracle-duty choice — swap approx_percentile
    * cutpoints at 100 TB for one pass less memory. */
  def histogramEquiDepth(df: DataFrame, valueCol: String,
      bins: Int): DataFrame = {
    require(bins > 0)
    val v = col(valueCol).cast("double")
    val ps = (1 until bins).map(i => i.toDouble / bins)
    val cuts = df.agg(expr(
      s"percentile(CAST($valueCol AS DOUBLE), array(${ps.mkString(",")}))")
      .as("__cuts"))
    df.select(v.as("__v")).crossJoin(broadcast(cuts))
      .withColumn("bin",
        size(filter(col("__cuts"), c => c < col("__v"))).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"))
  }

  /** Calibration (reliability) table: equi-depth score bins, each with
    * its observed positive rate next to its mean score — the "is the
    * score honest about its own confidence" check that completes the
    * eval triad ([[auc]] ranks, [[prCurve]] picks the threshold, this
    * audits the score's magnitude).
    *
    * Scale shape: one percentile aggregate for the cutpoints (1-row
    * array, broadcast), one map-side bin assignment (HOF filter over
    * the bins-sized cut array — no join, no sort), one grouped pass.
    * `pos_rate` is an integer ratio (exact across engines); only
    * `mean_score` is a float accumulation, rounded once. */
  def calibrationBins(df: DataFrame, labelCol: Column, scoreCol: Column,
      bins: Int = 10, scale: Int = 6): DataFrame = {
    require(bins > 1)
    val base = df.select(scoreCol.cast("double").as("__v"),
      when(labelCol, 1L).otherwise(0L).as("__y"))
    val ps = (1 until bins).map(i => i.toDouble / bins)
    val cuts = base.agg(expr(
      s"percentile(__v, array(${ps.mkString(",")}))").as("__cuts"))
    base.crossJoin(broadcast(cuts))
      .withColumn("bin",
        size(filter(col("__cuts"), c => c < col("__v"))).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("__v")), scale).as("mean_score"),
        round(avg(col("__y")), scale).as("pos_rate"))
  }

  /** Winsorized per-group stats: clip values into the [lo, hi]
    * percentile band, then mean/min/max — the outlier-robust central
    * tendency (a handful of extreme rows cannot drag the mean). One
    * grouped exact-percentile pass broadcast back, one clipped
    * aggregate; exact percentiles keep the SQL oracle cell-for-cell
    * (the [[percentiles]] approx variant is the 100 TB swap). */
  def winsorizedStats(df: DataFrame, keys: Seq[String], valueCol: String,
      lo: Double = 0.05, hi: Double = 0.95, scale: Int = 6): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo < hi)
    val kc = keys.map(col)
    val slim = df.select((col(valueCol).cast("double").as("__v") +: kc): _*)
    val bands = slim.groupBy(kc: _*)
      .agg(expr(s"percentile(__v, $lo)").as("__plo"),
        expr(s"percentile(__v, $hi)").as("__phi"))
    slim.join(broadcast(bands), keys)
      .withColumn("__c", least(greatest(col("__v"), col("__plo")),
        col("__phi")))
      .groupBy(kc: _*)
      .agg(
        round(first(col("__plo")), scale).as("p_lo"),
        round(first(col("__phi")), scale).as("p_hi"),
        round(avg(col("__c")), scale).as("wins_mean"),
        count(lit(1)).as("n"))
  }

  /** Robust per-group outlier profile: median, MAD (median absolute
    * deviation) and the count of rows whose deviation from the median
    * exceeds k·1.4826·MAD (1.4826 scales MAD to σ under normality) —
    * the metric-anomaly screen that, unlike a z-score, a few extreme
    * rows cannot drag toward themselves.
    *
    * EXACT medians (`percentile`, not approx) so a SQL oracle verifies
    * cell-for-cell; the threshold multiplies (k·1.4826) FIRST to match
    * left-associated SQL arithmetic bit-for-bit. Three grouped passes
    * over the (keys, value) projection, the group-count-sized median
    * and MAD frames broadcast back. Exact percentile holds one sorted
    * value buffer per group — at 100 TB swap in approx_percentile via
    * [[percentiles]] and keep this as the oracle-duty variant. */
  /** Association metrics between two categorical columns — the
    * contingency-table screen (is `lang` independent of `source`? is a
    * label leaking through a metadata column?): Pearson chi-square
    * statistic, degrees of freedom, and mutual information (nats) in
    * ONE summary row.
    *
    * Chi-square needs the ZERO cells, so the full |A| x |B| grid is
    * materialized — as a cross join of the two DISTINCT level frames
    * (both bounded by cardinality, broadcast), never of the data.
    * MI's zero cells contribute 0 and drop out. One groupBy(a,b) count
    * is the only pass over the data; everything downstream is
    * arithmetic on the grid-sized frame. */
  def association(df: DataFrame, a: String, b: String,
      scale: Int = 6): DataFrame = {
    val counts = df.groupBy(col(a).as("__a"), col(b).as("__b"))
      .agg(count(lit(1)).as("__n"))
    val levelsA = counts.groupBy(col("__a")).agg(sum(col("__n")).as("__na"))
    val levelsB = counts.groupBy(col("__b")).agg(sum(col("__n")).as("__nb"))
    val grid = broadcast(levelsA).crossJoin(broadcast(levelsB))
      .join(counts, Seq("__a", "__b"), "left")
      .withColumn("__n", coalesce(col("__n"), lit(0L)))
    grid
      .withColumn("__tot", sum(col("__n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("__e",
        col("__na").cast("double") * col("__nb") / col("__tot"))
      .agg(
        max(col("__tot")).as("n"),
        ((countDistinct(col("__a")) - 1) *
          (countDistinct(col("__b")) - 1)).as("dof"),
        round(sum(pow(col("__n") - col("__e"), 2) / col("__e")), scale)
          .as("chi2"),
        round(sum(when(col("__n") > 0,
          (col("__n") / col("__tot")) *
            log(col("__n") * col("__tot") /
              (col("__na").cast("double") * col("__nb"))))
          .otherwise(lit(0.0))), scale).as("mutual_info"))
  }

  /** Per-group ordinary-least-squares trend: slope, intercept, r² and
    * count of y over x within each key — the per-entity drift detector
    * (is this metric trending per segment?). One grouped pass of
    * co-moment aggregates (covar_pop/var_pop/corr are all single-pass,
    * map-side combined); no joins, no windows. Degenerate groups
    * (var(x)=0) yield null slope/intercept rather than Infinity. */
  def groupOls(df: DataFrame, keys: Seq[String], x: String, y: String,
      scale: Int = 6): DataFrame = {
    val slope = covar_pop(col(x), col(y)) /
      when(var_pop(col(x)) =!= 0.0, var_pop(col(x)))
    // r² as covar²/(var·var), not corr()²: built-in corr THROWS under
    // ANSI on a zero-variance group instead of yielding null, and the
    // when-guarded divisor form degrades to null for free
    val r2 = pow(covar_pop(col(x), col(y)), 2) /
      when(var_pop(col(x)) =!= 0.0 && var_pop(col(y)) =!= 0.0,
        var_pop(col(x)) * var_pop(col(y)))
    df.groupBy(keys.map(col): _*)
      .agg(
        round(slope, scale).as("slope"),
        round(avg(col(y)) - slope * avg(col(x)), scale).as("intercept"),
        round(r2, scale).as("r2"),
        count(lit(1)).as("n"))
  }

  /** Equi-width histogram of a numeric column: `bins` buckets over the
    * observed [min, max], emitting (bin, lo, hi, n). Two passes — a
    * 1-row min/max aggregate broadcast back, then one map-side-combined
    * bucket count. The top edge closes the last bin (least()), so
    * max lands in bin bins-1, not a phantom bins-th bucket. Bucket
    * arithmetic is plain double ops on the shared min/width, so any
    * engine computing the same expression buckets identically. */
  def histogram(df: DataFrame, valueCol: String, bins: Int,
      scale: Int = 6): DataFrame = {
    require(bins > 0)
    val v = col(valueCol).cast("double")
    val mm = df.agg(min(v).as("__mn"), max(v).as("__mx"))
    df.select(v.as("__v")).crossJoin(broadcast(mm))
      .withColumn("__w", (col("__mx") - col("__mn")) / lit(bins.toDouble))
      .withColumn("bin", when(col("__w") === 0.0, lit(0L)).otherwise(
        least(floor((col("__v") - col("__mn")) / col("__w")).cast("long"),
          lit(bins - 1L))))
      .groupBy(col("bin"))
      .agg(
        round(min(col("__mn") + col("bin") * col("__w")), scale).as("lo"),
        round(min(col("__mn") + (col("bin") + 1) * col("__w")), scale)
          .as("hi"),
        count(lit(1)).as("n"))
  }

  def madOutliers(df: DataFrame, keys: Seq[String], valueCol: String,
      k: Double = 3.0, scale: Int = 6): DataFrame = {
    val kc = keys.map(col)
    val slim = df.select((col(valueCol).cast("double").as("__v") +: kc): _*)
    val med = slim.groupBy(kc: _*)
      .agg(expr("percentile(__v, 0.5)").as("__med"))
    val mad = slim.join(broadcast(med), keys)
      .groupBy(kc: _*)
      .agg(expr("percentile(abs(__v - __med), 0.5)").as("__mad"))
    slim.join(broadcast(med), keys).join(broadcast(mad), keys)
      .groupBy(kc: _*)
      .agg(
        round(first(col("__med")), scale).as("median"),
        round(first(col("__mad")), scale).as("mad"),
        sum(when(abs(col("__v") - col("__med")) >
          lit(k * 1.4826) * col("__mad"), 1L).otherwise(0L)).as("n_outliers"),
        count(lit(1)).as("n_rows"))
  }

  /** Theil–Sen robust trend estimate over a daily-bucketed series:
    * the median of all pairwise slopes (vⱼ−vᵢ)/(xⱼ−xᵢ), with the
    * intercept as the median residual median(v − m·x) — the
    * breakdown-point-0.29 alternative to OLS that one bad day cannot
    * drag (Sen 1968).
    *
    * Scale shape: raw rows first collapse to the DAY-cardinality
    * frame (one map-side-combined aggregate), so the O(d²) pair
    * fan-out is CALENDAR-bounded — data-size independent; at a
    * 7-year span d≈2.6k and the non-equi self-join is a broadcast
    * nested loop over ~3.3M slope rows regardless of input width.
    * Medians are Spark's exact interpolating `percentile`, which
    * matches DuckDB's `median` bit-for-bit on identical doubles. */
  def theilSen(df: DataFrame, tsCol: String, valueCol: String,
      scale: Int = 6): DataFrame = {
    // daily sums rounded ONCE so both engines pair identical doubles
    val daily = df
      .groupBy(to_date(col(tsCol)).as("__d"))
      .agg(round(sum(col(valueCol).cast("double")), 6).as("__v"))
      .select(datediff(col("__d"), lit("1970-01-01").cast("date"))
        .cast("double").as("__x"), col("__v"))
      // lineage cut: both pair sides and the intercept pass consume it
      .localCheckpoint(false)
    val a = daily.select(col("__x").as("__xi"), col("__v").as("__vi"))
    val b = daily.select(col("__x").as("__xj"), col("__v").as("__vj"))
    val slopes = broadcast(a).join(b, col("__xj") > col("__xi"))
      .select(((col("__vj") - col("__vi")) / (col("__xj") - col("__xi")))
        .as("__s"))
    val m = broadcast(slopes.agg(
      expr("percentile(__s, 0.5)").as("__m"),
      count(lit(1)).as("n_pairs")))
    daily.crossJoin(m)
      .agg(
        round(first(col("__m")), scale).as("slope_per_day"),
        round(expr("percentile(__v - __m * __x, 0.5)"), scale)
          .as("intercept"),
        count(lit(1)).as("n_days"),
        first(col("n_pairs")).as("n_pairs"))
  }

  /** Mann–Kendall trend test over the same daily frame: S =
    * Σᵢ<ⱼ sign(vⱼ−vᵢ), tie-corrected variance
    * [n(n−1)(2n+5) − Σₜ t(t−1)(2t+5)]/18, and the continuity-corrected
    * normal score z — the standard "is there a monotonic trend"
    * screen that pairs with [[theilSen]]'s slope magnitude.
    *
    * Scale shape: identical to [[theilSen]] — the pair fan-out runs
    * over the calendar-bounded daily frame, the tie table is a
    * value-grouped aggregate of that same bounded frame, and the
    * output is one row. sign() is a CASE expression so both engines
    * count in exact integers; only z touches floats. */
  def mannKendall(df: DataFrame, tsCol: String, valueCol: String,
      scale: Int = 6): DataFrame = {
    // daily sums rounded ONCE so both engines compare identical doubles
    val daily = df
      .groupBy(to_date(col(tsCol)).as("__d"))
      .agg(round(sum(col(valueCol).cast("double")), 6).as("__v"))
      .select(datediff(col("__d"), lit("1970-01-01").cast("date"))
        .cast("long").as("__x"), col("__v"))
      // lineage cut: pair sides, tie table and n all consume it
      .localCheckpoint(false)
    val a = daily.select(col("__x").as("__xi"), col("__v").as("__vi"))
    val b = daily.select(col("__x").as("__xj"), col("__v").as("__vj"))
    val sStat = broadcast(a).join(b, col("__xj") > col("__xi"))
      .agg(sum(when(col("__vj") > col("__vi"), 1L)
        .when(col("__vj") < col("__vi"), -1L).otherwise(0L)).as("s_stat"))
    // tie groups over the bounded daily values: Σ t(t-1)(2t+5)
    val ties = daily.groupBy(col("__v")).agg(count(lit(1)).as("__t"))
      .agg(coalesce(sum(col("__t") * (col("__t") - 1L) *
        (lit(2L) * col("__t") + 5L)), lit(0L)).as("__tc"))
    val n = daily.agg(count(lit(1)).as("__n"))
    val varS = (col("__n") * (col("__n") - 1L) *
      (lit(2L) * col("__n") + 5L) - col("__tc")).cast("double") / lit(18.0)
    val z = when(col("s_stat") > 0L,
        (col("s_stat") - 1L).cast("double") / sqrt(col("__vs")))
      .when(col("s_stat") < 0L,
        (col("s_stat") + 1L).cast("double") / sqrt(col("__vs")))
      .otherwise(lit(0.0))
    sStat.crossJoin(broadcast(ties)).crossJoin(broadcast(n))
      .withColumn("__vs", varS)
      .select(
        col("s_stat"),
        col("__n").as("n_days"),
        round(col("__vs"), scale).as("var_s"),
        round(when(col("__vs") > 0.0, z).otherwise(lit(0.0)), scale)
          .as("z"),
        when(col("__vs") > 0.0 && z > 1.96, "increasing")
          .when(col("__vs") > 0.0 && z < -1.96, "decreasing")
          .otherwise("none").as("trend"))
  }

  /** Per-group simple OLS on population moments: slope =
    * covar_pop(y,x)/var_pop(x), intercept = ȳ − m·x̄, r² =
    * covar²/(varₓ·var_y) — the regr_slope/regr_intercept/regr_r2
    * family as one map-side-combined aggregate. Optional natural-log
    * transforms turn it into the log-log elasticity estimator
    * (slope = % change in y per % change in x). Zero-variance groups
    * yield null slope/r² via when-guarded divisors (ANSI-safe)
    * rather than throwing.
    *
    * Scale shape: five moment sums per group in ONE hash aggregate —
    * shuffle volume is groups × 6 doubles, never raw rows. */
  def olsByGroup(df: DataFrame, keys: Seq[String], xCol: String,
      yCol: String, logX: Boolean = false, logY: Boolean = false,
      scale: Int = 6): DataFrame = {
    val xr = col(xCol).cast("double")
    val yr = col(yCol).cast("double")
    val x = if (logX) log(xr) else xr
    val y = if (logY) log(yr) else yr
    val base = df
      .filter((!lit(logX) || xr > 0.0) && (!lit(logY) || yr > 0.0))
      .select(keys.map(col) :+ x.as("__x") :+ y.as("__y"): _*)
    val slope = covar_pop(col("__y"), col("__x")) /
      when(var_pop(col("__x")) =!= 0.0, var_pop(col("__x")))
    val r2 = (covar_pop(col("__y"), col("__x")) *
        covar_pop(col("__y"), col("__x"))) /
      when(var_pop(col("__x")) * var_pop(col("__y")) =!= 0.0,
        var_pop(col("__x")) * var_pop(col("__y")))
    base.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        round(slope, scale).as("slope"),
        round(avg(col("__y")) - slope * avg(col("__x")), scale)
          .as("intercept"),
        round(r2, scale).as("r2"))
  }

  /** XYZ demand-variability classes: bucket demand to calendar weeks
    * per key, score each key by the coefficient of variation of its
    * weekly totals, and classify X (steady, cv ≤ t1) / Y (variable,
    * cv ≤ t2) / Z (erratic) — the planning-stability twin of
    * [[paretoClasses]]' value-concentration ABC. CV is measured over
    * OBSERVED weeks (zero-demand weeks don't emit rows — documented
    * intermittent-demand convention); keys with a single week are
    * unclassifiable and dropped.
    *
    * Scale shape: two map-side-combined aggregates — raw rows →
    * (key, week) totals → per-key moments — then a CLASS-cardinality
    * rollup. Nothing wider than the weekly frame ever shuffles. */
  def xyzClasses(df: DataFrame, keyCol: String, tsCol: String,
      qtyCol: String, t1: Double = 0.5, t2: Double = 1.0,
      scale: Int = 6): DataFrame = {
    val weekly = df
      .groupBy(col(keyCol).as("__k"),
        date_trunc("week", col(tsCol)).as("__w"))
      .agg(sum(col(qtyCol).cast("double")).as("__q"))
    val perKey = weekly.groupBy(col("__k"))
      .agg(count(lit(1)).as("__nw"), avg(col("__q")).as("__mu"),
        stddev_samp(col("__q")).as("__sd"), sum(col("__q")).as("__tot"))
      .filter(col("__nw") >= 2 && col("__mu") =!= 0.0)
      .withColumn("__cv", col("__sd") / col("__mu"))
    perKey
      .withColumn("xyz_class",
        when(col("__cv") <= t1, "X").when(col("__cv") <= t2, "Y")
          .otherwise("Z"))
      .groupBy(col("xyz_class"))
      .agg(
        count(lit(1)).as("n_keys"),
        round(avg(col("__cv")), scale).as("avg_cv"),
        round(sum(col("__tot")), 2).as("total_qty"))
  }

  /** OHLC bar aggregation: per (key, day) the Open (value at the
    * earliest timestamp), High, Low, Close (value at the latest) plus
    * the row count and day total — the finance-style bar rollup of
    * any (ts, value) stream. Open/Close use min_by/max_by over a
    * (ts, tie) struct so simultaneous events resolve deterministically
    * on the tie column instead of racing.
    *
    * Scale shape: ONE map-side-combined hash aggregate — min_by/max_by
    * partial states are a single (value, ord) pair each, so shuffle
    * volume is (key × day) bars, never raw rows. */
  def ohlcBars(df: DataFrame, keyCols: Seq[String], tsCol: String,
      valueCol: String, tieCol: String, scale: Int = 6): DataFrame = {
    val v = col(valueCol).cast("double")
    val ord = struct(col(tsCol), col(tieCol))
    df.groupBy(keyCols.map(col) :+ to_date(col(tsCol)).as("day"): _*)
      .agg(
        round(min_by(v, ord), scale).as("open"),
        round(max(v), scale).as("high"),
        round(min(v), scale).as("low"),
        round(max_by(v, ord), scale).as("close"),
        count(lit(1)).as("n"),
        round(sum(v), scale).as("total"))
  }

  /** Seasonal-naive backtest: hold out the final `horizon` days,
    * forecast each held-out day with the value `period` days earlier,
    * and score MAE / RMSE / sMAPE / MASE (MAE over the naive-1
    * one-step error on the TRAINING span — the Hyndman-Koehler
    * scale-free denominator). The walk-forward sanity check every
    * forecasting pipeline needs before anything fancier.
    *
    * Scale shape: raw rows collapse once to the calendar-bounded
    * daily frame (sums rounded once so both engines difference
    * identical doubles); the period/1-day shifts are broadcast
    * self-joins on the day index — exact day semantics even across
    * gaps, no row-offset lag — and the output is one row. */
  def backtestSeasonalNaive(df: DataFrame, tsCol: String,
      valueCol: String, horizon: Int = 28, period: Int = 7): DataFrame = {
    require(horizon > 0 && period > 0)
    val daily = df
      .groupBy(to_date(col(tsCol)).as("__d"))
      .agg(round(sum(col(valueCol).cast("double")), 6).as("__v"))
      .select(datediff(col("__d"), lit("1970-01-01").cast("date"))
        .cast("long").as("__x"), col("__v"))
      // lineage cut: the base, both shifts and the max all consume it
      .localCheckpoint(false)
    val maxd = broadcast(daily.agg(max(col("__x")).as("__mx")))
    val shifted = daily.select((col("__x") + period).as("__x"),
      col("__v").as("__fc"))
    val prev = daily.select((col("__x") + 1L).as("__x"),
      col("__v").as("__pv"))
    val joined = daily
      .join(broadcast(shifted), Seq("__x"), "left")
      .join(broadcast(prev), Seq("__x"), "left")
      .crossJoin(maxd)
      .withColumn("__test", col("__x") > col("__mx") - horizon)
    // naive-1 MAE over the training span: the MASE denominator
    val denom = broadcast(joined
      .filter(!col("__test") && col("__pv").isNotNull)
      .agg(avg(abs(col("__v") - col("__pv"))).as("__nmae")))
    val test = joined.filter(col("__test") && col("__fc").isNotNull)
    val mae = avg(abs(col("__v") - col("__fc")))
    test.crossJoin(denom)
      .agg(
        count(lit(1)).as("n_test"),
        round(mae, 4).as("mae"),
        round(sqrt(avg(pow(col("__v") - col("__fc"), 2))), 4).as("rmse"),
        round(avg(lit(2.0) * abs(col("__v") - col("__fc")) /
          when(abs(col("__v")) + abs(col("__fc")) =!= 0.0,
            abs(col("__v")) + abs(col("__fc")))), 6).as("smape"),
        round(mae / when(first(col("__nmae")) =!= 0.0,
          first(col("__nmae"))), 6).as("mase"))
      // empty holdout (span <= period) yields ZERO rows, matching the
      // grouped-oracle contract, instead of a lone all-null row
      .filter(col("n_test") > 0L)
  }

  /** Exact weighted lower percentiles per group: for each probability
    * p, the smallest value whose running weight reaches p × total
    * weight — the quantity-weighted price median and friends, with
    * integral weights and dyadic probabilities (0.25/0.5/0.75) the
    * thresholds are exact in both engines, so the result is EXACT,
    * not rounded.
    *
    * Scale shape: TWO decompositions stack. (1) The row stream first
    * COLLAPSES to the (group, value, Σweight) distinct-value frame —
    * exact weighted quantiles only need per-value weight mass, and
    * distinct-value cardinality sits orders below the row count (the
    * "collapse before the expensive op" pattern): the r9 100x probe
    * ran per-(group,bucket) window sorts over all 60M rows, 42.5 s
    * and a 48 g driver; the same probe over the value frame is
    * sub-second at the default 8 g. (2) A low-cardinality group
    * column (flags, segments) must still NOT become one window
    * partition per group — the per-group cumulative weight
    * decomposes over (group, equi-width value bucket) windows plus a
    * per-group BUCKETS-bounded weight-carry broadcast back (the
    * [[gini]]/[[rfmSegments]] construction, keyed per group). Equal
    * values share one collapsed row, so no tie-break is needed.
    * Integral weights keep partial-sum + carry exact in doubles. All
    * requested percentiles ride the one pass. */
  def weightedPercentiles(df: DataFrame, keyCols: Seq[String],
      valueCol: String, weightCol: String,
      ps: Seq[Double] = Seq(0.25, 0.5, 0.75),
      buckets: Int = 1024): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0))
    val kc = keyCols.map(col)
    // distinct-value collapse: one hash aggregate with map-side
    // partials — everything downstream is value-cardinality, not
    // row-cardinality. r15: when the scan yields fewer partitions
    // than the session's parallelism (single-row-group input, guide
    // §2.5), pre-shuffle on the exact grouping key — the near-unique
    // (key, value) partials reduce ~nothing, so running them on the
    // serialized scan task only adds wall; the pinned repartition
    // merges with the groupBy's own exchange (one exchange either
    // way) and is a plan-time no-op on parallel scans.
    val slim = Skew.fanOut(
        df.select(kc :+ col(valueCol).cast("double").as("__v") :+
          col(weightCol).cast("double").as("__w"): _*),
        kc :+ col("__v"))
      .groupBy(kc :+ col("__v"): _*)
      .agg(sum(col("__w")).as("__w"))
    val mm = broadcast(slim.groupBy(kc: _*)
      .agg(min(col("__v")).as("__mn"), max(col("__v")).as("__mx"),
        sum(col("__w")).as("__tot")))
    val width = (col("__mx") - col("__mn")) / lit(buckets.toDouble)
    // materialize the bucketed value frame ONCE (lazy checkpoint): the
    // cumulative window and the carry aggregate both consume it, and
    // without the lineage cut each consumer re-derives the fact scan —
    // measured 8 parquet scans of lineitem in the executed plan vs 2
    // after the cut (narrow columns only: keys, v, w, bucket)
    val bucketed = slim.join(mm, keyCols)
      .withColumn("__bkt", when(width === 0.0, lit(0L)).otherwise(
        least(floor((col("__v") - col("__mn")) / width).cast("long"),
          lit(buckets - 1L))))
      .localCheckpoint(false)
    val w = Window.partitionBy(kc :+ col("__bkt"): _*)
      .orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wc = Window.partitionBy(kc: _*).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = bucketed.groupBy(kc :+ col("__bkt"): _*)
      .agg(sum(col("__w")).as("__bw"))
      .withColumn("__carry",
        coalesce(sum(col("__bw")).over(wc), lit(0.0)))
      .select(kc :+ col("__bkt") :+ col("__carry"): _*)
    val cum = bucketed
      .withColumn("__pc", sum(col("__w")).over(w))
      .join(broadcast(carries), keyCols :+ "__bkt")
      .withColumn("__cum", col("__pc") + col("__carry"))
    val aggs = ps.map { p =>
      min(when(col("__cum") >= lit(p) * col("__tot"), col("__v")))
        .as(s"p${(p * 100).round}")
    } :+ sum(col("__w")).as("total_weight")
    cum.groupBy(kc: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** SQL NTILE(b) from an exact 1-based rank and total count, in
    * floor/ceil double arithmetic (exact below 2⁵²): the first n%b
    * buckets take ⌈n/b⌉ rows, the rest ⌊n/b⌋ — bit-identical to the
    * window function given the same total order. */
  private def ntileFromRank(rank: Column, n: Column, b: Int): Column = {
    val q = floor(n / lit(b.toDouble))          // ⌊n/b⌋
    val r = n - q * b                           // n % b
    val qp = q + lit(1.0)
    when(rank <= r * qp, ceil(rank / qp))
      .otherwise(r + ceil((rank - r * qp) / q))
      .cast("int")
  }

  /** RFM segmentation: per customer, Recency (days since last order,
    * vs the corpus max date), Frequency (order count) and Monetary
    * (total spend), each scored 1–5 by exact quintile (5 = best), then
    * rolled into named segments (champion / loyal / big_spender /
    * at_risk / hibernating / regular) with per-segment size and
    * averages — the classic customer-value screen.
    *
    * Scale shape: one groupBy(customer) collapses raw orders to the
    * customer-cardinality frame; the three quintile scores are exact
    * global ranks computed in ONE pass — the frame stacks to a
    * (metric, value) long frame, equi-width buckets per metric
    * partition each total order (equal values share a bucket, so
    * cross-bucket order is consistent), row_number runs in parallel
    * per (metric, bucket) window, and a BUCKETS-bounded count-carry
    * broadcasts back (the [[gini]]/[[paretoClasses]] decomposition —
    * NO single-partition NTILE window). Ranks convert with
    * [[ntileFromRank]] so the scores equal SQL `NTILE(5) OVER
    * (ORDER BY metric, key)` exactly, ties broken on the key for
    * engine-reproducible buckets. */
  def rfmSegments(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, buckets: Int = 1024): DataFrame = {
    // monetary rounded ONCE before ranking: an unrounded distributed
    // sum can order exact-decimal ties by accumulation noise instead
    // of the key, diverging from the oracle's NTILE on tied customers
    val perCust = df.groupBy(col(keyCol).as("__c"))
      .agg(max(to_date(col(tsCol))).as("__last"),
        count(lit(1)).as("frequency"),
        round(sum(col(valueCol).cast("double")), 2).as("monetary"))
    val maxd = broadcast(df.agg(max(to_date(col(tsCol))).as("__maxd")))
    // lineage cut: the customer frame feeds the metric stack, the
    // count, AND the final segment rollup — without it the orders
    // fact was re-scanned 14 times in the executed plan (2 after)
    val base = perCust.crossJoin(maxd)
      .withColumn("recency", datediff(col("__maxd"), col("__last")))
      .drop("__last", "__maxd")
      .localCheckpoint(false)
    val nTot = broadcast(base.agg(count(lit(1)).as("__n")))
    // all three exact ranks in ONE pass: stack to a (metric, value)
    // long frame, bucket per metric, rank in parallel per
    // (metric, bucket) windows with a per-metric broadcast carry —
    // one exchange instead of three chained rank pipelines. DESC
    // orders rank the negated metric so ties still break ASC on key.
    val long0 = base
      .withColumn("__vr", (-col("recency")).cast("double"))
      .withColumn("__vf", col("frequency").cast("double"))
      .withColumn("__vm", col("monetary"))
      .selectExpr("__c",
        "stack(3, 'r', __vr, 'f', __vf, 'm', __vm) as (__met, __rv)")
    val mm = broadcast(long0.groupBy(col("__met"))
      .agg(min(col("__rv")).as("__mn"), max(col("__rv")).as("__mx")))
    val width = (col("__mx") - col("__mn")) / lit(buckets.toDouble)
    val bucketed = long0.join(mm, "__met")
      .withColumn("__bkt", when(width === 0.0, lit(0L)).otherwise(
        least(floor((col("__rv") - col("__mn")) / width).cast("long"),
          lit(buckets - 1L))))
    val w = Window.partitionBy(col("__met"), col("__bkt"))
      .orderBy(col("__rv"), col("__c"))
    val wc = Window.partitionBy(col("__met")).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = bucketed.groupBy(col("__met"), col("__bkt"))
      .agg(count(lit(1)).as("__bn"))
      .withColumn("__carry", coalesce(sum(col("__bn")).over(wc), lit(0L)))
      .select(col("__met"), col("__bkt"), col("__carry"))
    val ranked = bucketed.withColumn("__r", row_number().over(w))
      .join(broadcast(carries), Seq("__met", "__bkt"))
      .crossJoin(nTot)
      .withColumn("__score",
        ntileFromRank(col("__r") + col("__carry"), col("__n"), 5))
    // pivot scores AND metric values back to one row per key — the
    // raw metrics ride the long frame (r is negated), so no re-join
    // against the customer frame is needed
    val scored = ranked.groupBy(col("__c"))
      .agg(max(when(col("__met") === "r", col("__score"))).as("__r"),
        max(when(col("__met") === "f", col("__score"))).as("__f"),
        max(when(col("__met") === "m", col("__score"))).as("__m"),
        max(when(col("__met") === "r", -col("__rv"))).as("recency"),
        max(when(col("__met") === "f", col("__rv"))).as("frequency"),
        max(when(col("__met") === "m", col("__rv"))).as("monetary"))
    scored
      .withColumn("segment",
        when(col("__r") >= 4 && col("__f") >= 4 && col("__m") >= 4,
          "champion")
          .when(col("__f") >= 4, "loyal")
          .when(col("__m") >= 4, "big_spender")
          .when(col("__r") <= 2 && col("__f") <= 2, "hibernating")
          .when(col("__r") <= 2, "at_risk")
          .otherwise("regular"))
      .groupBy(col("segment"))
      .agg(
        count(lit(1)).as("n_customers"),
        round(avg(col("recency")), 6).as("avg_recency_days"),
        round(avg(col("frequency")), 6).as("avg_orders"),
        round(sum(col("monetary")), 2).as("total_spend"))
  }

  /** One-way ANOVA: does a numeric metric differ across k groups? The
    * k-sample generalization of [[welchTTest]] (equal-variance form) —
    * the segmentation sanity test ("does order value actually vary by
    * priority class?"). F = (SSB/(k-1)) / (SSW/(N-k)); eta² =
    * SSB/(SSB+SSW) is the variance-explained effect size.
    *
    * Scale shape: one hash-agg pass over the data (per-group n / mean
    * / var_samp — co-moments, map-side combined), then all arithmetic
    * on the k-row group frame against a broadcast 1-row total. The
    * var_samp form keeps SSW free of the raw-sum-of-squares
    * cancellation. Degenerate inputs (k < 2, N <= k, SSW = 0) yield
    * null F rather than Infinity. */
  def anovaF(df: DataFrame, groupCol: String, valueCol: String,
      scale: Int = 6): DataFrame = {
    val v = col(valueCol).cast("double")
    val g = df.groupBy(col(groupCol))
      .agg(count(v).as("__n"), avg(v).as("__m"), var_samp(v).as("__s2"))
    val tot = broadcast(g.agg(
      sum(col("__n")).as("__tn"),
      (sum(col("__n") * col("__m")) / sum(col("__n"))).as("__gm"),
      count(lit(1)).as("__k")))
    val ssb = sum(col("__n") * (col("__m") - col("__gm")) *
      (col("__m") - col("__gm")))
    val ssw = sum((col("__n") - 1L) * col("__s2"))
    g.crossJoin(tot)
      .agg(first(col("__k")).as("k_groups"),
        first(col("__tn")).as("n_total"),
        ssb.as("__ssb"), ssw.as("__ssw"))
      .select(col("k_groups"), col("n_total"),
        round((col("__ssb") / (col("k_groups") - 1L)) /
          when(col("k_groups") > 1L && col("n_total") > col("k_groups") &&
            col("__ssw") > 0.0,
            col("__ssw") / (col("n_total") - col("k_groups"))), scale)
          .as("f_stat"),
        round(col("__ssb") /
          when(col("__ssb") + col("__ssw") > 0.0,
            col("__ssb") + col("__ssw")), scale).as("eta_sq"))
  }

  /** Two-sided p-value of a standard-normal z statistic, computed with
    * the Abramowitz & Stegun 7.1.26 erfc rational approximation
    * (|err| <= 1.5e-7) — elementary ops only (exp + one Horner
    * polynomial), so the SQL oracle can state the IDENTICAL formula;
    * neither engine exposes erf in its portable surface. */
  def zPValue(z: Column): Column = {
    val x = abs(z) / sqrt(lit(2.0))
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    // p_two = 2(1 - Phi(|z|)) = erfc(x) = poly(t) * exp(-x^2)
    val poly = t * (lit(0.254829592) + t * (lit(-0.284496736) +
      t * (lit(1.421413741) + t * (lit(-1.453152027) +
        t * lit(1.061405429)))))
    poly * exp(-x * x)
  }

  /** Leakage-safe K-fold target encoding — the high-cardinality
    * categorical feature transform: each row's category is replaced by
    * the target mean computed from the OTHER folds only (a same-fold
    * mean leaks the row's own label into its feature; the K-fold
    * scheme is how production feature pipelines avoid it), smoothed
    * toward the global mean with `smoothing` pseudo-observations so
    * rare categories don't memorize.
    *
    * Deterministic: folds come from the salted-md5 uniform of
    * `keyCol` (the esScore idiom), so the encoding is reproducible
    * across engines and runs — and therefore exactly oracle-checkable.
    * Scale shape: ONE (category, fold) aggregate (bounded by
    * |cats|·folds, broadcast back); other-fold sums by subtraction
    * from per-category totals — no self-join, the zTestVsRest
    * posture. Output: keyCol, catCol, fold, target_enc. */
  def targetEncode(df: DataFrame, keyCol: String, catCol: String,
      targetCol: String, folds: Int = 5, smoothing: Double = 20.0,
      salt: String = "te", scale: Int = 6): DataFrame = {
    require(folds >= 2, "need >= 2 folds")
    require(smoothing >= 0.0)
    val u = (conv(substring(md5(concat(col(keyCol).cast("string"),
      lit(":" + salt))), 1, 13), 16, 10).cast("double") + 1.0) /
      4503599627370498.0
    val t = col(targetCol).cast("double")
    val withFold = df.select(col(keyCol), col(catCol), t.as("__t"))
      .withColumn("fold", floor(u * folds).cast("int"))
    val cf = withFold.groupBy(col(catCol), col("fold"))
      .agg(count(lit(1)).as("__n"), sum(col("__t")).as("__s"))
    val ct = cf.groupBy(col(catCol))
      .agg(sum(col("__n")).as("__cn"), sum(col("__s")).as("__cs"))
    val g = broadcast(withFold.agg(
      (sum(col("__t")) / count(lit(1))).as("__g")))
    val enc = broadcast(cf.join(ct, Seq(catCol)).crossJoin(g)
      .select(col(catCol), col("fold"),
        (((col("__cs") - col("__s")) + lit(smoothing) * col("__g")) /
          ((col("__cn") - col("__n")) + lit(smoothing))).as("__enc")))
    withFold.join(enc, Seq(catCol, "fold"))
      .select(col(keyCol), col(catCol), col("fold"),
        round(col("__enc"), scale).as("target_enc"))
  }

  /** Weight-of-evidence / information value — the credit-scoring
    * screen for "how predictive is this categorical of the binary
    * outcome": per category, WOE = ln(dist_pos / dist_neg) over
    * smoothed class shares, IV = Σ (dist_pos - dist_neg)·WOE
    * (rule of thumb: IV < 0.02 useless, > 0.3 strong). One hash
    * aggregate over the data; everything else runs on the
    * category-sized frame against broadcast class totals. Output per
    * category: n, n_pos, woe, iv_contrib, plus the repeated iv_total
    * for a single-query read. */
  def woeIv(df: DataFrame, catCol: String, labelCol: String,
      alpha: Double = 0.5, scale: Int = 6): DataFrame = {
    require(alpha > 0.0, "alpha must be positive (zero cells)")
    val y = col(labelCol).cast("int")
    val g = df.groupBy(col(catCol))
      .agg(count(lit(1)).as("n"), sum(y).cast("long").as("n_pos"))
    val tot = broadcast(g.agg(sum(col("n")).cast("long").as("__tn"),
      sum(col("n_pos")).cast("long").as("__tp"),
      count(lit(1)).as("__k")))
    val base = g.crossJoin(tot)
      .withColumn("__dp", (col("n_pos") + lit(alpha)) /
        (col("__tp") + lit(alpha) * col("__k")))
      .withColumn("__dn",
        ((col("n") - col("n_pos")) + lit(alpha)) /
          ((col("__tn") - col("__tp")) + lit(alpha) * col("__k")))
      .withColumn("woe", round(log(col("__dp") / col("__dn")), scale))
      .withColumn("iv_contrib",
        round((col("__dp") - col("__dn")) *
          log(col("__dp") / col("__dn")), scale))
    val iv = broadcast(base.agg(
      round(sum((col("__dp") - col("__dn")) *
        log(col("__dp") / col("__dn"))), scale).as("iv_total")))
    base.crossJoin(iv)
      .select(col(catCol), col("n"), col("n_pos"), col("woe"),
        col("iv_contrib"), col("iv_total"))
  }

  /** Split conformal prediction intervals (Vovk 2005; Lei 2018) —
    * distribution-free error bars for ANY point predictor: fit on
    * `train` (here the per-key mean — swap in any model), take the
    * k-th smallest absolute residual on the held-out `cal` split with
    * k = ceil((n+1)(1-alpha)) (the finite-sample-valid rank, clamped
    * to n), and [pred ± q̂] covers fresh points with probability >=
    * 1-alpha under exchangeability. `test` reports the realized
    * coverage. The ML-eval answer to "how wrong can this prediction
    * be" that needs NO distributional assumptions.
    *
    * Scale shape: predictor and quantile are per-key aggregates /
    * parallel windows (one exchange each); the coverage pass is a
    * broadcast join of two key-sized frames onto the test scan. The
    * coverage comparison uses the ROUNDED q̂ on both engines so the
    * boundary is hash-stable. */
  def conformalIntervals(train: DataFrame, cal: DataFrame,
      test: DataFrame, keyCol: String, valueCol: String,
      alpha: Double = 0.1, scale: Int = 6): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, "alpha in (0,1)")
    val v = col(valueCol).cast("double")
    val pred = broadcast(train.groupBy(col(keyCol))
      .agg(avg(v).as("__pred")))
    val resid = cal.join(pred, Seq(keyCol))
      .withColumn("__res", abs(v - col("__pred")))
    val wOrd = Window.partitionBy(col(keyCol)).orderBy(col("__res"))
    val wAll = Window.partitionBy(col(keyCol))
    val qhat = broadcast(resid
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("__n", count(lit(1)).over(wAll))
      .filter(col("__rn") ===
        least(ceil((col("__n") + 1L) * lit(1.0 - alpha)), col("__n")))
      .select(col(keyCol), col("__n").as("n_cal"),
        round(col("__res"), scale).as("q_hat")))
    test.join(pred, Seq(keyCol)).join(qhat, Seq(keyCol))
      .groupBy(col(keyCol))
      .agg(first(col("n_cal")).as("n_cal"),
        round(first(col("__pred")), scale).as("pred"),
        first(col("q_hat")).as("q_hat"),
        count(lit(1)).as("n_test"),
        round(avg(when(abs(v - col("__pred")) <= col("q_hat"), 1.0)
          .otherwise(0.0)), scale).as("coverage"))
  }

  /** Inverse standard-normal CDF (probit) via Acklam's rational
    * approximation (|rel err| < 1.15e-9): three branches (lower tail /
    * central / upper tail), each a Horner polynomial over elementary
    * ops — like [[zPValue]], chosen so the SQL oracle can state the
    * IDENTICAL formula and hash-match the output. Domain (0,1);
    * out-of-domain yields null (no branch matches). */
  def probit(p: Column): Column = {
    val pl = lit(0.02425)
    def central: Column = {
      val q = p - 0.5
      val r = q * q
      (((((lit(-3.969683028665376e+01) * r + lit(2.209460984245205e+02)) * r
        + lit(-2.759285104469687e+02)) * r + lit(1.383577518672690e+02)) * r
        + lit(-3.066479806614716e+01)) * r + lit(2.506628277459239e+00)) * q /
        (((((lit(-5.447609879822406e+01) * r + lit(1.615858368580409e+02)) * r
          + lit(-1.556989798598866e+02)) * r + lit(6.680131188771972e+01)) * r
          + lit(-1.328068155288572e+01)) * r + lit(1.0))
    }
    def tail(q: Column): Column =
      (((((lit(-7.784894002430293e-03) * q + lit(-3.223964580411365e-01)) * q
        + lit(-2.400758277161838e+00)) * q + lit(-2.549732539343734e+00)) * q
        + lit(4.374664141464968e+00)) * q + lit(2.938163982698783e+00)) /
        ((((lit(7.784695709041462e-03) * q + lit(3.224671290700398e-01)) * q
          + lit(2.445134137142996e+00)) * q + lit(3.754408661907416e+00)) * q
          + lit(1.0))
    when(p > pl && p < lit(1.0) - pl, central)
      .when(p > lit(0.0) && p <= pl, tail(sqrt(lit(-2.0) * log(p))))
      .when(p >= lit(1.0) - pl && p < lit(1.0),
        -tail(sqrt(lit(-2.0) * log(lit(1.0) - p))))
  }

  /** Rank-based inverse-normal transform (Blom scores): each value is
    * replaced by Phi^-1((rank - 3/8) / (n + 1/4)) within its group —
    * the batch-effect / heavy-tail normalizer that forces every
    * group's metric onto the SAME standard-normal scale before
    * cross-group models or comparisons (the GWAS / feature-pipeline
    * standard). Adds `nscore`; ties break by `keyCol` so both engines
    * rank identically.
    *
    * Scale shape: ONE hash exchange on the group key, then per-group
    * window ranks run in parallel (the stratifiedTake posture); the
    * probit is a map-only projection. A pathologically hot group is a
    * single sort partition — same caveat, same histogram-bucketing
    * escape hatch. */
  def normalScores(df: DataFrame, groupCol: String, valueCol: String,
      keyCol: String, scale: Int = 6): DataFrame = {
    val wOrd = Window.partitionBy(col(groupCol))
      .orderBy(col(valueCol), col(keyCol))
    val wAll = Window.partitionBy(col(groupCol))
    df.withColumn("__r", row_number().over(wOrd))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("nscore", round(probit(
        (col("__r") - 0.375) / (col("__n") + 0.25)), scale))
      .drop("__r", "__n")
  }

  /** Off-policy evaluation of a target action policy from logged
    * bandit feedback: clipped inverse-propensity scoring (IPS) and the
    * self-normalized variant (SNIPS), with the effective sample size
    * that says how much data the importance weights actually kept.
    * Behavior propensities mu(a|x) are the EMPIRICAL context-action
    * shares (the logging policy is rarely recorded; empirical mu is
    * the standard estimate); the target policy is a context-free
    * action-probability table. Answers "what would the metric have
    * been under this other ranking/recommendation policy?" without an
    * online test.
    *
    * Scale shape: one (context, action) count aggregate — bounded by
    * |contexts|x|actions|, broadcast back — then one scan computes all
    * sums map-side; nothing row-sized leaves the executors. */
  def offPolicyValue(df: DataFrame, ctxCol: String, actionCol: String,
      rewardCol: String, target: Seq[(String, Double)],
      clipAt: Double = 10.0, scale: Int = 6): DataFrame = {
    require(clipAt > 0.0, "clipAt must be positive")
    require(target.forall(_._2 >= 0.0), "target probabilities must be >= 0")
    val cnt = df.groupBy(col(ctxCol), col(actionCol))
      .agg(count(lit(1)).as("__na"))
    val tot = cnt.groupBy(col(ctxCol)).agg(sum(col("__na")).as("__nc"))
    val prop = broadcast(cnt.join(tot, ctxCol).select(col(ctxCol),
      col(actionCol), (col("__na") / col("__nc")).as("__mu")))
    val pi = target.foldRight(lit(0.0): Column) { case ((a, p), els) =>
      when(col(actionCol) === a, lit(p)).otherwise(els)
    }
    val w = least(pi / col("__mu"), lit(clipAt))
    val r = col(rewardCol).cast("double")
    df.join(prop, Seq(ctxCol, actionCol))
      .agg(count(lit(1)).as("n"),
        sum(w * r).as("__swr"), sum(w).as("__sw"),
        sum(w * w).as("__sww"))
      .select(col("n"),
        round(col("__swr") / col("n"), scale).as("v_ips"),
        round(col("__swr") / when(col("__sw") > 0.0, col("__sw")), scale)
          .as("v_snips"),
        round(col("__sw") * col("__sw") /
          when(col("__sww") > 0.0, col("__sww")), scale).as("ess"))
  }

  /** Per-key two-sample z-test of each group against ALL OTHER rows
    * (one-vs-rest): the segment-screening battery ("which nations'
    * balances actually differ from the rest?") that [[bhFdr]] then
    * corrects for multiplicity. Rest-side moments are derived by
    * subtracting the group's (n, sum, sum-of-squares) from broadcast
    * totals — ONE aggregation pass over the data regardless of key
    * count, no self-join. Degenerate sides (n < 2 either side, zero
    * pooled SE) yield null z/p. Output: key, n, mean, z, p (p rounded
    * to `scale` so downstream rank order is engine-stable). */
  def zTestVsRest(df: DataFrame, keyCol: String, valueCol: String,
      scale: Int = 6): DataFrame = {
    val v = col(valueCol).cast("double")
    val g = df.groupBy(col(keyCol))
      .agg(count(v).as("__n"), sum(v).as("__s"), sum(v * v).as("__q"))
    val tot = broadcast(g.agg(sum(col("__n")).as("__tn"),
      sum(col("__s")).as("__ts"), sum(col("__q")).as("__tq")))
    val nR = col("__tn") - col("__n")
    val sR = col("__ts") - col("__s")
    val qR = col("__tq") - col("__q")
    val mG = col("__s") / col("__n")
    val mR = sR / nR
    val vG = (col("__q") - col("__s") * col("__s") / col("__n")) /
      (col("__n") - 1L)
    val vR = (qR - sR * sR / nR) / (nR - 1L)
    val se2 = vG / col("__n") + vR / nR
    val z = (mG - mR) /
      when(col("__n") > 1L && nR > 1L && se2 > 0.0, sqrt(se2))
    g.crossJoin(tot).select(
      col(keyCol), col("__n").as("n"),
      round(mG, scale).as("mean"),
      round(z, scale).as("z_stat"),
      round(zPValue(z), scale).as("p_value"))
  }

  /** Benjamini-Hochberg step-up FDR correction over a battery of
    * tests: rank p ascending, find the largest rank r with p_(r) <=
    * r·alpha/m, and declare every rank <= r significant — the
    * multiple-comparisons discipline for per-segment screens (at
    * alpha = 0.05 over 1000 segments, ~50 "significant" nations are
    * expected by chance alone; BH caps the FALSE-DISCOVERY RATE
    * instead of the familywise error Bonferroni over-pays for).
    *
    * Scale shape: the input is the TEST battery (one row per
    * hypothesis — k-bounded, thousands at most), not the data, so the
    * global rank window and the 1-row cutoff aggregate are free; the
    * expensive pass already happened inside [[zTestVsRest]]. Ties in p
    * break by key so both engines rank identically. */
  def bhFdr(tests: DataFrame, pCol: String, keyCol: String,
      alpha: Double, scale: Int = 6): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, "alpha in (0,1)")
    val m = broadcast(tests.agg(count(lit(1)).as("__m")))
    // nulls rank LAST: a degenerate test with no p-value must neither
    // soak up rank 1 (Spark ASC defaults NULLS FIRST; the oracle
    // engine defaults NULLS LAST — silent cross-engine divergence) nor
    // shift real ranks; ranked after everything, its crit comparison
    // is null, so it can never pass nor move the step-up cutoff
    val ranked = tests.crossJoin(m)
      .withColumn("p_rank",
        row_number().over(
          Window.orderBy(col(pCol).asc_nulls_last, col(keyCol))))
      .withColumn("bh_crit",
        round(col("p_rank") * lit(alpha) / col("__m"), scale))
    val cutoff = broadcast(ranked.agg(
      max(when(col(pCol) <= col("bh_crit"), col("p_rank"))
        .otherwise(0)).as("__cut")))
    ranked.crossJoin(cutoff)
      .withColumn("significant", col("p_rank") <= col("__cut"))
      .drop("__m", "__cut")
  }
}
