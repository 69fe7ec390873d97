package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The three streaming query shapes of SURVEY.md §3.1/§3.3, written as
  * plan combinators that work unchanged on batch and streaming frames —
  * the batch run IS the oracle for the streaming run (tested in
  * StreamingSpec).
  *
  * Scale design: every shape is keyed by (window, symbol) — state and
  * shuffle are bounded by watermark horizon × symbol cardinality, never
  * by input volume. Stream-stream join state is cleaned by the watermark
  * on BOTH sides (T1).
  */
object StreamOps {

  /** A9/T1/T2 — event-time tumbling-window feature averages: the
    * training-set builder. Watermark 20 min, window 10 min.
    * Reference: `NEW_train_offset_3_10min.py:124-136`.
    * Emits window_start/window_end + avg_<feature> columns + label
    * (window-avg price). */
  def windowedFeatureAvg(
      features: Seq[String] = Ticks.featureColumns,
      windowDur: String = "10 minutes",
      watermark: String = "20 minutes",
      streaming: Boolean = true)(df: DataFrame): DataFrame = {
    val base = if (streaming) df.withWatermark("event_time", watermark) else df
    val aggs = features.map(f => avg(col(f)).as(s"avg_$f")) :+
      avg(col("label")).as("label")
    base
      .groupBy(window(col("event_time"), windowDur), col("symbol"))
      .agg(aggs.head, aggs.tail: _*)
      .select(Seq(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("symbol")) ++
        features.map(f => col(s"avg_$f")) :+ col("label"): _*)
  }

  /** T2 extension — sliding-window aggregate (window + slide): each
    * event lands in window/slide overlapping buckets. Same
    * partial+final agg shape as tumbling; state multiplies by the
    * overlap factor, still watermark-bounded. */
  def slidingWindowAgg(ts: String, windowDur: String, slide: String,
      keys: Seq[String], aggs: Seq[org.apache.spark.sql.Column],
      watermark: Option[String] = None)(df: DataFrame): DataFrame = {
    val base = watermark.fold(df)(wm => df.withWatermark(ts, wm))
    base.groupBy(window(col(ts), windowDur, slide) +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .drop("window")
  }

  /** T2 extension — session windows: gap-based grouping per key
    * (activity sessions; no fixed grid). Streaming requires a
    * watermark; batch mode plans the same session aggregation. */
  def sessionAgg(ts: String, gap: String, keys: Seq[String],
      aggs: Seq[org.apache.spark.sql.Column],
      watermark: Option[String] = None)(df: DataFrame): DataFrame = {
    val base = watermark.fold(df)(wm => df.withWatermark(ts, wm))
    base.groupBy(session_window(col(ts), gap) +: keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("session_start", col("session_window.start"))
      .withColumn("session_end", col("session_window.end"))
      .drop("session_window")
  }

  /** J1 — stream-stream inner equi-join on tumbling 1-minute window
    * buckets, both sides watermarked 10 min (within-minute cross
    * product). Reference: `joined_streams.py:58-92`.
    *
    * We join on the native `window()` struct equality — Spark recognizes
    * it for state cleanup (the reference joined on manually-derived
    * bucket columns, which works but obscures the window semantics).
    *
    * State is bounded by watermark horizon x per-bucket volume, and a
    * skewed bucket's spike leaves state whole once the watermark
    * passes it — both measured, per trigger, in
    * the R6StreamStateProbe run (SCALING.md round-6 table). Skew note
    * for cluster duty: the join hash-partitions on the bucket struct,
    * so one hot minute lands on one task's state store. If per-minute
    * volume can exceed an executor's state budget, use
    * [[bucketJoinSalted]] — NOTE the construction is left-hash +
    * right-REPLICATE, not a same-hash salt column on both sides: this
    * join is a within-bucket cross product, so two-sided hashing would
    * silently drop every pair whose sides land in different cells. */
  // One side of a bucket join: project ONLY (bucket, value) — carrying
  // the raw event_time through alongside the windowed bucket would
  // leave two watermarked event-time columns in one stream — rejected
  // by Spark. Shared by the plain and salted joins so the projection
  // semantics can't diverge between them.
  private def bucketSide(df: DataFrame, v: String, tag: String,
      bucket: String, watermark: String, streaming: Boolean): DataFrame = {
    val wm = if (streaming) df.withWatermark("event_time", watermark) else df
    wm.select(window(col("event_time"), bucket).as("time_bucket"),
      col(v).as(s"${tag}_$v"))
  }

  def bucketJoin(
      left: DataFrame, leftVal: String,
      right: DataFrame, rightVal: String,
      bucket: String = "1 minute",
      watermark: String = "10 minutes",
      streaming: Boolean = true): DataFrame = {
    val l = bucketSide(left, leftVal, "l", bucket, watermark, streaming)
    val r = bucketSide(right, rightVal, "r", bucket, watermark, streaming)
    l.join(r, "time_bucket")
  }

  /** Stream-stream TIME-INTERVAL join — the other native
    * Structured-Streaming join shape next to [[bucketJoin]]'s window
    * equality: right events join left events whose key matches AND
    * whose event time falls within [left - before, left + after] (the
    * impression⋈click / order⋈shipment pattern where the match window
    * is a RANGE, not a shared bucket — bucket joins silently drop
    * pairs straddling a bucket edge; the interval condition does not).
    *
    * Both sides carry watermarks and the range condition bounds state:
    * Spark derives each side's eviction horizon from watermark +
    * interval width, so state is (watermark + interval) x per-key
    * volume — no unbounded buffering. Inner join only (the streaming
    * engine's requirement for range conditions with state cleanup on
    * BOTH sides). Batch mode (streaming=false) runs the identical
    * condition for parity specs. Output: key, both event times, both
    * values, and the signed lag in seconds. */
  def intervalJoin(
      left: DataFrame, leftVal: String,
      right: DataFrame, rightVal: String,
      key: String,
      before: String = "1 minute", after: String = "1 minute",
      watermark: String = "10 minutes",
      streaming: Boolean = true): DataFrame = {
    def side(df: DataFrame, tag: String, v: String): DataFrame = {
      val wm = if (streaming) df.withWatermark("event_time", watermark)
        else df
      wm.select(col(key).as(s"${tag}_key"),
        col("event_time").as(s"${tag}_time"), col(v).as(s"${tag}_$v"))
    }
    val l = side(left, "l", leftVal)
    val r = side(right, "r", rightVal)
    l.join(r,
        col("l_key") === col("r_key") &&
          col("r_time") >= col("l_time") - expr(s"INTERVAL $before") &&
          col("r_time") <= col("l_time") + expr(s"INTERVAL $after"))
      .select(col("l_key").as(key), col("l_time"), col("r_time"),
        col(s"l_$leftVal"), col(s"r_$rightVal"),
        (unix_micros(col("r_time")) - unix_micros(col("l_time")))
          .cast("double").divide(lit(1e6)).as("lag_s"))
  }

  /** [[bucketJoin]]'s OUTER variants — the gap-visible stream join
    * (which minutes had ticks on one feed but not the other?). Same
    * native window-struct equality, so Spark still keys state cleanup
    * on the bucket; the null-padded rows for unmatched buckets emit
    * once the WATERMARK passes the bucket end (outer results are
    * necessarily late by up to the watermark delay — inherent to
    * stream-stream outer semantics, not a defect). Batch mode
    * (streaming=false) degrades to a plain outer join for parity
    * testing. State bound is identical to [[bucketJoin]]: watermark
    * horizon x per-bucket volume per side. */
  def bucketJoinOuter(
      left: DataFrame, leftVal: String,
      right: DataFrame, rightVal: String,
      bucket: String = "1 minute",
      watermark: String = "10 minutes",
      joinType: String = "left_outer",
      streaming: Boolean = true): DataFrame = {
    require(Set("left_outer", "right_outer", "full_outer")(joinType),
      s"outer join type expected, got $joinType")
    val l = bucketSide(left, leftVal, "l", bucket, watermark, streaming)
    val r = bucketSide(right, rightVal, "r", bucket, watermark, streaming)
    l.join(r, Seq("time_bucket"), joinType)
  }

  /** [[bucketJoin]]'s skew-salted variant — the hot-minute mitigation
    * the J1 docstring prescribes, as an operator. The join is a
    * within-bucket cross product, so plain two-sided salting would
    * DROP pairs (a left row in cell 3 never meets a right row in cell
    * 5); instead the left side hashes its value into one of `salt`
    * cells and the right side is replicated into EVERY cell, so each
    * (left, right) pair meets exactly once at key (bucket, cell).
    * A hot minute's left-side state then spreads across `salt` state
    * partitions instead of one (measured: R6StreamStateProbe salted
    * mode, SCALING.md), at the documented cost of `salt`-way duplicate
    * right-side routing — the right trade when left volume dwarfs
    * right volume (tick streams vs reference feeds). Watermark
    * eviction is unchanged: cleanup keys on the window bucket, which
    * stays a join column. Output equals [[bucketJoin]] row-for-row
    * (spec-enforced, batch and stream). */
  def bucketJoinSalted(
      left: DataFrame, leftVal: String,
      right: DataFrame, rightVal: String,
      bucket: String = "1 minute",
      watermark: String = "10 minutes",
      salt: Int = 8,
      streaming: Boolean = true): DataFrame = {
    require(salt >= 1, "salt must be positive")
    val l = bucketSide(left, leftVal, "l", bucket, watermark, streaming)
      .withColumn("__cell",
        pmod(xxhash64(col(s"l_$leftVal")), lit(salt.toLong)).cast("int"))
    val r = bucketSide(right, rightVal, "r", bucket, watermark, streaming)
      .withColumn("__cell",
        explode(sequence(lit(0), lit(salt - 1))))
    l.join(r, Seq("time_bucket", "__cell")).drop("__cell")
  }

  /** §3.3 per-batch correlation: minute-mean both sides, then Pearson
    * corr of the means plus global min/max/avg scalars — computed in ONE
    * aggregate pass over the joined frame (the reference runs four
    * separate jobs + collect()s per 5-min batch:
    * `joined_streams.py:103-123`). Returns a 1-row frame. */
  def bucketCorrSummary(joined: DataFrame, lv: String, rv: String): DataFrame = {
    val minuteMeans = joined
      .groupBy("time_bucket")
      .agg(avg(col(s"l_$lv")).as("avg_l"), avg(col(s"r_$rv")).as("avg_r"))
    minuteMeans.agg(
      corr(col("avg_l"), col("avg_r")).as("correlation"),
      min(col("time_bucket.start")).as("first_bucket"),
      max(col("time_bucket.end")).as("last_bucket"),
      avg(col("avg_l")).as("mean_l"),
      avg(col("avg_r")).as("mean_r"),
      count(lit(1)).as("n_buckets"))
  }

  /** T7 — retro label back-fill: given served prediction rows and the
    * just-closed window aggregate, overwrite `label` for rows whose
    * event_time falls inside the window with the window-average price.
    * Reference: `NEW_train_offset_3_10min.py:285-332` (which re-reads the
    * WHOLE serving table per window; here the caller passes a key-range
    * slice — at scale the store is partitioned by (symbol, date) so this
    * is a partition-pruned read, not a full scan). */
  def backfillLabels(served: DataFrame, windowAvg: DataFrame): DataFrame = {
    val w = broadcast(windowAvg.select(
      col("symbol").as("w_symbol"), col("window_start"), col("window_end"),
      col("label").as("window_label")))
    served.join(w,
        col("symbol") === col("w_symbol") &&
          col("event_time") >= col("window_start") &&
          col("event_time") < col("window_end"),
        "left")
      .withColumn("label", coalesce(col("window_label"), col("label")))
      .drop("w_symbol", "window_start", "window_end", "window_label")
  }

  /** Streaming exact dedup for ingest pipelines: drop records whose
    * dedup key was already seen, with state bounded by the watermark
    * (a key's fingerprint is remembered only while a duplicate could
    * still arrive inside the allowed lateness). The streaming face of
    * `llm/Dedup.exact` — run it on the ingest stream so downstream
    * batch dedup starts from a mostly-clean corpus.
    *
    * State scale: one entry per distinct key inside the watermark
    * horizon, shuffled by key — horizon x arrival rate entries per
    * executor, independent of total stream history. */
  def streamingDedup(df: DataFrame, eventTime: String, lateness: String,
      keys: Seq[String]): DataFrame =
    df.withWatermark(eventTime, lateness)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming ingest NEAR-dedup: each micro-batch is deduplicated
    * against the corpus accumulated so far (exact fingerprints +
    * cross-set MinHash banding + within-batch clusters —
    * [[graft.llm.Dedup.incrementalDedup]]) and the survivors are
    * upserted into `store`. The production corpus-ingestion pattern:
    * dedup happens batch-vs-kept-corpus in the foreachBatch hook, not
    * in operator state — corpus size is unbounded by watermarks, and
    * the store IS the output.
    *
    * Replay-safe under the checkpointed at-least-once contract: a
    * replayed batch finds its own docs already in the corpus, the
    * exact fingerprint anti-join drops every one, and the keyed upsert
    * is idempotent anyway. First-ever batch sees an empty corpus.
    *
    * 100 TB note: the kept corpus is read (and its text scanned into
    * fingerprints + band hashes) exactly ONCE per stream start — the
    * first batch builds a [[graft.llm.Dedup.CorpusDedupState]] and
    * every accepted batch is absorbed into it via
    * [[graft.llm.Dedup.extendCorpusDedupState]] (batch-sized unions
    * onto lineage-free checkpointed frames); later batches never touch
    * `store.read` or corpus text again. State lives on the driver's
    * streaming thread (foreachBatch runs batches sequentially) and is
    * rebuilt from the store on restart, so checkpoint replay stays
    * correct: a replayed batch finds its docs in the rebuilt state and
    * the upsert is idempotent anyway. */
  def nearDedupIngest(df: DataFrame, store: KeyedStore, idCol: String,
      textCol: String, checkpoint: String, triggerMs: Long = 1000L)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    var state: Option[graft.llm.Dedup.CorpusDedupState] = None
    val query = df.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val st = state.getOrElse {
            // Gate on exists, don't catch read failures: only a
            // not-yet-created store means "empty corpus". A transient
            // read error must fail the batch (checkpoint replays it) —
            // treating it as empty would ingest duplicates permanently.
            val corpus =
              if (store.exists) store.read(batch.sparkSession)
              else batch.limit(0)
            graft.llm.Dedup.buildCorpusDedupState(corpus, idCol, textCol)
          }
          val kept = graft.llm.Dedup.incrementalDedupWithState(
            batch, st, idCol, textCol)
          // materialize kept BEFORE the per-batch caches are released:
          // upsert consumes it, and the state extension re-reads it
          val keptCp = kept.localCheckpoint()
          if (!keptCp.isEmpty) {
            store.upsert(keptCp)
            state = Some(graft.llm.Dedup.extendCorpusDedupState(
              st, keptCp, idCol, textCol))
          } else state = Some(st)
          org.apache.spark.sql.graft.Bridge.releaseFrame(keptCp)
          graft.llm.Dedup.releaseCaches()
        }
      }
      .start()
    // the final state's checkpointed fingerprint/signature frames
    // outlive the last batch — release them when the query stops, so a
    // long-lived driver that starts/stops many ingest streams doesn't
    // accumulate dead cached blocks
    val streams = df.sparkSession.streams
    streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (e.id == query.id) {
            state.foreach(graft.llm.Dedup.releaseCorpusState)
            state = None
            streams.removeListener(this)
          }
      })
    query
  }

  /** Streaming ANN: search each micro-batch of query vectors against
    * a STATIC pre-built IVF-PQ index (the retrieval-serving shape:
    * index built offline, queries arrive as a stream). foreachBatch
    * is the right engine hook — the per-query bounded-heap top-k is
    * a full aggregation that append-mode streaming cannot express,
    * and per-batch the search is exactly the batch operator, so
    * parity is by construction (spec-asserted anyway). Results land
    * through `sink` (e.g. a keyed upsert); batches run sequentially
    * so the sink sees whole-batch results in order. The corpus-side
    * frames inside the index are persisted once at build time — a
    * thousand-trigger stream re-reads the SAME cached lists/codes,
    * never the raw vectors. */
  def annServe(queries: DataFrame, coarse: graft.llm.Similarity.IvfIndex,
      pq: graft.llm.Similarity.PqIndex, idCol: String, vecCol: String,
      k: Int, nProbe: Int, checkpoint: String,
      sink: DataFrame => Unit,
      triggerMs: Long = 1000L): org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          sink(graft.llm.Similarity.ivfPqKnn(batch, coarse, pq,
            idCol, vecCol, k, nProbe))
      }
      .start()

  /** Per-window token counts over a document stream — the streaming
    * half of the corpus drift monitor. One watermarked windowed
    * aggregation (append-legal: windows emit once, finalized, after the
    * watermark passes); feed the finalized rows to
    * [[graft.llm.Mixing.jsAgainstReference]] for the per-window
    * divergence against a reference corpus. State is bounded by
    * (windows in the watermark horizon) x (per-window vocabulary). */
  def tokenWindowCounts(docs: DataFrame, textCol: String, tsCol: String,
      windowDur: String, lateness: String): DataFrame =
    docs.withWatermark(tsCol, lateness)
      .select(window(col(tsCol), windowDur).as("win"),
        explode(split(col(textCol), " ")).as("w"))
      .groupBy("win", "w")
      .agg(count(lit(1)).as("cnt"))
}
