package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.streaming.{KeyedStore, ParquetKeyedStore, Sinks, StreamOps, Ticks}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** Upserts stamped with an increasing version, so that the newest row of
  * a window wins the keyed merge. */
final class VersionedStore(inner: KeyedStore) extends KeyedStore {
  private val version = new AtomicLong(0L)
  def upsert(batch: DataFrame): Unit =
    inner.upsert(batch.withColumn("version", lit(version.incrementAndGet())))
  def read(spark: SparkSession): DataFrame = inner.read(spark)
  def exists: Boolean = inner.exists
}

/** tick_stream: open loop at a fixed offered rate. One generator thread
  * pushes seeded ticks (Kafka-shaped JSON) into a memory stream: every
  * [[PushPeriodMs]], the ticks of [[Gen.tickSchedule]] that fell due
  * since the last push, each stamped with the time it was due, whether
  * or not the engine keeps up. Two streaming queries read
  * the stream:
  *
  *  1. every 2 s: parse, validate, repair sentinels, 10-minute windowed
  *     feature averages, upserted into a keyed parquet store;
  *  2. every 5 s: the BP-price / ETHEREUM-ask 1-minute bucket join,
  *     summarised per micro-batch by the bucket correlation.
  *
  * A tick's latency runs from its due time (so it includes the wait for
  * the next push, 50 ms on average) to the end of the query-1
  * micro-batch that wrote its window. After the run the generator stops,
  * both queries drain, and their outputs are checked against the same
  * operators run in batch mode over every generated tick. */
final class TickStreamWorkload extends Workload {
  val opName = "tick"
  override val opUnit = "micro-batch"
  val actionKinds = Set("stream.batch")
  // The feed runs at 10 times the reference rate (Gen.referenceGapS),
  // about 40 ticks/s: at the reference's 4 ticks/s a 12 s window holds
  // some 50 ticks, too few for 10 beyond the p90. The factor is applied
  // to every symbol, so the mix stays the reference's; the bucket join's
  // per-minute cross product grows with its square (about 76,000 pairs).
  val RateScale = 10.0
  // Query 1 triggers every 2 s (the reference: 1 s): a micro-batch takes
  // about 1.2 s on 4 cores, so at 1 s it would be saturated and a tick
  // would wait behind a queue of batches, not for the next trigger. The reference triggers the correlation job far less
  // often (5 min); scaled down here to 5 s.
  val FeatureTriggerMs = 2000L
  val CorrTriggerMs = 5000L

  // The generator pushes every 100 ms the ticks that fell due since its
  // last push (a memory stream makes a task of every push).
  val PushPeriodMs = 100L

  /** One push into both streams (memory-stream offset = index): when it
    * was due and made, and the due times of its ticks. */
  private final case class Call(dueNs: Long, pushNs: Long, tickDueMs: Seq[Long], tickDueNs: Seq[Long])
  private final case class Batch(query: String, id: Long, endOffset: Long, startMs: Long,
      endMs: Long, rows: Long, durations: Map[String, Long], stateRows: Long,
      stateBytes: Long)

  private val calls = ArrayBuffer.empty[Call]
  private val messages = ArrayBuffer.empty[String]
  private val batches = ArrayBuffer.empty[Batch]
  @volatile private var stopGen = false
  private var genThread: Thread = _
  private var q1: StreamingQuery = _
  private var q2: StreamingQuery = _
  private var store: TimedStore = _
  // joined rows per query-2 batch id; only batches that reported progress
  // (that is, committed) count
  private val joinedRows = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private var nowMs = 0L
  private var measureNs = 0L
  private var trace: Trace = _

  private def parse(raw: DataFrame): DataFrame =
    Ticks.withEventTime(Ticks.repairEthSentinels(Ticks.parseTicks(raw)))

  private def features(valid: DataFrame, streaming: Boolean): DataFrame =
    StreamOps.windowedFeatureAvg(streaming = streaming)(valid.withColumn("label", col("price")))

  // Ticks stamped in the future are dropped before the join: one would
  // move the join's watermark past every real tick.
  private def joined(parsed: DataFrame, streaming: Boolean): DataFrame = {
    val current = parsed.filter(col("timestamp") <= nowMs)
    StreamOps.bucketJoin(current.filter(col("symbol") === "BP"), "price",
      current.filter(col("symbol") === "ETHEREUM"), "ask", streaming = streaming)
  }

  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs
      val dur = Seq("triggerExecution", "queryPlanning", "addBatch", "walCommit",
        "commitOffsets").map(k => k -> Option(d.get(k)).map(_.longValue).getOrElse(0L)).toMap
      val end = Option(p.sources.head.endOffset).map(_.trim.toLong).getOrElse(-1L)
      val b = Batch(p.name, p.batchId, end, start, start + dur("triggerExecution"), p.numInputRows,
        dur, p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum)
      TickStreamWorkload.this.synchronized { batches += b }
      if (trace != null && trace.enabled && b.rows > 0)
        trace.add(Span("stream.batch", b.startMs, b.endMs, dur("triggerExecution") * 1000000L))
    }
  }

  def warm(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val root = s"${ctx.work}/ticks"
    trace = ctx.trace
    nowMs = System.currentTimeMillis() + 1800000L
    spark.streams.addListener(listener)
    // one memory stream per query (a memory stream serves one reader),
    // fed the same messages in the same calls, so offsets line up
    val mem1 = MemoryStream[String](spark)(Encoders.STRING)
    val mem2 = MemoryStream[String](spark)(Encoders.STRING)
    val parsed = parse(mem1.toDF().toDF("value"))
    store = new TimedStore(new ParquetKeyedStore(s"$root/store",
      Seq("window_start", "symbol"), "version"), ctx.trace)
    val (valid, _) = Ticks.partitionValid(parsed, nowMs)
    q1 = Sinks.upsertEachBatch(features(valid, streaming = true), new VersionedStore(store),
      s"$root/cp-features", FeatureTriggerMs)
    q2 = joined(parse(mem2.toDF().toDF("value")), streaming = true).writeStream
      .queryName("bucket_corr")
      .option("checkpointLocation", s"$root/cp-corr")
      .trigger(Trigger.ProcessingTime(CorrTriggerMs))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // two actions on one micro-batch: persist so the join runs once
        batch.persist()
        try {
          val n = batch.count()
          if (n > 0) {
            val summary = ctx.trace.span("build") { StreamOps.bucketCorrSummary(batch, "price", "ask") }
            summary.collect()
            joinedRows.put(id, n)
          }
        } finally batch.unpersist()
        ()
      }.start()
    val epoch0 = System.currentTimeMillis()
    val ns0 = System.nanoTime()
    val schedule = Gen.tickSchedule(ctx.seed, RateScale).buffered
    genThread = new Thread(() => {
      var k = 1L
      var tick = 0L
      while (!stopGen) {
        val dueNs = ns0 + k * PushPeriodMs * 1000000L
        val wait = dueNs - System.nanoTime()
        if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
        val due = ArrayBuffer.empty[(Long, String)]
        while (schedule.head._1 <= k * PushPeriodMs) due += schedule.next()
        if (due.nonEmpty) {
          val msgs = due.map { case (ms, symbol) => tick += 1; Gen.tick(ctx.seed, tick, symbol, epoch0 + ms) }
          mem1.addData(msgs)
          mem2.addData(msgs)
          val c = Call(dueNs, System.nanoTime(), due.map(epoch0 + _._1).toSeq,
            due.map(ns0 + _._1 * 1000000L).toSeq)
          TickStreamWorkload.this.synchronized { calls += c; messages ++= msgs }
        }
        k += 1
      }
    }, "perfbench-tick-generator")
    genThread.setDaemon(true)
    genThread.start()
    // warm: until query 1 has finished two micro-batches with data and
    // query 2 one (the first batches plan and compile the whole pipeline)
    def warmed = synchronized {
      val data = batches.filter(_.rows > 0)
      data.count(_.query != "bucket_corr") >= 2 && data.exists(_.query == "bucket_corr")
    }
    while (!warmed) {
      if (q1.exception.isDefined) throw q1.exception.get
      if (q2.exception.isDefined) throw q2.exception.get
      Thread.sleep(50)
    }
  }

  def run(ctx: Ctx, deadlineNs: Long): Seq[Op] = {
    measureNs = System.nanoTime()
    val midNs = measureNs + (deadlineNs - measureNs) / 2
    var midBacklog = Option.empty[Long]
    val streamFailure = try {
      while (System.nanoTime() < deadlineNs) {
        if (midBacklog.isEmpty && System.nanoTime() >= midNs) midBacklog = Some(backlog())
        if (q1.exception.isDefined) throw q1.exception.get
        if (q2.exception.isDefined) throw q2.exception.get
        Thread.sleep(20)
      }
      endBacklog = backlog() - midBacklog.getOrElse(0L)
      None
    } catch {
      case NonFatal(e) => Some(ctx.failure(e))
    } finally {
      stopGen = true
      genThread.join()
    }
    val failure = try {
      streamFailure.orElse {
        // query 1 must cover every tick; query 2 is stopped when idle and
        // checked on the prefix of the feed that it covered
        val last = synchronized(calls.size - 1).toLong
        val limit = System.nanoTime() + 60000000000L
        while (synchronized(batches.filter(_.query != "bucket_corr").map(_.endOffset)
            .maxOption.getOrElse(-1L)) < last) {
          if (q1.exception.isDefined) throw q1.exception.get
          if (System.nanoTime() > limit) throw new IllegalStateException("query 1 did not catch up")
          Thread.sleep(20)
        }
        q1.stop()
        while (q2.status.isTriggerActive) Thread.sleep(20)
        q2.stop()
        org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
        check(ctx.spark)
      }
    } catch {
      case NonFatal(e) => Some(ctx.failure(e))
    } finally {
      q1.stop(); q2.stop()
      org.apache.spark.PerfbenchBus.drain(ctx.spark.sparkContext)
      ctx.spark.streams.removeListener(listener)
    }
    failure.foreach(f => ctx.log(s"FAILED tick_stream: $f"))
    // one op per tick due in the measured window
    val b1 = synchronized(batches.filter(_.query != "bucket_corr").sortBy(_.endOffset).toSeq)
    val cs = synchronized(calls.toSeq)
    cs.zipWithIndex.flatMap { case (c, i) =>
      val done = b1.find(_.endOffset >= i)
      val f = failure.orElse(if (done.isEmpty) Some("tick never processed") else None)
      c.tickDueMs.zip(c.tickDueNs).collect { case (ms, ns) if ns >= measureNs && ns < deadlineNs =>
        Op(ns, done.map(b => (b.endMs - ms).toDouble).getOrElse(Double.NaN), f)
      }
    }
  }

  private var endBacklog = 0L

  /** Ticks created but not yet covered by a finished query-1 batch. */
  private def backlog(): Long = synchronized {
    val done = batches.filter(_.query != "bucket_corr").map(_.endOffset).maxOption.getOrElse(-1L)
    calls.drop((done + 1).toInt).map(_.tickDueMs.size.toLong).sum
  }

  private def check(spark: SparkSession): Option[String] = {
    def feed(msgs: Seq[String]) = parse(spark.createDataFrame(
      java.util.Arrays.asList(msgs.map(Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(org.apache.spark.sql.types.StructField(
        "value", org.apache.spark.sql.types.StringType)))))
    val parsed = feed(synchronized(messages.toSeq))
    val (valid, _) = Ticks.partitionValid(parsed, nowMs)
    def rows(df: DataFrame): Map[(Any, Any), Seq[Any]] =
      df.collect().map { r =>
        val m = r.getValuesMap[Any](r.schema.fieldNames.toSeq)
        (m("window_start"), m("symbol")) ->
          df.columns.filterNot(Set("window_start", "symbol", "version")).sorted.toSeq.map(m)
      }.toMap
    val want = rows(features(valid, streaming = false))
    val got = rows(store.read(spark))
    def same(a: Any, b: Any) = (a, b) match {
      case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
      case _ => a == b
    }
    val (corrEnd, gotJoined) = synchronized {
      val b2 = batches.filter(_.query == "bucket_corr")
      (b2.map(_.endOffset).maxOption.getOrElse(-1L),
        b2.map(b => joinedRows.getOrDefault(b.id, 0L)).sum)
    }
    val covered = synchronized(calls.take((corrEnd + 1).toInt).map(_.tickDueMs.size).sum)
    val wantJoined = joined(feed(synchronized(messages.take(covered).toSeq)), streaming = false).count()
    if (want.keySet != got.keySet) Some(s"feature windows: expected ${want.keySet}, got ${got.keySet}")
    else want.collectFirst {
      case (k, v) if !v.zip(got(k)).forall { case (a, b) => same(a, b) } =>
        s"feature window $k: expected $v, got ${got(k)}"
    }.orElse(if (gotJoined != wantJoined)
      Some(s"bucket join rows: expected $wantJoined, got $gotJoined") else None)
  }

  override def report(ctx: Ctx): Seq[(String, Double)] = {
    val traced = synchronized(batches.filter(_.startMs >= ctx.trace.startedMs).toSeq)
    val b1 = traced.filter(b => b.query != "bucket_corr" && b.rows > 0)
    val b2 = traced.filter(b => b.query == "bucket_corr" && b.rows > 0)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val ups = store.upsertMs.toSeq
    val lag = synchronized(calls.map(c => (c.pushNs - c.dueNs) / 1e6).toSeq)
    Seq(
      "stream.batches" -> b1.size.toDouble,
      "stream.batch_ms" -> med(b1.map(_.durations("triggerExecution").toDouble)),
      "stream.query_planning_ms" -> med(b1.map(_.durations("queryPlanning").toDouble)),
      "stream.add_batch_ms" -> med(b1.map(_.durations("addBatch").toDouble)),
      "stream.wal_commit_ms" -> med(b1.map(_.durations("walCommit").toDouble)),
      "stream.commit_offsets_ms" -> med(b1.map(_.durations("commitOffsets").toDouble)),
      "stream.rows_per_batch" -> med(b1.map(_.rows.toDouble)),
      "stream.state_rows" -> b1.lastOption.map(_.stateRows.toDouble).getOrElse(0.0),
      "stream.state_bytes" -> b1.lastOption.map(_.stateBytes.toDouble).getOrElse(0.0),
      "stream.join_batch_ms" -> med(b2.map(_.durations("triggerExecution").toDouble)),
      "store.upsert_ms" -> med(ups),
      "store.upsert_ms_first_quarter" -> med(ups.take(math.max(1, ups.size / 4))),
      "store.upsert_ms_last_quarter" -> med(ups.takeRight(math.max(1, ups.size / 4))),
      "stream.generator_lag_p95_ms" -> (if (lag.isEmpty) 0.0 else Stats.percentile(lag, 95)),
      "stream.backlog_growth" -> endBacklog.toDouble)
  }

  override def layerOps(ctx: Ctx, ops: Seq[Op]): Int =
    ctx.trace.spansOf("stream.batch").size
}
