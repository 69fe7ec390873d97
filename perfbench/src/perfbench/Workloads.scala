package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.streaming.KeyedStore
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a workload hands back: one record per operation, in order. */
final case class Op(startNs: Long, ms: Double, failure: Option[String])

final class Ctx(val spark: SparkSession, val work: String, val tables: String,
    val seed: Long, val trace: Trace) {
  val log: String => Unit = s => println(s"[perfbench] $s")

  def failure(e: Throwable): String =
    e.getClass.getName + ": " + String.valueOf(e.getMessage).linesIterator.take(3).mkString(" ")
}

trait Workload {
  /** What one latency sample is: a query, a pass, a tick. */
  def opName: String
  /** Per-layer metrics are per operation of this kind. */
  def opUnit: String = opName
  /** Span kinds whose windows should be busy with tasks (for idle time). */
  def actionKinds: Set[String]
  /** Untimed preparation before the measured window. */
  def warm(ctx: Ctx): Unit
  /** Measured: runs until `deadlineNs`, finishing a started pass. */
  def run(ctx: Ctx, deadlineNs: Long): Seq[Op]
  /** Operations completed per second, from the start of the window to
    * the end of its last operation (a closed loop finishes its last pass;
    * the last ticks of an open loop finish after the generator stops). */
  def throughput(ok: Seq[Op], startNs: Long): Double = {
    val end = ok.map(o => o.startNs + (o.ms * 1e6).toLong).foldLeft(startNs)(math.max)
    ok.size / ((end - startNs) / 1e9)
  }
  /** How many operations the per-layer figures are divided by. */
  def layerOps(ctx: Ctx, ops: Seq[Op]): Int = ops.size
  /** Workload-specific layer figures for the traced report. */
  def report(ctx: Ctx): Seq[(String, Double)] = Nil
}

/** A [[KeyedStore]] whose upserts are timed as `store.upsert` spans; the
  * traced run also keeps each upsert's ms, in order. */
final class TimedStore(inner: KeyedStore, trace: Trace) extends KeyedStore {
  val upsertMs: ArrayBuffer[Double] = ArrayBuffer.empty
  def upsert(batch: DataFrame): Unit = {
    val t0 = System.nanoTime()
    trace.span("store.upsert") { inner.upsert(batch) }
    if (trace.enabled) synchronized { upsertMs += (System.nanoTime() - t0) / 1e6 }
  }
  def read(spark: SparkSession): DataFrame = inner.read(spark)
  def exists: Boolean = inner.exists
}

/** Closed loop, one client: query functions from [[Queries.registry]],
  * each result fully evaluated and checked against its committed digest.
  * `passFor(k)` gives the k-th pass's query order; pass -1 is the
  * untimed warm-up, so that every query is measured warm. */
final class QueryWorkload(passFor: Int => Seq[String], digests: Map[String, String])
    extends Workload {
  val opName = "query"
  val actionKinds = Set("action")

  def op(ctx: Ctx, name: String): Op = {
    val t0 = System.nanoTime()
    val failure =
      try {
        val got = Queries.run(ctx.spark, ctx.tables, name, ctx.trace)
        val want = digests(name)
        if (Queries.matches(want, got)) None
        else Some(s"digest mismatch: expected $want, got $got")
      } catch { case NonFatal(e) => Some(ctx.failure(e)) }
    val ms = (System.nanoTime() - t0) / 1e6
    Queries.releaseCaches()
    failure.foreach(f => ctx.log(s"FAILED $name: $f"))
    ctx.log(f"query $name%-24s $ms%9.1f ms")
    Op(t0, ms, failure)
  }

  def warm(ctx: Ctx): Unit =
    passFor(-1).map(op(ctx, _)).flatMap(_.failure).headOption
      .foreach(f => throw new IllegalStateException(s"warm-up: $f"))

  /** Whole passes, started until the deadline. */
  def run(ctx: Ctx, deadlineNs: Long): Seq[Op] = {
    val ops = ArrayBuffer.empty[Op]
    var pass = 0
    while (System.nanoTime() < deadlineNs) {
      passFor(pass).foreach(q => ops += op(ctx, q))
      pass += 1
    }
    ops.toSeq
  }
}

object QueryWorkload {
  /** Every pass runs the whole list, in an order set by the seed. */
  def shuffled(list: Seq[String], seed: Long)(pass: Int): Seq[String] =
    new scala.util.Random(seed * 31L + pass).shuffle(list)
}
