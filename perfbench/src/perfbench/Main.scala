package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` builds it and passes:
  *
  *   --mode tables      (generates the query tables, before a run)
  *   --mode run --workload W --seed N --seconds S --trace 0|1
  *   --mode digests     (rewrites the committed digest file)
  *   --mode selftest    (checks the benchmark's own logic)
  *
  * plus `--bench-dir` (this package) and `--build-dir` (scratch space).
  * A run prints human-readable `[perfbench]` lines, then the result as
  * one JSON object on the last line. */
object Main {
  val Workloads: Seq[String] = Seq("query_mix", "medallion_etl", "tick_stream")
  /** Tail percentile of the latency metric. */
  val TailPct = 90.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opts("mode") match {
      case "tables" => tables(opts)
      case "run" => run(opts)
      case "digests" => digests(opts)
      case "selftest" => sys.exit(SelfTest.run())
    }
  }

  private def lines(path: String): Seq[String] =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).toArray.toSeq
      .map(_.toString.trim).filter(l => l.nonEmpty && !l.startsWith("#"))

  /** The frozen query list of a query workload. */
  private def queryList(bench: String, workload: String): Seq[String] =
    lines(s"$bench/queries/$workload.txt")

  /** A warmed session: one query has run end to end. */
  private def warmSession(spark: SparkSession, tables: String): Unit =
    Digest.of(Queries.registry("q_pricing_summary")(spark, tables))

  private def tables(opts: Map[String, String]): Unit = {
    val build = opts("build-dir")
    Files.deleteTree(s"$build/work")
    val spark = Session.build(s"$build/work")
    Gen.writeTables(spark, s"$build/data/tables")
    spark.stop()
  }

  private def digests(opts: Map[String, String]): Unit = {
    val build = opts("build-dir")
    Files.deleteTree(s"$build/work")
    val spark = Session.build(s"$build/work")
    val tables = s"$build/data/tables"
    Gen.writeTables(spark, tables)
    Queries.writeDigests(spark, tables, queryList(opts("bench-dir"), "query_mix"), 3,
      s"${opts("bench-dir")}/digests.tsv")
    spark.stop()
  }

  private def run(opts: Map[String, String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val name = opts("workload")
    require(Workloads.contains(name), s"unknown workload $name; expected one of ${Workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val bench = opts("bench-dir")
    val build = opts("build-dir")
    val work = s"$build/work"
    val tables = s"$build/data/tables"
    val log: String => Unit = s => println(s"[perfbench] $s")
    def phase(p: String): Unit =
      log(f"phase $p at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s after JVM start")
    Files.deleteTree(work)

    // set-up: from JVM start to a session that has run one query
    require(java.nio.file.Files.exists(java.nio.file.Paths.get(tables)),
      s"no query tables at $tables; generate them with --mode tables")
    val spark = Session.build(work)
    warmSession(spark, tables)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    log(s"settings ${Json.obj(Session.settings(spark))}")
    log(f"set-up $setupS%.3f s from JVM start")

    lazy val digests = Queries.readDigests(s"$bench/digests.tsv")
    val w: Workload = name match {
      case "query_mix" =>
        new QueryWorkload(QueryWorkload.shuffled(queryList(bench, name), seed), digests)
      case "medallion_etl" => new MedallionWorkload
      case "tick_stream" => new TickStreamWorkload
    }
    val trace = new Trace(spark)
    val ctx = new Ctx(spark, work, tables, seed, trace)
    phase("set-up done")
    w.warm(ctx)
    phase("warm-up done")

    // the window starts from a collected heap, so that its peak does not
    // depend on how much garbage set-up and warm-up left behind
    System.gc()
    val mem = new HeapPeak
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    if (traced) trace.start()
    mem.start()
    val ops = w.run(ctx, deadline)
    val memPeakMb = mem.stop()
    trace.stop()
    phase("measured run done")
    val ok = ops.filter(_.failure.isEmpty)
    val failed = ops.size - ok.size
    ops.flatMap(_.failure).groupBy(identity).foreach { case (f, n) => log(s"failure x${n.size}: $f") }

    def latency(xs: Seq[Op]): (Double, Double) =
      if (xs.isEmpty) (Double.NaN, Double.NaN)
      else (Stats.median(xs.map(_.ms)), Stats.percentile(xs.map(_.ms), TailPct))
    val (p50, tail) = latency(ok)
    val beyond = if (ok.isEmpty) 0 else Stats.beyond(ok.map(_.ms), TailPct)
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("latency_p50_ms", p50, "ms"),
      (f"latency_p${TailPct.toInt}%d_ms", tail, "ms"),
      ("throughput_per_s", w.throughput(ok, start), "1/s"),
      ("mem_peak_mb", memPeakMb, "MB"))
    log(s"workload $name seed $seed: ${ops.size} operations (one ${w.opName} each), " +
      s"$failed failed, error_rate ${if (ops.isEmpty) 1.0 else failed.toDouble / ops.size}, " +
      s"${ok.size} latency samples, $beyond beyond p${TailPct.toInt} " +
      s"(${Stats.MinTailSamples} needed for a statistical tail)")
    endToEnd.foreach { case (k, v, u) => log(f"$k%-20s $v%14.4f $u") }

    val metrics: Seq[(String, Double, String)] =
      if (!traced) endToEnd
      else {
        val layerOps = w.layerOps(ctx, ops)
        val layers = trace.layers(layerOps, w.actionKinds) ++
          Probes.tables(spark, tables) ++ Probes.kernels(Probes.kernelInputs()) ++
          Seq("trace.overhead_ratio" -> Probes.traceOverhead(spark, tables, log))
        log(s"per-layer metrics per ${w.opUnit} ($layerOps traced):")
        layers.foreach { case (k, v) => log(f"  $k%-34s $v%16.4f") }
        val extra = w.report(ctx)
        if (extra.nonEmpty) {
          log(s"$name layers:")
          extra.foreach { case (k, v) => log(f"  $k%-34s $v%16.4f") }
        }
        layers.map { case (k, v) => (k, v, unitOf(k)) }
      }
    Queries.releaseCaches()
    spark.stop()
    Files.deleteTree(work)
    phase("stopped")
    val correct = failed == 0 && ok.nonEmpty
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> ops.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
  }

  def unitOf(metric: String): String = metric match {
    case m if m.endsWith("_ms") || m == "build.ms" => "ms"
    case m if m.endsWith("_bytes") => "bytes"
    case m if m.endsWith("ns_per_row") => "ns"
    case m if m.endsWith("_share") || m.endsWith("_ratio") => "ratio"
    case _ => "count"
  }
}

/** Peak heap in use after a garbage collection, over the measured window
  * (the live working set, steadier than raw use, which depends on when
  * the collector happens to run). Falls back to the heap in use at the
  * end of the window if no collection ran. */
final class HeapPeak {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._

  @volatile private var peak = 0L
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, h: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, used) }
      }
  }

  def start(): Unit = emitters.foreach(_.addNotificationListener(listener, null, null))

  /** Stops listening; returns the peak in MB. */
  def stop(): Double = {
    emitters.foreach(_.removeNotificationListener(listener))
    val p = if (peak > 0) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    p / 1048576.0
  }
}
