package perfbench

import java.util.concurrent.atomic.AtomicInteger

import graft.plans.{HtmlTextUtil, MainTextUtil, MinHashSig, UnicodeNormUtil, UrlCanonUtil}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** What the traced run measures after the workload, independent of its
  * mix: direct calls into two layers every query crosses (the table
  * loader and the `graft.plans` string kernels), and the tracing
  * overhead itself. */
object Probes {

  /** Median ms and mean jobs per `Tables.load`, over every table, `reps`
    * times each. The load is lazy; the time is what building the
    * DataFrame costs (path listing, footer reads). */
  def tables(spark: SparkSession, dir: String, reps: Int = 5): Seq[(String, Double)] = {
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    val ms = try {
      for (_ <- 1 to reps; t <- graft.Tables.all) yield {
        val t0 = System.nanoTime()
        graft.Tables.load(spark, dir, t)
        (System.nanoTime() - t0) / 1e6
      }
    } finally {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }
    Seq("tables.load_ms" -> Stats.median(ms), "tables.load_jobs" -> jobs.get.toDouble / ms.size)
  }

  /** Tracing overhead: wall time of a fixed set of queries with tracing
    * on over the same with tracing off, alternating off/on twice after an
    * untimed round. The untraced rounds use a trace never started; each
    * traced round a fresh one, so the workload's records stay apart. */
  def traceOverhead(spark: SparkSession, tables: String, log: String => Unit): Double = {
    val names = Seq("q_pricing_summary", "q_scan_filter", "q_month_agg", "q_word_count")
    def round(t: Trace): Double = names.map { n =>
      val t0 = System.nanoTime()
      Queries.run(spark, tables, n, t)
      Queries.releaseCaches()
      (System.nanoTime() - t0) / 1e6
    }.sum
    val off = new Trace(spark)
    round(off)
    val (u, t) = (1 to 2).map { _ =>
      val a = round(off)
      val on = new Trace(spark)
      on.start()
      val b = try round(on) finally on.stop()
      (a, b)
    }.unzip
    log(f"trace overhead: ${names.size} queries take ${u.sum / 2}%.1f ms untraced, " +
      f"${t.sum / 2}%.1f ms traced (mean of two alternating rounds)")
    t.sum / u.sum
  }

  /** Kernel inputs built from the generated documents: each text as an
    * article page (for the HTML kernels), as text with combining accents
    * (for NFC), as a messy URL (canonicalisation) and as word 3-gram
    * shingles (MinHash). */
  final case class KernelInputs(html: Seq[String], text: Seq[String],
      urls: Seq[String], shingles: Seq[GenericArrayData])

  def kernelInputs(): KernelInputs = {
    val docs = Gen.tables().find(_.name == "documents").get.rows.map(_.getString(1))
    KernelInputs(
      docs.map { t =>
        val w = t.split(" ")
        s"<html><head><title>${w.take(4).mkString(" ")}</title></head><body>" +
          s"""<div class="nav"><a href="/">home</a> | <a href="/news">news</a></div>""" +
          s"<article><h1>${w.take(6).mkString(" ")}</h1><p>${w.mkString(" &amp; ")}</p>" +
          s"<p>${w.reverse.mkString(" ")}</p></article><footer>(c) site</footer></body></html>"
      },
      docs.map(_.replace("e", "é").replace("a", "à")),
      docs.map { t =>
        val w = t.split(" ")
        s"HTTPS://WWW.Example.COM:443/${w(0)}/./${w(1)}/../${w(2)}?utm_source=x&${w(3)}=1&gclid=z#top"
      },
      docs.map { t =>
        val w = t.split(" ")
        new GenericArrayData(w.sliding(3).map(g => UTF8String.fromString(g.mkString(" "))).toArray[Any])
      })
  }

  /** ns per row of each kernel: a warm-up pass, then repeated passes over
    * all rows until `minMs` has elapsed. */
  def kernels(in: KernelInputs, minMs: Double = 200.0): Seq[(String, Double)] = {
    var sink = 0L
    def time(name: String, n: Int)(f: Int => Int): (String, Double) = {
      (0 until n).foreach(i => sink += f(i))
      var rows = 0L
      val t0 = System.nanoTime()
      while ((System.nanoTime() - t0) / 1e6 < minMs) {
        (0 until n).foreach(i => sink += f(i))
        rows += n
      }
      s"plans.$name.ns_per_row" -> (System.nanoTime() - t0).toDouble / rows
    }
    val minhash = in.shingles.map(s =>
      MinHashSig(Literal.create(s, ArrayType(StringType, containsNull = false)), 64))
    val out = Seq(
      time("html_text", in.html.size)(i => HtmlTextUtil.extract(in.html(i)).length),
      time("main_text", in.html.size)(i => MainTextUtil.mainText(in.html(i)).length),
      time("unicode_norm", in.text.size)(i => UnicodeNormUtil.nfc(in.text(i)).length),
      time("url_canon", in.urls.size)(i => UrlCanonUtil.canon(in.urls(i)).length),
      time("minhash_sig", minhash.size)(i => minhash(i).eval(null).hashCode))
    if (sink == 42) println() // keeps the results live
    out
  }
}
