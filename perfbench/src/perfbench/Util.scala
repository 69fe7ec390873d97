package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

object Files {
  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => java.nio.file.Files.delete(f))
  }

  /** (bytes, files) of the data files under `dir`; Spark's hidden
    * checksum and marker files are not counted. */
  def dataFiles(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        val files = s.filter(f => java.nio.file.Files.isRegularFile(f) && {
          val n = f.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_")
        }).toArray.map(_.asInstanceOf[Path])
        (files.map(f => java.nio.file.Files.size(f)).sum, files.length.toLong)
      } finally s.close()
    }
  }
}

object Stats {
  /** Linear-interpolated percentile, `q` in [0, 100] (the "inclusive"
    * method of Python's statistics.quantiles). */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.size - 1) * q / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Samples strictly above the `q` percentile. A tail percentile is
    * supported by a run when at least [[MinTailSamples]] lie beyond it. */
  def beyond(xs: Seq[Double], q: Double): Int = {
    val p = percentile(xs, q)
    xs.count(_ > p)
  }

  val MinTailSamples = 10
}

/** Typed, order-insensitive digest of a result: its row count and the sum
  * of a 64-bit hash of every row over all columns. Hashing every column
  * makes the action evaluate every projected expression (a `count()`
  * lets the optimizer drop them). The hash is typed: an int and a long
  * of the same value, or a float and a double, hash differently. */
object Digest {
  def of(df: DataFrame): String = read(frame(df).collect())

  /** The one-row aggregate whose collection is the digest. */
  def frame(df: DataFrame): DataFrame = {
    // rename positionally: results may carry duplicate or dotted names
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map(fl => hashable(col(fl.name), fl.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toSeq: _*)
    named.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
  }

  def read(rows: Array[org.apache.spark.sql.Row]): String = {
    val r = rows.head
    val total = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    s"${r.getLong(0)}:$total"
  }

  def rows(digest: String): Long = digest.takeWhile(_ != ':').toLong

  // the hash functions reject maps; hash their entries sorted by key
  private def hashable(c: Column, t: DataType): Column = t match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }
}

/** Minimal JSON writer for the result line and the trace report. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    b += '"'
    b.toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ",", "]")
}
