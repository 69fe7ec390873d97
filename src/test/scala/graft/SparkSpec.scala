package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate — one JVM-wide
  * session keeps `sbt test` fast; never stopped per-suite). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // the test tables' events.ts is parquet TIMESTAMP(NANOS) (Tables.load)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  /** Runs `body` once per join-strategy regime a plan-independent check
    * must hold under: Spark's default broadcast threshold (10 MiB), and
    * -1, which turns every size-chosen broadcast into a shuffle join.
    * A failure names the threshold; the setting is restored afterwards,
    * as the session is shared. */
  def forEachBroadcastThreshold(body: => Unit): Unit = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    try Seq(10L * 1024 * 1024, -1L).foreach { t =>
      spark.conf.set(key, t)
      withClue(s"$key=$t: ")(body)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
