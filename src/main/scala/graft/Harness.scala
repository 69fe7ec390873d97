package graft
import graft.llm.TrackedFrames
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** The one run harness behind every driver (Bench, Verify and the
  * `graft.tools` mains): the session, the query selection, the
  * warm-up and the per-query run loop. A run builds the query's
  * DataFrame, applies the caller's action and then releases the
  * query's tracked frames, so no run reads another run's cached
  * frames; a failure prints its cause and the loop goes on. */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** One run's outcome: the action's value, or the failure as
    * `class: message`; and the wall seconds of build plus action. */
  final case class Run[A](result: Either[String, A], seconds: Double) {
    def ok: Boolean = result.isRight
  }

  /** `SPARK_GRAFT_CPUS`, else every core of the host. */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)

  /** `local[n]` with `n` shuffle partitions, UTC, no UI, WARN logs. */
  def session(n: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A comma-separated query list, entries trimmed and empty ones
    * dropped. A name not in `SparkEntry.queries` is an error that
    * names every unknown entry. */
  def select(spec: String): Seq[String] = {
    val names = spec.split(",").map(_.trim).filter(_.nonEmpty).distinct.toSeq
    val known = SparkEntry.queries
    val unknown = names.filterNot(known.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    names
  }

  /** Untimed warm-up: JVM/codegen startup and the first parquet-footer
    * reads otherwise land entirely on whichever query runs first. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    val q = "q_pricing_summary"
    run(spark, sfDir, "warm-up", q, SparkEntry.queries(q))(_.count())
  }

  /** One run of `query`: build, apply `action`, release the query's
    * tracked frames. A `NonFatal` failure prints
    * `[<tool>] <name> failed: <class>: <message>` to stderr. */
  def run[A](spark: SparkSession, sfDir: String, tool: String,
      name: String, query: Query)(action: DataFrame => A): Run[A] = {
    val t0 = System.nanoTime()
    val result =
      try Right(action(query(spark, sfDir)))
      catch {
        case NonFatal(e) =>
          val cause = s"${e.getClass.getName}: ${e.getMessage}"
          System.err.println(s"[$tool] $name failed: $cause")
          Left(cause)
      }
    val seconds = (System.nanoTime() - t0) / 1e9
    TrackedFrames.releaseQuery()
    Run(result, seconds)
  }

  /** One [[run]] of each named query, in order, then every tracked
    * frame and keyed cache released. */
  def runAll[A](spark: SparkSession, sfDir: String, tool: String,
      names: Seq[String],
      registry: collection.Map[String, Query] = SparkEntry.queries)(
      action: (String, DataFrame) => A): Seq[(String, Run[A])] = {
    val runs = names.map(n =>
      n -> run(spark, sfDir, tool, n, registry(n))(action(n, _)))
    TrackedFrames.releaseAll()
    runs
  }
}
