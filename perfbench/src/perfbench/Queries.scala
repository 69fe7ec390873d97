package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query operation: build the registered query's DataFrame, then
  * evaluate it fully into a [[Digest]]. */
object Queries {
  type QueryFn = (SparkSession, String) => DataFrame

  lazy val registry: Map[String, QueryFn] = graft.SparkEntry.queries

  /** Builds the query's DataFrame and digests it, timing the build and
    * the action as spans of `trace`. Planning happens between the two. */
  def run(spark: SparkSession, tables: String, name: String, trace: Trace): String = {
    val df = trace.span("build") { registry(name)(spark, tables) }
    val agg = Digest.frame(df)
    agg.queryExecution.executedPlan
    Digest.read(trace.span("action") { agg.collect() })
  }

  /** Per-invocation caches the queries leave behind; released after each
    * query so one query's cached frames never serve the next. */
  def releaseCaches(): Unit = {
    graft.llm.Dedup.releaseCaches()
    graft.llm.Mixing.releaseCaches()
    graft.llm.Lines.releaseCaches()
    graft.llm.Bpe.releaseCaches()
    graft.llm.LanguageModel.releaseCaches()
    graft.llm.Unigram.releaseCaches()
    graft.llm.Similarity.clearIvfCache()
    graft.llm.Similarity.clearPqCache()
    graft.llm.Dedup.clearCorpusStateCache()
  }

  /** Queries whose correct result is empty. Any other query must return
    * rows: an empty expected digest would accept every bug that returns
    * nothing. */
  val ExpectedEmpty: Set[String] = Set.empty

  /** Row count of a digest-file entry: a digest or `rows:<n>`. */
  def entryRows(entry: String): Long =
    if (entry.startsWith("rows:")) entry.stripPrefix("rows:").toLong else Digest.rows(entry)

  /** The reason `entry` cannot be the expected result of `name`, if any. */
  def unfit(name: String, entry: String): Option[String] =
    if (entryRows(entry) == 0 && !ExpectedEmpty(name))
      Some(s"$name returned no rows and is not listed in Queries.ExpectedEmpty")
    else None

  /** Digests of every listed query, run `reps` times. Writes the digest
    * file: `name<TAB>digest`, or `name<TAB>rows:<n>` for a query whose
    * digest changed between repetitions (checked by row count only).
    * Writes nothing, and throws, if a query fails or returns no rows
    * without being listed as expected-empty. */
  def writeDigests(spark: SparkSession, tables: String, names: Seq[String],
      reps: Int, out: String): Unit = {
    val results = names.map { name =>
      try Right(digestLine(spark, tables, name, reps)) catch {
        case scala.util.control.NonFatal(e) =>
          Left(s"$name failed: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    val problems = results.flatMap {
      case Left(f) => Some(f)
      case Right(line) =>
        val Array(name, d) = line.split("\t", 2)
        unfit(name, d)
    }
    problems.foreach(p => println(s"[perfbench] digest REFUSED: $p"))
    if (problems.nonEmpty)
      throw new IllegalStateException(s"${problems.size} digests refused; $out not written")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      results.collect { case Right(l) => l }.mkString("", "\n", "\n"))
  }

  private def digestLine(spark: SparkSession, tables: String, name: String, reps: Int): String = {
    val runs = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val d = Digest.of(registry(name)(spark, tables))
      releaseCaches()
      (d, (System.nanoTime() - t0) / 1e6)
    }
    val ds = runs.map(_._1)
    val line = if (ds.distinct.size == 1) s"$name\t${ds.head}"
      else s"$name\trows:${Digest.rows(ds.head)}"
    println(s"[perfbench] digest $line\tms ${runs.map(r => f"${r._2}%.1f").mkString(",")}")
    line
  }

  /** Parses the digest file; refuses an empty expected result that is
    * not listed in [[ExpectedEmpty]]. */
  def readDigests(path: String): Map[String, String] =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).toArray.toSeq
      .map(_.toString).filter(_.nonEmpty).map { l =>
        val Array(k, v) = l.split("\t", 2)
        unfit(k, v).foreach(p => throw new IllegalArgumentException(s"$path: $p"))
        k -> v
      }.toMap

  /** Whether `got` matches the expected entry (full digest, or row count
    * for queries listed as rows-only). */
  def matches(expected: String, got: String): Boolean =
    if (expected.startsWith("rows:")) entryRows(expected) == Digest.rows(got)
    else expected == got
}
