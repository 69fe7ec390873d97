package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Stage-width guards (guide §2.5). Both are plan-time decisions: they
  * read partition counts, the session config and the optimizer's size
  * estimate, and run no job. */
object Skew {

  /** Input-skew guard: the sf parquet inputs are single-row-group
    * files, so a scan yields ONE effective task and every expensive
    * per-row kernel or near-unique-key partial aggregate chained onto
    * it runs serialized behind idle cores. When `df` has fewer
    * partitions than the session's parallelism, fan the rows out to
    * `defaultParallelism` BEFORE the heavy work; a no-op on an
    * already-parallel input, and not worth it in front of cheap work.
    *
    * With a `key` the rows are hash-partitioned on it, and the
    * exchange merges with a downstream aggregate or join on that key.
    * Without one they go round-robin, which first SORTS its input by
    * the full binary row (spark.sql.execution.sortBeforeRepartition)
    * — for payload-carrying rows that sort costs more than the
    * fan-out saves, so prefer a key.
    *
    * `minBytes` > 0 also skips the fan-out when the optimizer's size
    * estimate of `df` is below it: in front of light map-side work
    * (signature banding) the unconditional fan-out measured as a NET
    * LOSS on small inputs (q_dedup_corpus 1.45 -> 0.87 s without it). */
  def fanOut(df: DataFrame, key: Seq[Column] = Nil,
      minBytes: Long = 0L): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else if (minBytes > 0L &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes < minBytes) df
    else if (key.nonEmpty) df.repartition(target, key: _*)
    else df.repartition(target)
  }

  /** Pinned keyed repartition in front of a CPU-dense stage whose
    * input is SMALL IN BYTES but expensive per row (pair-expansion
    * Generates, array intersections): AQE's partition coalescing
    * targets bytes, so a few-MB exchange feeding such a stage
    * collapses to one or two tasks and the expansion serializes
    * behind idle cores (measured: q_similarity_join's verify stage ran
    * as ONE 1.4 s task at sf0.1). Repartitioning on the downstream
    * grouping/join key merges with the exchange that operator needs
    * anyway, and an explicit partition count is exempt from AQE
    * coalescing. The count is max(defaultParallelism, configured
    * shuffle partitions), so on a real cluster the exchange keeps the
    * partition count the planner would have used — only the coalesce
    * is suppressed. */
  def pinWide(df: DataFrame, key: Column*): DataFrame = {
    val s = df.sparkSession
    val n = math.max(s.sparkContext.defaultParallelism,
      s.conf.get("spark.sql.shuffle.partitions").toInt)
    df.repartition(n, key: _*)
  }
}
