package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Column <-> Expression conversion for graft's native expressions.
  *
  * Lives under org.apache.spark.sql because the Spark 4 conversion API
  * (`classic.ExpressionUtils`) is `private[sql]` — the same bridge
  * pattern used by mainstream Spark extensions (Delta, Sedona, Iceberg)
  * to expose custom Catalyst expressions through the public Column API.
  * This is the ONLY file outside the graft.* namespace.
  */
object Bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  private def classicDs(df: Dataset[_]): classic.Dataset[_] =
    df.asInstanceOf[classic.Dataset[_]]

  private def logicalRdd(df: Dataset[_]): LogicalRDD =
    classicDs(df).queryExecution.analyzed match {
      case lr: LogicalRDD => lr
      case other => throw new IllegalArgumentException(
        s"not a checkpointed frame: ${other.nodeName}")
    }

  /** Local checkpoint whose plan carries EXACT statistics, so later
    * joins are planned by `spark.sql.autoBroadcastJoinThreshold` and
    * AQE on true sizes. `Dataset.localCheckpoint` keeps the frame's
    * pre-checkpoint ESTIMATE, and below a join that is the product of
    * the input sizes (a 536.5 KiB edge frame read 5.7 GiB), so joins
    * that should broadcast sort-merge. The one count that materializes
    * the checkpoint runs under the frame's SQL execution id, as the
    * eager `Dataset.localCheckpoint` runs its job, and becomes the row
    * count ([[withRowCount]], read back by [[rowCount]]); partitioning,
    * ordering and constraints are kept. Release with [[releaseFrame]].
    * `eager = false` skips the count, for a caller whose next action
    * materializes the frame and who attaches that action's count. */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rdd = qe.executedPlan.execute().map(_.copy()).localCheckpoint()
      val cp = classic.Dataset.ofRows(ds.sparkSession,
        LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
      if (eager) withRowCount(cp, rdd.count()) else cp
    }
  }

  /** `cp` over the SAME RDD (its blocks are reused) with exact
    * `Statistics(sizeInBytes, rowCount)` for `rows` rows, each row
    * sized as Catalyst sizes it (`EstimationUtils.getSizePerRow`). */
  def withRowCount(cp: DataFrame, rows: Long): DataFrame = {
    val lr = logicalRdd(cp)
    val session = classicDs(cp).sparkSession
    val exact = Statistics(EstimationUtils.getOutputSize(lr.output, rows),
      Some(BigInt(rows)))
    classic.Dataset.ofRows(session,
      lr.copy()(session, Some(exact), Some(lr.constraints)))
  }

  /** Row count of a [[checkpoint]]ed frame, read from its statistics —
    * no job. */
  def rowCount(cp: Dataset[_]): Long = logicalRdd(cp).stats.rowCount
    .getOrElse(throw new IllegalArgumentException(
      "checkpoint carries no row count")).toLong

  /** Whether `rows` rows of `df`'s schema pass the planner's own
    * broadcast test (`spark.sql.autoBroadcastJoinThreshold`), for a
    * lazy frame whose row count is bounded by a known one. */
  def fitsBroadcast(df: DataFrame, rows: Long): Boolean =
    rows <= broadcastRowCap(df)

  /** The most rows of `df`'s schema whose size, as Catalyst sizes rows
    * (`EstimationUtils.getSizePerRow`), is within the broadcast
    * threshold; -1 when the threshold is negative (broadcasts off). */
  def broadcastRowCap(df: DataFrame): Long = {
    val limit = classicDs(df).sparkSession.sessionState.conf
      .autoBroadcastJoinThreshold
    if (limit < 0) -1L
    else (BigInt(limit) / EstimationUtils.getSizePerRow(
      classicDs(df).queryExecution.analyzed.output)).toLong
  }

  /** `schema` with every field nullable, as a file source reports its
    * data schema. */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** The session's SQL conf, for Spark's own readers and converters. */
  def sqlConf(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.internal.SQLConf =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  /** Block until every event posted so far has reached every listener
    * (job, task and SQL-execution metrics of finished work). */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Fully release a frame's storage. `Dataset.unpersist` only clears
    * the CacheManager entry of a `persist()`ed plan; for a
    * `localCheckpoint()`ed frame the blocks were pinned by RDD-level
    * persist, which the CacheManager never sees — measured:
    * `getPersistentRDDs` keeps the entry after `Dataset.unpersist`,
    * and the blocks then live until driver GC + ContextCleaner get
    * around to them. Every checkpoint-release in graft (iterative
    * trainers, corpus dedup state, pipeline seams) goes through here
    * so the RDD blocks die deterministically with the frame. */
  def releaseFrame(df: Dataset[_], blocking: Boolean = false): Unit = {
    df.unpersist(blocking)
    classicDs(df).queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking)
      case _ => ()
    }
  }

  /** Register graft's SQL functions into an ALREADY-RUNNING session
    * (SparkSessionExtensions only applies at session construction). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession,
      name: String, info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
}
