package graft.streaming

import graft.ml.{ModelStore, Regression}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's streaming topology (SURVEY.md §3.1): per symbol, three
  * concurrent queries over one parsed tick stream —
  *
  *  1. trainer: 10-min windowed features -> retrain -> model store
  *     (`NEW_train_offset_3_10min.py:153-211`, T9)
  *  2. predictor: per-tick scoring with the latest model, features
  *     JSON-encoded, upsert to the serving store
  *     (`:216-280`, S8/F1)
  *  3. label updater: retro back-fill of labels for closed windows
  *     (`:285-332`, T7)
  *
  * All three are `foreachBatch` consumers of the same logical plan, so
  * the whole chain stays in one JVM per executor (the reference crossed
  * a Python-worker boundary per batch for F1).
  */
object StreamJobs {

  /** T9 — continuous trainer: each micro-batch of windowed features
    * refits the pipeline and advances the latest-model pointer.
    * At-least-once on restart (same as the reference's checkpointed
    * foreachBatch); a replayed batch retrains and overwrites the same
    * batchId dir, converging to the same pointer. */
  def continuousTrainer(windowed: DataFrame, store: ModelStore,
      features: Seq[String], checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(600000L)): StreamingQuery =
    windowed.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // windowed frame carries avg_<f> columns; train under the RAW
        // feature names so the same model scores per-tick rows directly
        // (mirrors the reference's avg_-to-feature reassembly,
        // `NEW_train_offset_3_10min.py:216-230`)
        val train = batch
          .select(features.map(f => col(s"avg_$f").as(f)) :+ col("label"): _*)
          .na.drop()
        if (!train.isEmpty) {
          val model = Regression.linearPipeline(features).fit(train)
          store.save(model, batchId)
          ()
        }
      }
      .start()

  /** Hot path — per-tick predictor: score each micro-batch with the
    * current champion, attach the F1 JSON feature encoding, upsert to
    * the serving store keyed (symbol, timestamp). Skips batches until a
    * first model exists (the reference blocked instead). */
  def predictor(ticks: DataFrame, models: ModelStore, serving: KeyedStore,
      features: Seq[String], checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(1000L)): StreamingQuery =
    ticks.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        models.loadLatest().foreach { model =>
          if (!batch.isEmpty) {
            val scored = model.transform(batch)
              .withColumn("input_data",
                Regression.featuresToJson(col("features"), features))
              .withColumn("version", lit(batchId))
              .select(Seq(col("symbol"), col("timestamp"), col("event_time"),
                col("prediction"), col("label"), col("input_data"),
                col("version")): _*)
            serving.upsert(scored)
          }
        }
      }
      .start()

  /** T7 — label updater: when a window closes, rewrite served rows whose
    * event_time falls inside it with the window-average price. The
    * served read should be key-range pruned at scale (see
    * StreamOps.backfillLabels scaladoc). */
  def labelUpdater(windowed: DataFrame, serving: KeyedStore,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(600000L)): StreamingQuery =
    windowed.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // gate on exists, don't catch read failures (KeyedStore
        // contract): only a not-yet-created store has nothing to
        // back-fill; a failed read must fail the batch
        if (!batch.isEmpty && serving.exists) {
          val served = serving.read(batch.sparkSession)
          val updated = StreamOps.backfillLabels(served,
            batch.select(col("symbol"), col("window_start"),
              col("window_end"), col("label")))
            // bump the version so the rewrite wins the keyed-merge
            // against the rows it is correcting (same primary key)
            .withColumn("version", col("version") + 1)
          serving.upsert(updated)
        }
      }
      .start()

  /** M8 — dual-model scoring: score one frame with the streaming and
    * historical champions, join per key for side-by-side comparison
    * (`stream_and_historical_model.py:576-603`). */
  def scoreDual(batch: DataFrame,
      streamModel: org.apache.spark.ml.PipelineModel,
      historyModel: org.apache.spark.ml.PipelineModel,
      key: String): DataFrame = {
    val s = streamModel.transform(batch)
      .select(col(key), col("prediction").as("stream_prediction"))
    val h = historyModel.transform(batch)
      .select(col(key), col("prediction").as("history_prediction"))
    s.join(h, key)
  }
}
