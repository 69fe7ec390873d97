package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.graft.Bridge

/** Intermediate frames an operator object keeps alive for the query
  * that built them (signatures, shingle rows, word tables that feed
  * several plan branches). The blocks stay until [[release]] or a
  * driver GC — fine for job-per-invocation use, a leak for a
  * long-lived driver calling the operators repeatedly, which should
  * release after each consuming action
  * ([[TrackedFrames.releaseQuery]]).
  *
  * A released PERSIST is recomputed on next use, never wrong. A
  * released CHECKPOINT cannot recompute, so release only once the
  * frames the operator returned are discarded. */
final class TrackedFrames {
  private val releases =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]

  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    releases.add(() => p.unpersist(blocking = false))
    p
  }

  /** Track an already-checkpointed frame. Released through
    * [[Bridge.releaseFrame]]: `Dataset.unpersist` alone leaves a
    * checkpoint's RDD blocks pinned. */
  def trackCheckpoint[T](ds: Dataset[T]): Dataset[T] = {
    releases.add(() => Bridge.releaseFrame(ds))
    ds
  }

  /** Release every frame tracked since the last release. */
  def release(): Unit = {
    var r = releases.poll()
    while (r != null) {
      r()
      r = releases.poll()
    }
  }

  /** Frames tracked and not yet released. */
  def size: Int = releases.size
}

object TrackedFrames {

  /** Release the per-query frames of every owner. Drivers call this
    * after each query's consuming action. */
  def releaseQuery(): Unit =
    Seq(Dedup.tracked, Mixing.tracked, Lines.tracked, Bpe.tracked,
      LanguageModel.tracked, Unigram.tracked).foreach(_.release())

  /** [[releaseQuery]], then the keyed caches that deliberately outlive
    * one query: Similarity's IVF and PQ indexes and Dedup's corpus
    * states. Drivers call this at the end of a run. */
  def releaseAll(): Unit = {
    releaseQuery()
    Similarity.clearIvfCache()
    Similarity.clearPqCache()
    Dedup.clearCorpusStateCache()
  }
}
