package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.graft.Bridge

/** The driver side of the operators' byte gate: a frame whose rows pass
  * the planner's broadcast rule (`spark.sql.autoBroadcastJoinThreshold`,
  * [[Bridge.fitsBroadcast]]) is collected once and solved on the driver
  * over plain arrays, and the result goes back to Spark as a
  * `LocalRelation`; above the gate, or at a threshold of -1, the
  * operator runs its distributed loop. Chukonu (VLDB 2021): run the hot
  * loop in a tighter engine and hand the result back. Every job the
  * operators run carries a description naming the operator and the
  * branch it took (`graph.kCore driver-local`, `graph.kCore round 3`). */
private[operators] object DriverLocal {

  /** Runs `body` under the Spark job description `label`, restoring the
    * caller's description afterwards. */
  def labelled[A](spark: SparkSession, label: String)(body: => A): A = {
    val sc = spark.sparkContext
    val saved = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setLocalProperty("spark.job.description", saved)
  }

  /** The rows of `cp.select(cols)`, collected in one job labelled
    * `graph.<op> driver-local`, when the exact size of checkpointed `cp`
    * passes the byte gate and no collected row holds a null (the
    * distributed joins drop null keys); None otherwise, and `cp` stays
    * live for the distributed loop. */
  def edges(cp: DataFrame, op: String, cols: Column*): Option[Array[Row]] =
    if (!Bridge.fitsBroadcast(cp, Bridge.rowCount(cp))) None
    else {
      val rows = labelled(cp.sparkSession, s"graph.$op driver-local")(
        cp.select(cols: _*).collect())
      if (rows.exists(_.anyNull)) None else Some(rows)
    }

  /** The rows of lazy `df`, when at most as many as pass the byte gate,
    * from one `limit(cap + 1)` collect that both decides and fetches;
    * None above the gate, and no job at all when the threshold is
    * negative. */
  def collectIfFits(df: DataFrame): Option[Array[Row]] = {
    val cap = math.min(Bridge.broadcastRowCap(df), Int.MaxValue - 1L).toInt
    if (cap < 0) None
    else Some(df.limit(cap + 1).collect()).filter(_.length <= cap)
  }

  /** Dense 0-based indices for node ids in first-seen order; `ids(i)` is
    * the id of index `i`. Ids keep their collected JVM values. */
  final class Ids {
    val ids = scala.collection.mutable.ArrayBuffer[Any]()
    private val index = scala.collection.mutable.HashMap[Any, Int]()
    def apply(id: Any): Int = index.getOrElseUpdate(id, { ids += id; ids.size - 1 })
    def size: Int = ids.size
  }
}
