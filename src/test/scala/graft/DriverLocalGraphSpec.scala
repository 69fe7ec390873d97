package graft

import java.util.concurrent.ConcurrentLinkedQueue

import graft.operators.{Geo, Graph}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** The graph operators' byte gate: below the broadcast threshold they
  * collect the edges and iterate on the driver, at -1 they run their
  * distributed rounds. Both branches must give the same schema and the
  * same rows (pageRank to 1e-12 relative: only its sums' order differs),
  * and each job must carry the label of the branch that ran it. */
class DriverLocalGraphSpec extends SparkSpec {
  import spark.implicits._

  private val key = "spark.sql.autoBroadcastJoinThreshold"

  /** The value of `body` and the descriptions of the jobs it started. */
  private def labelled[A](body: => A): (A, Seq[String]) = {
    val seen = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      Bridge.drainListenerBus(spark)
      (a, seen.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** `run`'s schema and rows under the 10 MiB threshold (driver-local)
    * and under -1 (distributed), in that order. Asserts each threshold
    * took its branch, by job label (a distributed run with no edges may
    * run no labelled round), and that the caller's job description is
    * restored. */
  private def bothPaths(label: String, distributed: String,
      hasEdges: Boolean = true)(run: => DataFrame): Seq[(StructType, Array[Row])] = {
    val out = Seq.newBuilder[(StructType, Array[Row])]
    forEachBroadcastThreshold {
      val local = spark.conf.get(key).toLong >= 0
      spark.sparkContext.setJobDescription("caller")
      val (res, seen) = labelled {
        val df = run
        assert(spark.sparkContext.getLocalProperty("spark.job.description") == "caller")
        (df.schema, df.collect())
      }
      spark.sparkContext.setJobDescription(null)
      assert(seen.contains(s"$label driver-local") == local, seen)
      val rounds = seen.exists(_.startsWith(s"$label $distributed"))
      assert(if (local) !rounds else rounds || !hasEdges, seen)
      out += res
    }
    out.result()
  }

  /** Random undirected multigraphs over `nodes` ids (duplicates,
    * self-loops and isolated parts included), plus the fixed cases. */
  private def graphs(seed: Int): Seq[Seq[(Long, Long)]] = {
    val rnd = new scala.util.Random(seed)
    val randoms = (1 to 3).map { _ =>
      val n = 5 + rnd.nextInt(25)
      Seq.fill(rnd.nextInt(3 * n))((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    }
    val path = (1L to 6L).map(i => (i, i + 1)) // a tail peeled one node a round
    val triangle = Seq((7L, 8L), (8L, 9L), (9L, 7L))
    val special = path ++ triangle ++ Seq((3L, 3L), (2L, 1L), (1L, 2L)) ++
      Seq((20L, 21L), (21L, 22L), (22L, 20L), (20L, 23L)) // a second part
    Seq(Seq.empty, special) ++ randoms
  }

  test("kCore: driver-local == distributed, schema and rows") {
    for ((g, i) <- graphs(7).zipWithIndex; (k, rounds) <- Seq((2, 2), (3, 6))) {
      val Seq(local, dist) = bothPaths("graph.kCore", "round",
          hasEdges = g.exists { case (a, b) => a != b }) {
        Graph.kCore(g.toDF("id_a", "id_b"), k, rounds)
      }
      withClue(s"graph $i k=$k rounds=$rounds: ") {
        assert(local._1 == dist._1)
        assert(local._2.toSet == dist._2.toSet && local._2.length == dist._2.length)
      }
    }
  }

  test("sssp: driver-local == distributed, bit-identical distances") {
    val rnd = new scala.util.Random(11)
    for ((g, i) <- graphs(13).zipWithIndex; rounds <- Seq(2)) {
      val edges = g.map { case (a, b) => (a, b, 0.1 + rnd.nextInt(50) / 7.0) }
        .toDF("id_a", "id_b", "weight")
      // seeds: duplicates and one id outside the graph
      val seeds = Seq(1L, 1L, 20L, 99L).toDF("id")
      val Seq(local, dist) = bothPaths("graph.sssp", "round") {
        Graph.sssp(edges, seeds, rounds)
      }
      withClue(s"graph $i rounds=$rounds: ") {
        assert(local._1 == dist._1)
        assert(local._2.toSet == dist._2.toSet && local._2.length == dist._2.length)
      }
    }
    // int edge ids against long seeds: both paths widen the ids alike
    val edges = Seq((1, 2, 0.5), (2, 3, 0.25), (3, 4, 1.0)).toDF("id_a", "id_b", "weight")
    val Seq(local, dist) = bothPaths("graph.sssp", "round") {
      Graph.sssp(edges, Seq(1L, 7L).toDF("id"), 2, scale = 9)
    }
    assert(local._1 == dist._1)
    assert(local._2.toSet == dist._2.toSet)
    assert(local._2.toSet == Set(Row(1L, 0.0), Row(2L, 0.5), Row(3L, 0.75), Row(7L, 0.0)))
  }

  test("triangleCount: driver-local == distributed") {
    for ((g, i) <- (graphs(17) :+ (for (a <- 1L to 6L; b <- 1L to 6L) yield (a, b)))
        .zipWithIndex) {
      val Seq(local, dist) = bothPaths("graph.triangleCount", "distributed") {
        Graph.triangleCount(g.toDF("id_a", "id_b"))
      }
      withClue(s"graph $i: ") {
        assert(local._1 == dist._1)
        assert(local._2.toSeq == dist._2.toSeq)
      }
    }
  }

  test("pageRank: driver-local == distributed within 1e-12 relative") {
    val rnd = new scala.util.Random(19)
    for ((g, i) <- graphs(23).zipWithIndex; iters <- Seq(1, 3)) {
      val edges = g.map { case (a, b) => (a, b, 1.0 + rnd.nextInt(9)) }
        .toDF("src", "dst", "weight")
      val Seq(local, dist) = bothPaths("graph.pageRank", "round") {
        Graph.pageRank(edges, iters, 0.85)
      }
      withClue(s"graph $i iterations=$iters: ") {
        assert(local._1 == dist._1)
        val l = local._2.map(r => r.get(0) -> r.getDouble(1)).toMap
        val d = dist._2.map(r => r.get(0) -> r.getDouble(1)).toMap
        assert(l.keySet == d.keySet && local._2.length == dist._2.length)
        for ((n, r) <- d) assert(math.abs(l(n) - r) <= 1e-12 * math.abs(r), s"node $n")
      }
    }
  }

  test("gridDbscan labels its gate and its distributed branch") {
    val pts = (1 to 60).map(i => (i.toLong, (i % 7) * 0.5, (i % 5) * 0.5))
      .toDF("id", "lat", "lon")
    forEachBroadcastThreshold {
      val local = spark.conf.get(key).toLong >= 0
      val (_, seen) = labelled(Geo.gridDbscan(pts, "lat", "lon", "id", 2.0, 3L).collect())
      assert(seen.contains("geo.gridDbscan gate") == local, seen)
      assert(seen.contains("geo.gridDbscan distributed") == !local, seen)
    }
  }
}
