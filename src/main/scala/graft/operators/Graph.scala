package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Distributed graph primitives needed by the dedup family: near-dup
  * candidate pairs form a graph whose connected components are the
  * duplicate groups. [[graft.llm.Dedup.minhashClusters]] uses a
  * single-pass min-neighbor contraction (documented clique
  * assumption); this operator is the exact transitive closure for
  * graphs where chains matter (A~B, B~C, no A~C edge — progressive
  * paraphrase, shingled near-dup drift).
  */
object Graph {

  /** Connected components by iterative min-label propagation: every
    * node's label converges to the smallest node id reachable from it.
    * Input: `nodes` with an `id` column (every vertex, including
    * isolated ones), `edges` with `id_a`/`id_b` (undirected; direction
    * and duplicates don't matter). Output: (id, component_id).
    *
    * Scale shape: per iteration ONE shuffle join of the (symmetrized)
    * edge list against the current (id, label) frame, one
    * map-side-combined min aggregate, and one id-keyed label update —
    * all carrying 16-byte rows, never payloads. The loop runs until no
    * label changes (one driver-side count per iteration, the same
    * bounded-action pattern as BPE training), which takes at most the
    * graph diameter — near-dup graphs are shallow (dup groups are
    * near-cliques), so 3-5 iterations in practice. Each round's
    * superseded label checkpoint is unpersisted once the next round is
    * materialized, so block usage stays one-round deep.
    *
    * `maxIter` is a REGIME SWITCH, not a failure bound: a graph whose
    * diameter exceeds it (pathological chains) is handed off to the
    * alternating large-star/small-star contraction ([[starContract]],
    * Kiveris et al., MR'14 — O(log^2 n) rounds independent of
    * diameter) applied to the label-contracted graph, so the work the
    * propagation rounds already did is kept. Either path returns
    * exact, fully-converged components — never partial labels.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 50): DataFrame = {
    // materialized ONCE: the edge frame is re-joined every propagation
    // round, and callers hand in arbitrarily expensive pipelines (the
    // exact-jaccard pair join costs more than all the rounds together —
    // measured 8.7 s -> un-recomputed here); checkpointing also keeps
    // each round's plan flat instead of growing by the edge subtree
    // r15: symmetrize in ONE pass — the union shape evaluated the
    // (arbitrarily expensive) caller-supplied edge pipeline TWICE
    // inside the checkpoint job, once per union branch; exploding a
    // 2-struct array emits the same rows from a single evaluation
    val sym = Bridge.checkpoint(edges.select(explode(array(
        struct(col("id_a").as("a"), col("id_b").as("b")),
        struct(col("id_b").as("a"), col("id_a").as("b")))).as("__e"))
      .select(col("__e.a").as("id_a"), col("__e.b").as("id_b"))
      .filter(col("id_a") =!= col("id_b")))
    // the loop carries labels for edge ENDPOINTS only — an isolated
    // node's label can never change, and in a dedup graph endpoints
    // (docs with at least one near-dup) are a small fraction of the
    // corpus; singletons re-attach map-only after convergence
    var labels = Bridge.checkpoint(sym.select(col("id_a").as("id"))
      .distinct()
      .join(nodes.select(col("id")), Seq("id"), "left_semi")
      .select(col("id"), col("id").as("comp")))
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("id").as("id_b"), col("comp").as("nc")),
          Seq("id_b"))
        .groupBy(col("id_a").as("id"))
        .agg(min(col("nc")).as("nbr_comp"))
      val next = Bridge.checkpoint(labels.join(nbrMin, Seq("id"))
        .select(col("id"), col("comp"),
          least(col("comp"), col("nbr_comp")).as("new_comp")))
      changed = next.filter(col("new_comp") =!= col("comp")).count()
      // `next` is materialized (checkpoint) and `changed` is
      // consumed — the previous round's blocks are dead; release them
      // so the loop holds one round of labels, not `iter` rounds
      Bridge.releaseFrame(labels)
      labels = next.select(col("id"), col("new_comp").as("comp"))
      iter += 1
    }
    if (changed > 0) {
      // Diameter exceeded the propagation budget (a chain-shaped
      // graph). Returning the partial labels would be WRONG (one dup
      // group reported as several components leaks through a
      // leakage-safe split) — instead contract the graph through the
      // labels converged so far (nodes sharing a label are proven
      // connected) and finish on the contracted graph with the
      // diameter-independent star contraction.
      val contracted = sym
        .join(labels.select(col("id").as("id_a"), col("comp").as("ca")),
          Seq("id_a"))
        .join(labels.select(col("id").as("id_b"), col("comp").as("cb")),
          Seq("id_b"))
        .select(col("ca").as("id_a"), col("cb").as("id_b"))
      // roots: label-id -> smallest label in its contracted component;
      // the global component min m always has comp(m)=m (min-label
      // never lowers the minimum's own label), so m IS a contracted
      // node id and the star root equals the true component min.
      val roots = starContract(contracted)
        .select(col("id").as("comp"), col("comp_root"))
      val composed = Bridge.checkpoint(labels.join(roots, Seq("comp"), "left")
        .select(col("id"),
          coalesce(col("comp_root"), col("comp")).as("comp")))
      Bridge.releaseFrame(labels)
      Bridge.releaseFrame(roots)
      labels = composed
    }
    nodes.select(col("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("comp"), col("id")).as("component_id"))
  }

  /** Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14): each
    * round rewires every node toward the minimum of its neighborhood,
    * halving the height of the forest — O(log^2 n) rounds worst case,
    * INDEPENDENT of graph diameter (min-label propagation needs
    * diameter rounds, fatal on chain graphs). Input: undirected edges
    * (id_a, id_b); output (id, comp_root) for every edge ENDPOINT,
    * comp_root = smallest id in the component.
    *
    * Scale shape per round: one symmetrized self-aggregation (min per
    * neighborhood, map-side combined) and one key-repartitioned
    * rewrite — edge-list-sized shuffles of two-long rows, same as one
    * propagation round; there are just O(log^2 n) of them instead of
    * O(diameter). Convergence = the edge set reaches a fixed point
    * (every node points directly at its component min), checked with
    * one except per round (the row counts are the checkpoints' own
    * statistics). Superseded rounds are
    * unpersisted as soon as the next is materialized. */
  def starContract(edges: DataFrame, maxRounds: Int = 60): DataFrame = {
    // canonical directed form u -> v with u > v (self-loops dropped):
    // both star operations emit edges pointing from larger to smaller,
    // so the invariant is stable across rounds
    var e = Bridge.checkpoint(edges
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    var rounds = 0
    var converged = Bridge.rowCount(e) == 0L
    while (!converged && rounds < maxRounds) {
      // LARGE-STAR: for each node n, connect every strictly-larger
      // neighbor to min(N(n) ∪ {n}). Each undirected edge {a,b}, a<b,
      // is emitted exactly once — from a's neighborhood as (b, m(a)).
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v"))) // n = "u"
      val mins = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = Bridge.checkpoint(sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct())
      // SMALL-STAR on the directed (large -> small) edges: every node
      // n rewires its smaller neighbors AND itself to min(N(n)).
      val minsS = large.groupBy("u").agg(min(col("v")).as("m"))
      val small = Bridge.checkpoint(large.join(minsS, Seq("u"))
        .select(col("v").as("n"), col("m"))
        .union(minsS.select(col("u").as("n"), col("m")))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct())
      Bridge.releaseFrame(large)
      // fixed point: the round changed nothing — every edge already
      // points at its component minimum
      converged = Bridge.rowCount(small) == Bridge.rowCount(e) &&
        small.except(e).isEmpty
      Bridge.releaseFrame(e)
      e = small
      rounds += 1
    }
    if (!converged) throw new IllegalStateException(
      s"starContract did not reach a fixed point in $maxRounds rounds " +
        "— exceeds the proven O(log^2 n) bound; edge input is likely " +
        "unstable (non-deterministic ids)")
    // converged stars: every non-root endpoint appears exactly once as
    // u pointing at its root; roots label themselves. Materialized so
    // the converged edge frame's blocks can be released here rather
    // than leaking past the return.
    val labels = Bridge.checkpoint(
      e.select(col("u").as("id"), col("v").as("comp_root"))
        .union(e.select(col("v").as("id"), col("v").as("comp_root"))
          .distinct()))
    Bridge.releaseFrame(e)
    labels
  }

  /** HITS hubs & authorities (Kleinberg 1999) by fixed-iteration
    * mutual reinforcement — the complementary authority signal to
    * [[pageRank]] on bipartite curation graphs: a GOOD SOURCE (hub)
    * links to many good items, a GOOD ITEM (authority) is linked by
    * many good sources; PageRank's single score conflates the two
    * roles. Weighted: a(j) = Σ_{i→j} w·h(i), then h(i) = Σ_{i→j}
    * w·a(j) with the FRESH authorities, each side L2-normalized per
    * round (norms ride as broadcast 1-row aggregates, the
    * [[pageRank]] dangling pattern).
    *
    * Per round: two shuffle joins of the edge list against the
    * current score frames and two eager checkpoints, superseded
    * rounds released. Normalization happens ONCE at the end: per-round
    * L2 norms are scalar factors that cannot change the fixed-point
    * direction, and materializing them mid-round forces each raw
    * contribution frame to be evaluated twice (once for the join,
    * once for the norm) — dropping them halved the measured wall on
    * the 591k-edge graded graph. Raw magnitudes grow ~(Σw)² per
    * round — fine in double for the fixed small iteration counts this
    * runs at (overflow needs ~150 rounds at 1e4 growth/round).
    * Output: (node, hub, authority), L2-normalized per side. */
  def hits(edges: DataFrame, iterations: Int = 4): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val e = Bridge.checkpoint(edges.select(col("src"), col("dst"),
      col("weight").cast("double").as("w")))
    val nodes = Bridge.checkpoint(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct())
    // r15: no materialized seed frame — round 1's hub score is the
    // CONSTANT 1.0 for every source, so the first a-side edge join
    // degenerates to a plain aggregate over e (sum(w * 1.0) is
    // bit-identical to sum(w * h) with h joined in as 1.0), and the
    // seed checkpoint + round-1 broadcast build disappear.
    var hubs: DataFrame = null
    var auths: DataFrame = null
    for (it <- 1 to iterations) {
      // the authorities frame stays LAZY (r12): its only same-round
      // reader is nextH, whose broadcast exchange evaluates the
      // a-side edge join exactly once INSIDE nextH's checkpoint job —
      // materializing it separately bought a full node-frame write +
      // an extra job submission per round for a frame read once.
      // Still two edge joins per round, one checkpoint instead of
      // two. Only the FINAL round's authorities checkpoint (the
      // output join below reads them after the loop's hub frames are
      // released).
      //
      // r14 optimization: NO per-round zero-fill against the node
      // frame. After round 1 the hub frame's keys are exactly the
      // distinct srcs of e (groupBy src) and the authority frame's
      // exactly the distinct dsts, so the inner edge joins below are
      // already complete — a node absent from a score frame scored
      // 0.0 and contributed +0.0 through every edge, term for term
      // identical to dropping the row (IEEE x + 0.0 == x for the
      // finite sums here). The old per-round nodes.join(...,"left")
      // + coalesce was pure OUTPUT plumbing that cost a node-frame
      // join and a broadcast barrier per half-round; the zero-fill now
      // happens once, in the assembly join below. Isolated sf0.1 A/B
      // on the 591k-edge graded graph: 4.22 -> 4.05 s min (the sf0.1
      // rounds are checkpoint-latency-bound, so the measured win is
      // small; the removed work is 2*iterations node-frame joins,
      // which is what scales).
      val nextA0 =
        if (hubs == null)
          e.groupBy(col("dst").as("node"))
            .agg(sum(col("w") * lit(1.0)).as("a"))
        else
          e.join(hubs.select(col("node").as("src"), col("h")), Seq("src"))
            .groupBy(col("dst").as("node"))
            .agg(sum(col("w") * col("h")).as("a"))
      val nextA = if (it == iterations) Bridge.checkpoint(nextA0)
        else nextA0
      // a lazy nextA's estimate is the edge-join product, so the
      // planner would sort-merge it; its rows are bounded by the node
      // count, which decides the broadcast in bytes instead
      val aSide = nextA.select(col("node").as("dst"), col("a"))
      val nextH = Bridge.checkpoint(e
        .join(if (Bridge.fitsBroadcast(aSide, Bridge.rowCount(nodes)))
          broadcast(aSide) else aSide, Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(sum(col("w") * col("a")).as("h")))
      // releaseFrame is a no-op on lazy views (every intermediate
      // nextA) — safe unconditionally; null only before round 1
      if (hubs != null) Bridge.releaseFrame(hubs)
      if (auths != null) Bridge.releaseFrame(auths)
      auths = nextA
      hubs = nextH
    }
    val aNorm = broadcast(auths.agg(
      sqrt(sum(col("a") * col("a"))).as("__na")))
    val hNorm = broadcast(hubs.agg(
      sqrt(sum(col("h") * col("h"))).as("__nh")))
    // hub scores exist only for src nodes, authority scores only for
    // dst nodes — zero-fill BOTH against the node frame here, once,
    // instead of every round (output row set and values unchanged:
    // absent = exact 0.0, same as the old per-round coalesce)
    val out = Bridge.checkpoint(nodes
      .join(hubs, Seq("node"), "left")
      .join(auths, Seq("node"), "left")
      .crossJoin(aNorm).crossJoin(hNorm)
      .select(col("node"),
        when(col("__nh") > 0, coalesce(col("h"), lit(0.0)) / col("__nh"))
          .otherwise(lit(0.0)).as("hub"),
        when(col("__na") > 0, coalesce(col("a"), lit(0.0)) / col("__na"))
          .otherwise(lit(0.0)).as("authority")))
    Bridge.releaseFrame(e)
    Bridge.releaseFrame(nodes)
    Bridge.releaseFrame(hubs)
    Bridge.releaseFrame(auths)
    out
  }

  /** Weighted PageRank by fixed-iteration power method — the authority
    * signal corpus curation runs over link/citation/co-occurrence
    * graphs (Common-Crawl-style domain ranking feeding quality
    * weights). Input: `edges` with (src, dst, weight); nodes are the
    * edge endpoints. Fixed `iterations` (not a convergence test) keeps
    * the result deterministic and the oracle expressible.
    *
    * Per iteration (r12 restructure, ~one-third off the measured
    * round cost): ONE shuffle join of the weight-normalized edge list
    * against the current (node, rank) frame with a map-side-combined
    * sum per destination — the round's only heavy job, and the only
    * thing CHECKPOINTED (its output is node-set-sized). Dangling mass
    * (rank parked on nodes with no out-edges) is the conservation
    * identity 1 − Σ contrib — Σ ranks is 1 by construction, so the
    * r11 per-round anti-join against the source set (a second
    * node-frame shuffle per round, plus a srcs build at setup) bought
    * nothing the 1-row aggregate over the ALREADY-MATERIALIZED
    * contrib frame doesn't; the identity is also self-correcting
    * (the update renormalizes total rank to 1 every round). The
    * (node, rank) frame itself stays LAZY — a cheap node-frame join
    * over the contrib checkpoint, re-derived at most twice — and
    * only the final round's is materialized. Superseded contrib
    * checkpoints release once the next is materialized
    * ([[connectedComponents]] discipline), so block usage stays one
    * round deep. Total rank sums to 1 every iteration
    * (spec-asserted).
    *
    * Edges whose exact size passes the broadcast byte gate
    * ([[DriverLocal]]) run the same recurrence on the driver and come
    * back as a `LocalRelation` of the same schema; only the order in
    * which each sum adds its terms differs, so ranks agree with the
    * distributed path to a few ulps. Weights must be positive, as the
    * out-weight normalization divides by them. */
  def pageRank(edges: DataFrame, iterations: Int = 10,
      damping: Double = 0.85): DataFrame = {
    val spark = edges.sparkSession
    val e = DriverLocal.labelled(spark, "graph.pageRank edges")(
      Bridge.checkpoint(edges.select(col("src"), col("dst"),
        col("weight").cast("double").as("w"))))
    val allNodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
    val node = allNodes.schema("node")
    DriverLocal.edges(e, "pageRank", col("src").cast(node.dataType),
        col("dst").cast(node.dataType), col("w")) match {
      case Some(rows) =>
        Bridge.releaseFrame(e)
        spark.createDataFrame(localPageRank(rows, iterations, damping).asJava,
          StructType(Seq(node, StructField("rank", DoubleType))))
      case None => pageRankRounds(e, allNodes, iterations, damping)
    }
  }

  /** [[pageRank]]'s distributed rounds over its checkpointed edges. */
  private def pageRankRounds(e: DataFrame, allNodes: DataFrame,
      iterations: Int, damping: Double): DataFrame = {
    def inRound[A](r: Int)(body: => A): A =
      DriverLocal.labelled(e.sparkSession, s"graph.pageRank round $r")(body)
    val nodes = inRound(1)(Bridge.checkpoint(allNodes))
    val n = Bridge.rowCount(nodes).toDouble
    val outW = e.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    val eNorm = inRound(1)(Bridge.checkpoint(e.join(outW, Seq("src"))
      .select(col("src"), col("dst"), (col("w") / col("ow")).as("p"))))
    Bridge.releaseFrame(e)
    // r15 restructure: the (node, rank) frame is never materialized
    // between rounds — the rank FORMULA rides INTO the next round's
    // edge join instead. rank(src) = (1-d)/n + d*(contrib(src) + dang/n)
    // is per-row arithmetic over the previous round's checkpointed
    // contrib frame, so joining eNorm LEFT against contrib and
    // computing the rank inline is bit-identical to joining against
    // the zero-filled rank frame (absent contrib = exact 0.0, same
    // coalesce), while dropping the node-frame join from every round's
    // broadcast build. Round 1's rank is the CONSTANT 1/n for every
    // source, so it needs no join at all — and the seed rank frame,
    // its checkpoint and the round-1 broadcast build all disappear.
    var contrib: DataFrame = inRound(1)(Bridge.checkpoint(eNorm
      .groupBy(col("dst").as("node"))
      .agg(sum(col("p") * lit(1.0 / n)).as("contrib"))))
    var dangling = broadcast(contrib.agg(
      (lit(1.0) - sum(col("contrib"))).as("__dang")))
    for (r <- 2 to iterations) {
      val rank = lit((1.0 - damping) / n) + lit(damping) *
        (coalesce(col("c"), lit(0.0)) + col("__dang") / n)
      val next = inRound(r)(Bridge.checkpoint(eNorm
        .join(contrib.select(col("node").as("src"),
          col("contrib").as("c")), Seq("src"), "left")
        .crossJoin(dangling)
        .groupBy(col("dst").as("node"))
        .agg(sum(col("p") * rank).as("contrib"))))
      // the new contrib's materialization was the last reader of the
      // previous round's
      Bridge.releaseFrame(contrib)
      contrib = next
      dangling = broadcast(contrib.agg(
        (lit(1.0) - sum(col("contrib"))).as("__dang")))
    }
    // zero-fill over the node frame ONCE, at output assembly
    val ranks = inRound(iterations)(Bridge.checkpoint(
      nodes.join(contrib, Seq("node"), "left")
        .crossJoin(dangling)
        .select(col("node"),
          (lit((1.0 - damping) / n) + lit(damping) *
            (coalesce(col("contrib"), lit(0.0)) + col("__dang") / n))
            .as("rank"))))
    Bridge.releaseFrame(contrib)
    Bridge.releaseFrame(eNorm)
    Bridge.releaseFrame(nodes)
    ranks
  }

  /** [[pageRank]]'s recurrence over collected (src, dst, w) rows, term
    * for term the distributed arithmetic; only the order in which each
    * sum adds its terms differs. One (node, rank) row per endpoint. */
  private def localPageRank(rows: Array[Row], iterations: Int,
      damping: Double): Seq[Row] = {
    val ids = new DriverLocal.Ids
    val src = rows.map(r => ids(r.get(0)))
    val dst = rows.map(r => ids(r.get(1)))
    val w = rows.map(_.getDouble(2))
    val n = ids.size.toDouble
    val outW = new Array[Double](ids.size)
    w.indices.foreach(i => outW(src(i)) += w(i))
    val p = Array.tabulate(w.length)(i => w(i) / outW(src(i)))
    def rank(c: Double, dang: Double) =
      (1.0 - damping) / n + damping * (c + dang / n)
    var contrib = new Array[Double](ids.size)
    p.indices.foreach(i => contrib(dst(i)) += p(i) * (1.0 / n))
    for (_ <- 2 to iterations) {
      val dang = 1.0 - contrib.sum
      val next = new Array[Double](ids.size)
      p.indices.foreach { i =>
        next(dst(i)) += p(i) * rank(contrib(src(i)), dang)
      }
      contrib = next
    }
    val dang = 1.0 - contrib.sum
    ids.ids.indices.map(v => Row(ids.ids(v), rank(contrib(v), dang)))
  }

  /** Exact triangle count + global clustering coefficient over an
    * undirected edge list (`id_a`/`id_b`; duplicates, direction and
    * self-loops don't matter). One summary row: node/edge/wedge/
    * triangle counts and 3T/wedges — the graph-cohesion profile
    * (community density of a co-occurrence or near-dup graph).
    *
    * Scale shape: the degree-ORIENTATION construction (direct every
    * edge from its (degree, id)-smaller endpoint to the larger), so
    * the wedge self-join fans out per-node by ORIENTED out-degree —
    * bounded by O(sqrt(m)) on any graph instead of the raw max degree
    * that makes naive wedge counting explode on skewed graphs (the
    * celebrity node contributes its full deg² under a naive join,
    * ~nothing under orientation). Each triangle has exactly one
    * orientation-minimal vertex, so the count is exact, not sampled:
    * wedge (v,w) out of u closes iff oriented edge v→w exists —
    * one equi-join against the oriented edge list. Frames carry ids
    * and degrees only; payloads never ride. Canonical edges that pass
    * the broadcast byte gate ([[DriverLocal]]) are counted on the
    * driver instead, with the same orientation; the counts are exact
    * either way. */
  def triangleCount(edges: DataFrame, scale: Int = 6): DataFrame = {
    val spark = edges.sparkSession
    // canonical undirected edges: a < b, distinct, no self-loops
    val canon = DriverLocal.labelled(spark, "graph.triangleCount edges")(
      Bridge.checkpoint(edges.select(
          least(col("id_a"), col("id_b")).as("a"),
          greatest(col("id_a"), col("id_b")).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()))
    val (nNodes, nEdges, nWedges, nTri) =
      DriverLocal.edges(canon, "triangleCount", col("a"), col("b")) match {
        case Some(rows) =>
          Bridge.releaseFrame(canon)
          localTriangles(rows)
        case None => DriverLocal.labelled(spark,
          "graph.triangleCount distributed")(distributedTriangles(canon))
      }
    spark.range(1).select(
      lit(nNodes).as("n_nodes"), lit(nEdges).as("n_edges"),
      lit(nWedges).as("n_wedges"), lit(nTri).as("n_triangles"),
      (if (nWedges > 0)
        round(lit(3.0 * nTri / nWedges), scale).cast("double")
      else lit(null).cast("double")).as("global_clustering"))
  }

  /** (nodes, edges, wedges, triangles) of [[triangleCount]]'s canonical
    * edge checkpoint, by the distributed degree-orientation join. */
  private def distributedTriangles(canon: DataFrame): (Long, Long, Long, Long) = {
    val degLazy = Bridge.checkpoint(canon.select(col("a").as("id"))
      .unionAll(canon.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d")), eager = false)
    // scalars first: this job materializes the lazy degree checkpoint,
    // and its node count becomes the checkpoint's exact row count
    val statsRow = degLazy.agg(
      count(lit(1)).as("n_nodes"),
      // integer DIV, not `/`: double division would round wedge counts
      // once degrees pass 2^26 (d² beyond the 53-bit mantissa)
      sum(expr("(d * (d - 1)) DIV 2")).cast("long").as("n_wedges"),
      // every canonical edge contributes one to each endpoint's degree
      sum(expr("d")).cast("long").as("__degsum"))
      .first()
    val (nNodes, nWedges) =
      (statsRow.getAs[Long]("n_nodes"), statsRow.getAs[Long]("n_wedges"))
    val deg = Bridge.withRowCount(degLazy, nNodes)
    // orient by (degree, id): lower endpoint in that total order
    // becomes the source
    val withDeg = canon
      .join(deg.select(col("id").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("d").as("db")), Seq("b"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = Bridge.checkpoint(withDeg.select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("dd")))
    // wedges out of each source, ordered by the same (degree, id)
    // total order so the closing edge appears exactly once in
    // `oriented` as v -> w
    val e1 = oriented.select(col("src"), col("dst").as("v"), col("dd").as("dv"))
    val e2 = oriented.select(col("src"), col("dst").as("w"), col("dd").as("dw"))
    // distinct centers can contribute the same (v,w) wedge — each is
    // its own potential triangle, so the count is over wedge ROWS
    // matching an oriented edge (oriented is already duplicate-free)
    val wedgePairs = e1.join(e2, Seq("src"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("v").as("src"), col("w").as("dst"))
    val nTri = wedgePairs
      .join(oriented.select(col("src"), col("dst")), Seq("src", "dst"))
      .count()
    val nEdges = statsRow.getAs[Long]("__degsum") / 2
    Bridge.releaseFrame(canon)
    Bridge.releaseFrame(deg)
    Bridge.releaseFrame(oriented)
    (nNodes, nEdges, nWedges, nTri)
  }

  /** [[distributedTriangles]] over collected canonical (a, b) rows: the
    * same (degree, index) orientation, each triangle counted once at
    * its orientation-minimal vertex by marking its out-neighbors. */
  private def localTriangles(rows: Array[Row]): (Long, Long, Long, Long) = {
    val ids = new DriverLocal.Ids
    val a = rows.map(r => ids(r.get(0)))
    val b = rows.map(r => ids(r.get(1)))
    val deg = new Array[Long](ids.size)
    rows.indices.foreach { i => deg(a(i)) += 1; deg(b(i)) += 1 }
    def first(x: Int, y: Int) = deg(x) < deg(y) || (deg(x) == deg(y) && x < y)
    val out = Array.fill(ids.size)(scala.collection.mutable.ArrayBuffer[Int]())
    rows.indices.foreach { i =>
      if (first(a(i), b(i))) out(a(i)) += b(i) else out(b(i)) += a(i)
    }
    val mark = Array.fill(ids.size)(-1)
    var tri = 0L
    for (u <- out.indices) {
      out(u).foreach(mark(_) = u)
      for (v <- out(u); w <- out(v)) if (mark(w) == u) tri += 1
    }
    (ids.size.toLong, rows.length.toLong, deg.map(d => d * (d - 1) / 2).sum, tri)
  }

  /** PER-NODE local clustering coefficient: cc(v) = 2·T(v) /
    * (d(v)·(d(v)-1)) — how close each node's neighborhood is to a
    * clique, the node-level cohesion signal [[triangleCount]]'s one
    * summary row can't give (which parts sit inside tight co-purchase
    * cliques vs merely having many neighbors). Nodes with degree < 2
    * score 0 by convention.
    *
    * Same degree-orientation wedge construction as [[triangleCount]]
    * (O(sqrt(m)) oriented out-degree bound — skew-proof), but the
    * closing join KEEPS the wedge center, so each triangle surfaces
    * as an (u, v, w) row once and explodes to its three corners for
    * the per-node count. Output: (id, degree, n_tri, cc) for every
    * node. */
  def clusteringCoefficients(edges: DataFrame, scale: Int = 6): DataFrame = {
    val canon = Bridge.checkpoint(edges.select(
        least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    val deg = Bridge.checkpoint(canon.select(col("a").as("id"))
      .unionAll(canon.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d")))
    val withDeg = canon
      .join(deg.select(col("id").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("d").as("db")), Seq("b"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = Bridge.checkpoint(withDeg.select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("dd")))
    val e1 = oriented.select(col("src").as("u"), col("dst").as("v"),
      col("dd").as("dv"))
    val e2 = oriented.select(col("src").as("u"), col("dst").as("w"),
      col("dd").as("dw"))
    val wedges = e1.join(e2, Seq("u"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("u"), col("v").as("src"), col("w").as("dst"))
    val corners = wedges
      .join(oriented.select(col("src"), col("dst")), Seq("src", "dst"))
      .select(explode(array(col("u"), col("src"), col("dst"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("__tri"))
    val out = Bridge.checkpoint(deg.join(corners, Seq("id"), "left")
      .select(col("id"), col("d").as("degree"),
        coalesce(col("__tri"), lit(0L)).as("n_tri"),
        round(when(col("d") >= 2L,
          coalesce(col("__tri"), lit(0L)).cast("double") * 2.0 /
            (col("d") * (col("d") - 1L))).otherwise(lit(0.0)), scale)
          .as("cc")))
    Bridge.releaseFrame(canon)
    Bridge.releaseFrame(deg)
    Bridge.releaseFrame(oriented)
    out
  }

  /** Community detection by synchronous label propagation (Raghavan et
    * al. 2007): every node starts as its own community and, each round,
    * adopts the most frequent label among its NEIGHBORS — ties break to
    * the smallest label, so the whole run is deterministic and
    * oracle-checkable (the classic randomized-order variant is not).
    * Input: `edges` with `id_a`/`id_b` (undirected; duplicates and
    * direction are absorbed by symmetrize+distinct). Output:
    * (id, label) for every edge endpoint.
    *
    * Scale shape per round — the [[pageRank]] posture: ONE shuffle join
    * of the symmetrized edge list against the current (id, label)
    * frame, one map-side-combined (node, label) count, and one
    * struct-argmax per node; all rows are id-width. Each round eagerly
    * checkpoints and the superseded frame is released, so block usage
    * stays one round deep. Runs a FIXED iteration count: synchronous
    * LPA on bipartite-ish regions can two-cycle rather than converge,
    * so a fixed budget is the honest contract (density floors, not
    * exactness, is what LPA offers; use [[connectedComponents]] when
    * membership must be transitive-exact). */
  def labelPropagation(edges: DataFrame, iterations: Int = 3): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    // r15: symmetrize in ONE pass — the union shape evaluated the
    // (arbitrarily expensive) caller-supplied edge pipeline TWICE
    // inside the checkpoint job, once per union branch. Second pass
    // (guide §2.3, shuffle fewer bytes): dedup on the CANONICAL
    // (least, greatest) form and mirror AFTER the aggregate — the
    // distinct's exchange carries E rows instead of 2E, and the
    // explode is map-side on the aggregate's output. Row-for-row the
    // same frame: distinct over the symmetric closure equals the
    // symmetric closure of the canonical distinct.
    val sym = Bridge.checkpoint(edges.select(
        least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .select(explode(array(
        struct(col("a").as("x"), col("b").as("y")),
        struct(col("b").as("x"), col("a").as("y")))).as("__e"))
      .select(col("__e.x").as("id_a"), col("__e.y").as("id_b")))
    var labels = Bridge.checkpoint(sym.select(col("id_a").as("id"))
      .distinct()
      .select(col("id"), col("id").as("label")))
    for (_ <- 1 to iterations) {
      // neighbor labels for node id_a come from id_b's current label;
      // argmax by (count, smallest label) rides ONE struct min_by —
      // no window, no per-node sort. min_by on (−cnt, label), NOT
      // max_by on (cnt, −label): negating the label would cast
      // string node ids to null and silently break the documented
      // smallest-label determinism; counts are always numeric.
      // r15: ONE exchange per round — the explicit id_a repartition
      // satisfies BOTH downstream groupings (HashPartitioning(id_a)
      // clusters (id_a, label) too), so the per-(node,label) count
      // and the per-node argmax run exchange-free on top of it.
      val next = Bridge.checkpoint(sym
        .join(labels.select(col("id").as("id_b"), col("label")),
          Seq("id_b"))
        .repartition(col("id_a"))
        .groupBy(col("id_a"), col("label"))
        .agg(count(lit(1)).as("__cnt"))
        .groupBy(col("id_a").as("id"))
        .agg(min_by(col("label"),
          struct((-col("__cnt")).as("__nc"), col("label"))).as("label")))
      Bridge.releaseFrame(labels)
      labels = next
    }
    Bridge.releaseFrame(sym)
    labels
  }

  /** k-core of an undirected graph: the maximal subgraph in which
    * every node keeps degree ≥ k, found by synchronous peeling —
    * each round drops every node whose CURRENT degree is below k
    * (and the edges touching it), until nothing changes or `rounds`
    * is exhausted. Returns the surviving nodes with their core
    * degree. Peeling is idempotent after the fixpoint, so running
    * exactly R rounds and early-exiting on an unchanged edge count
    * produce the SAME output — which is what makes a fixed-R
    * unrolled SQL oracle exact regardless of where convergence lands.
    *
    * Scale shape (round-10 fusion): edges live CANONICALLY (lo, hi)
    * — half the symmetric frame — and each round costs ONE map-side-
    * combined degree aggregate over the exploded endpoints; the peel
    * itself anti-joins against the BAD set (nodes below k this
    * round), which is exactly the shrinking frontier, so the planner
    * broadcasts it and adds no exchange (a degenerate first round
    * that peels past `spark.sql.autoBroadcastJoinThreshold` shuffles
    * instead, still no worse than the old two-semi-join plan). The r9
    * plan spent three exchanges per round (degree groupBy + two semi-
    * joins against the LARGE keep set). Each round checkpoints
    * (same discipline as [[labelPropagation]]) so the loop's lineage
    * stays flat; superseded rounds release eagerly; the loop exits
    * as soon as a round peels nothing. Canonical edges that pass the
    * broadcast byte gate ([[DriverLocal]]) are peeled on the driver,
    * round for round the same, into a `LocalRelation` of the same
    * schema. */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 6): DataFrame = {
    require(k >= 1 && rounds >= 1)
    val spark = edges.sparkSession
    val live = DriverLocal.labelled(spark, "graph.kCore edges")(
      Bridge.checkpoint(edges
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
        .distinct()))
    def coreDegrees(live: DataFrame) =
      live.select(explode(array(col("id_a"), col("id_b"))).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("core_degree"))
    DriverLocal.edges(live, "kCore", col("id_a"), col("id_b")) match {
      case Some(rows) =>
        Bridge.releaseFrame(live)
        spark.createDataFrame(localKCore(rows, k, rounds).asJava,
          coreDegrees(live).schema)
      case None => coreDegrees(kCoreRounds(live, k, rounds))
    }
  }

  /** [[kCore]]'s distributed peeling rounds over its canonical edge
    * checkpoint; returns the surviving edges. */
  private def kCoreRounds(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    var live = edges
    var done = Bridge.rowCount(live) == 0L
    var r = 0
    while (!done && r < rounds) DriverLocal.labelled(live.sparkSession,
        s"graph.kCore round ${r + 1}") {
      val bad = Bridge.checkpoint(live
        .select(explode(array(col("id_a"), col("id_b"))).as("__id"))
        .groupBy(col("__id")).agg(count(lit(1)).as("__deg"))
        .filter(col("__deg") < k)
        .select(col("__id")))
      if (Bridge.rowCount(bad) == 0L) {
        Bridge.releaseFrame(bad)
        done = true
      } else {
        // MEASURED trade-off: a broadcast bad set ships TWICE (a
        // checkpoint's ExistingRDD defeats exchange-reuse
        // canonicalization across the analyzer's self-join dedup — a
        // .persist() variant does get a ReusedExchange but costs
        // ~+1 s/query in columnar cache build at realistic frontier
        // sizes)
        val next = Bridge.checkpoint(live
          .join(bad.select(col("__id").as("id_a")), Seq("id_a"), "left_anti")
          .join(bad.select(col("__id").as("id_b")), Seq("id_b"), "left_anti"))
        Bridge.releaseFrame(live)
        Bridge.releaseFrame(bad)
        live = next
        // no per-round emptiness probe (r11): a drained frame exits
        // the NEXT round through an empty bad set — one cheap job
        // once, instead of one extra job EVERY round
        r += 1
      }
    }
    live
  }

  /** [[kCoreRounds]] over collected canonical (id_a, id_b) rows: each
    * round drops the edges touching a node of degree below k, at most
    * `rounds` peels; then one (id, core_degree) row per surviving
    * endpoint. */
  private def localKCore(rows: Array[Row], k: Int, rounds: Int): Seq[Row] = {
    val ids = new DriverLocal.Ids
    val a = rows.map(r => ids(r.get(0)))
    val b = rows.map(r => ids(r.get(1)))
    val deg = new Array[Long](ids.size)
    def degrees(live: Array[Int]): Unit = {
      java.util.Arrays.fill(deg, 0L)
      live.foreach { i => deg(a(i)) += 1; deg(b(i)) += 1 }
    }
    var live = rows.indices.toArray
    var done = live.isEmpty
    var r = 0
    while (!done && r < rounds) {
      degrees(live)
      val kept = live.filter(i => deg(a(i)) >= k && deg(b(i)) >= k)
      if (kept.length == live.length) done = true
      else { live = kept; r += 1 }
    }
    degrees(live)
    deg.indices.filter(deg(_) > 0).map(v => Row(ids.ids(v), deg(v)))
  }

  /** Multi-source BFS hop distance: every node's distance (in hops)
    * from the nearest seed, up to `maxHops` — "how far is each
    * product from the promoted set", the blast-radius query. Seeds
    * are hop 0; unreached nodes don't emit.
    *
    * Scale shape: classic frontier expansion — per hop ONE id-width
    * join (frontier × adjacency) and one anti-join against the
    * settled set, both checkpointed ([[kCore]] discipline).
    * Frontiers only shrink the unsettled set, so the loop exits
    * early when a frontier drains; a fixed-R unrolled oracle stays
    * exact because later rounds are no-ops. */
  def bfsHops(edges: DataFrame, seeds: DataFrame,
      maxHops: Int = 3): DataFrame = {
    require(maxHops >= 1)
    // r15: symmetrize in ONE pass — the union shape evaluated the
    // (arbitrarily expensive) caller-supplied edge pipeline TWICE
    // inside the checkpoint job, once per union branch. Second pass
    // (guide §2.3): canonical (least, greatest) dedup, mirrored
    // map-side AFTER the aggregate — the exchange carries E rows
    // instead of 2E (see [[labelPropagation]]).
    val sym = Bridge.checkpoint(edges.select(
        least(col("id_a"), col("id_b")).as("a"),
        greatest(col("id_a"), col("id_b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .select(explode(array(
        struct(col("a").as("x"), col("b").as("y")),
        struct(col("b").as("x"), col("a").as("y")))).as("__e"))
      .select(col("__e.x").as("id_a"), col("__e.y").as("id_b")))
    var dist = Bridge.checkpoint(seeds.select(col("id")).distinct()
      .withColumn("hops", lit(0)))
    var frontier = dist.select("id")
    var h = 1
    var done = false
    while (!done && h <= maxHops) {
      // the checkpoint's count is the hop's one action (the BPE
      // one-action-per-round discipline)
      val nxt = Bridge.checkpoint(sym
        .join(frontier.withColumnRenamed("id", "id_a"), Seq("id_a"),
          "left_semi")
        .select(col("id_b").as("id")).distinct()
        .join(dist, Seq("id"), "left_anti")
        .withColumn("hops", lit(h)))
      if (Bridge.rowCount(nxt) == 0L) {
        Bridge.releaseFrame(nxt)
        done = true
      } else {
        val merged = Bridge.checkpoint(dist.unionByName(nxt))
        Bridge.releaseFrame(dist)
        dist = merged
        frontier = nxt.select("id")
      }
      h += 1
    }
    Bridge.releaseFrame(sym)
    dist
  }

  /** Weighted single-source(-set) shortest paths by `rounds` of
    * Bellman-Ford min-plus relaxation — the weighted sibling of
    * [[bfsHops]] (hop counts answer "how far"; weighted distance
    * answers "how strongly connected", with edge weight as cost).
    * Input: `edges` (id_a, id_b, weight ≥ 0; undirected — symmetrized
    * here, duplicates minimized away), `seeds` (id). Output:
    * (id, dist) for every node within `rounds` relaxations, dist
    * rounded to `scale` dp.
    *
    * FIXED round count, no early exit: each round is
    * dist' = min(dist, min over edges (dist[src] + w)) — a union +
    * one hash aggregate — so the result is EXACTLY the k-step
    * unrolled form an ANSI oracle can state. Paths accumulate as
    * dist[src] + w left-to-right, the same FP addition order in any
    * engine evaluating the recurrence. Per-round frames are
    * checkpointed and superseded rounds released (the
    * [[connectedComponents]] discipline); rounds is a small constant,
    * distance growth is the frontier's. Edges and seeds that pass the
    * broadcast byte gate ([[DriverLocal]]) relax on the driver with the
    * same additions and comparisons, so distances are bit-identical. */
  def sssp(edges: DataFrame, seeds: DataFrame, rounds: Int,
      scale: Int = 6): DataFrame = {
    require(rounds >= 1)
    val spark = edges.sparkSession
    // single-pass symmetrize — see [[connectedComponents]] (r15).
    // Second pass (guide §2.3): the parallel-edge min-merge groups on
    // the CANONICAL (least, greatest) pair and mirrors AFTER the
    // aggregate — the exchange carries E rows instead of 2E, and for
    // every unordered pair min over its canonical group equals min
    // over both directed groups of the old exploded closure (each
    // input row contributed its weight to both directions).
    val sym = DriverLocal.labelled(spark, "graph.sssp edges")(
      Bridge.checkpoint(edges.select(
          least(col("id_a"), col("id_b")).as("a"),
          greatest(col("id_a"), col("id_b")).as("b"),
          col("weight").cast("double").as("w"))
        .filter(col("a") =!= col("b"))
        .groupBy(col("a"), col("b"))
        .agg(min(col("w")).as("w"))
        .select(explode(array(
          struct(col("a").as("x"), col("b").as("y"), col("w")),
          struct(col("b").as("x"), col("a").as("y"), col("w")))).as("__e"))
        .select(col("__e.x").as("id_a"), col("__e.y").as("id_b"),
          col("__e.w").as("weight"))))
    val seed = seeds.select(col("id")).distinct().withColumn("dist", lit(0.0))
    // one relaxation: dist' = min(dist, min over edges (dist[src] + w))
    def relax(dist: DataFrame) = sym
      .join(dist.select(col("id").as("id_a"), col("dist")), Seq("id_a"))
      .select(col("id_b").as("id"), (col("dist") + col("weight")).as("dist"))
      .unionByName(dist)
      .groupBy(col("id")).agg(min(col("dist")).as("dist"))
    // ids as the distributed union types them (edge and seed id types
    // widened to one)
    val out = relax(seed).schema
    val idType = out("id").dataType
    val local = for {
      e <- DriverLocal.edges(sym, "sssp", col("id_a").cast(idType),
        col("id_b").cast(idType), col("weight"))
      // raw seed ids: one scan job, duplicates merge on the driver
      s <- DriverLocal.labelled(spark, "graph.sssp driver-local")(
        DriverLocal.collectIfFits(seeds.select(col("id").cast(idType))))
    } yield spark.createDataFrame(localSssp(e, s, rounds).asJava, out)
    val dist = local.getOrElse {
      var dist = DriverLocal.labelled(spark, "graph.sssp round 0")(
        Bridge.checkpoint(seed))
      for (r <- 1 to rounds) {
        val relaxed = DriverLocal.labelled(spark, s"graph.sssp round $r")(
          Bridge.checkpoint(relax(dist)))
        Bridge.releaseFrame(dist)
        dist = relaxed
      }
      dist
    }
    Bridge.releaseFrame(sym)
    dist.select(col("id"), round(col("dist"), scale).as("dist"))
  }

  /** [[sssp]]'s `rounds` synchronous relaxations over collected directed
    * (id_a, id_b, weight) edges from the collected seed ids (repeats
    * allowed) at 0.0: each
    * candidate is dist[src] + w, and a node keeps the least (NaN
    * greatest, as Spark's `min` orders it). One (id, dist) row per
    * reached node. */
  private def localSssp(edges: Array[Row], seeds: Array[Row],
      rounds: Int): Seq[Row] = {
    val ids = new DriverLocal.Ids
    val seed = seeds.map(r => ids(r.get(0)))
    val src = edges.map(r => ids(r.get(0)))
    val dst = edges.map(r => ids(r.get(1)))
    val w = edges.map(_.getDouble(2))
    var dist = Array.fill(ids.size)(Double.NaN)
    var reached = new Array[Boolean](ids.size)
    seed.foreach { i => dist(i) = 0.0; reached(i) = true }
    for (_ <- 1 to rounds) {
      val next = dist.clone()
      val nextReached = reached.clone()
      edges.indices.foreach { i =>
        if (reached(src(i))) {
          val c = dist(src(i)) + w(i)
          val v = dst(i)
          if (!nextReached(v) || c < next(v) || next(v).isNaN) {
            next(v) = c
            nextReached(v) = true
          }
        }
      }
      dist = next
      reached = nextReached
    }
    ids.ids.indices.filter(reached).map(v => Row(ids.ids(v), dist(v)))
  }
}
