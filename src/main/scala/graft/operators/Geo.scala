package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Geospatial primitives: great-circle distance and the grid-bucketed
  * radius join. The engine's point data is (lat, lon) double columns —
  * no geometry dependency; the two operators here cover the pipeline
  * uses (nearest-facility enrichment, geo-dedup of scraped documents
  * with coordinates, store-catchment joins) with plain Catalyst
  * expressions and ONE equi-join shuffle.
  */
object Geo {

  /** Mean Earth radius (km), the haversine convention. */
  val EarthRadiusKm = 6371.0

  /** The 3x3 neighbor stencil shared by every grid operator here. */
  private def offsets9: Column =
    array((-1 to 1).flatMap(dx => (-1 to 1).map(dy =>
      struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy")))): _*)

  /** Great-circle distance in km (haversine form — numerically stable
    * for the small distances a radius join filters on, where the
    * spherical law of cosines loses all precision). Formula is kept in
    * the engine-portable subset (sin/cos/asin/sqrt/radians) so the SQL
    * oracle states the IDENTICAL expression. */
  def haversineKm(lat1: Column, lon1: Column,
      lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1) / 2.0
    val dLon = radians(lon2 - lon1) / 2.0
    val h = sin(dLat) * sin(dLat) +
      cos(radians(lat1)) * cos(radians(lat2)) * sin(dLon) * sin(dLon)
    // least() guards the asin domain against h = 1 + 1ulp from the
    // antipodal rounding edge
    lit(2.0 * EarthRadiusKm) * asin(sqrt(least(h, lit(1.0))))
  }

  /** All (a, b) pairs within `radiusKm` great-circle km — WITHOUT the
    * all-pairs cross join. Both sides bucket into square grid cells of
    * `cellDeg` degrees; side b is replicated into its 3x3 neighbor
    * cells (9 rows, each carrying only the join payload); the
    * candidate join is a plain hash EQUI-join on the cell id, and the
    * exact haversine predicate filters candidates. At 100 TB this is
    * the standard spatial-join shape: shuffle keys are (cellX, cellY)
    * ints, candidate fan-in per cell is density-bounded, and no
    * geometry library or R-tree is needed for point-radius duty.
    *
    * Correctness bound (asserted): the 3x3 neighborhood covers the
    * radius only while one cell spans it in BOTH axes. A lat degree is
    * ~111.19 km everywhere; a lon degree shrinks by cos(lat), so the
    * caller passes `maxAbsLat` (default 60°, cos >= 0.5) and the cell
    * is sized 2·radius/111 deg — >= the worst-case lon radius inside
    * the band. Rows outside the band are rejected loudly rather than
    * silently dropped from the candidate set.
    *
    * Output: every column of `a` and `b` plus `dist_km`. */
  def radiusJoin(a: DataFrame, b: DataFrame,
      latA: String, lonA: String, latB: String, lonB: String,
      radiusKm: Double, maxAbsLat: Double = 60.0): DataFrame = {
    require(radiusKm > 0.0, "radiusKm must be positive")
    require(maxAbsLat < 89.0, "grid cells degenerate at the poles")
    val cellDeg = 2.0 * radiusKm / 111.0
    require(cellDeg >= radiusKm / (111.19 * math.cos(math.toRadians(maxAbsLat))),
      s"cell ${cellDeg}deg cannot cover ${radiusKm}km at lat ${maxAbsLat}")
    // the guard REPLACES the lat column (a dropped side-column would be
    // pruned out of the plan and never evaluate)
    def guard(df: DataFrame, latCol: String): DataFrame =
      df.withColumn(latCol,
        when(abs(col(latCol)) <= maxAbsLat, col(latCol)).otherwise(
          raise_error(concat(lit(s"radiusJoin: |lat| > $maxAbsLat: "),
            col(latCol).cast("string")))))
    // Longitude cells form a MODULAR ring: haversine is antimeridian-
    // correct (sin(dLon/2) is periodic), so a pair straddling ±180°
    // is a real neighbor — plain floor cells would never join it.
    // Equal-width ring cells (360/nLon, each >= cellDeg) keep "within
    // radius => adjacent ring cells" true even at the seam; a thin
    // remainder cell would break that with a 2-step straddle.
    val nLon = math.max(1L, (360.0 / cellDeg).toLong)
    // below 3 ring cells the dx=-1 and dx=+1 replicas collapse onto
    // the same pmod cell and matching pairs join TWICE — reject the
    // planet-scale radius loudly (radius joins are local by nature)
    require(nLon >= 3L,
      s"radius ${radiusKm}km needs ring cells > 120deg — use a cross join")
    val lonCell = 360.0 / nLon
    def lonIdx(lon: Column): Column =
      pmod(floor((lon + 180.0) / lonCell), lit(nLon))
    val ga = guard(a, latA)
      .withColumn("__cx", lonIdx(col(lonA)))
      .withColumn("__cy", floor(col(latA) / cellDeg))
    val off = offsets9
    val gb = guard(b, latB)
      .withColumn("__o", explode(off))
      .withColumn("__cx", pmod(lonIdx(col(lonB)) + col("__o.dx"), lit(nLon)))
      .withColumn("__cy", floor(col(latB) / cellDeg) + col("__o.dy"))
      .drop("__o")
    val d = haversineKm(col(latA), col(lonA), col(latB), col(lonB))
    ga.join(gb, Seq("__cx", "__cy"))
      .withColumn("dist_km", d)
      .filter(col("dist_km") <= radiusKm)
      .drop("__cx", "__cy")
  }

  /** Grid DBSCAN — density clustering at join-free cost: bucket points
    * into `cellDeg` cells, call a cell CORE when it holds >= minPts
    * points, connect core cells through 8-neighbor adjacency
    * ([[graft.operators.Graph.connectedComponents]] over the
    * cell-count-bounded adjacency graph), and label every point:
    * core-cell points get their own cell's cluster, points in
    * non-core cells take the SMALLEST adjacent core cluster (border),
    * and the rest are noise (null cluster). Cluster id = smallest
    * cell id in the component — fully deterministic, so the whole
    * construction is oracle-checkable with a recursive CTE.
    *
    * This is the grid approximation every distributed DBSCAN ends up
    * shipping (exact eps-neighborhoods need a pair join; cells make
    * density a HASH AGGREGATE): clusters separated by more than one
    * empty cell are exact, sub-cell structure is merged — pick
    * cellDeg ~ the eps you mean. KNOWN LIMIT (unlike [[radiusJoin]]'s
    * modular ring, and mirrored in the oracle): longitude cells do NOT
    * wrap at ±180°, so a cluster straddling the antimeridian splits in
    * two — rotate the frame first if your data lives there.
    *
    * Scale shape: one count aggregate over points, everything else
    * runs on the CELL frame (bounded by occupied-cell count, not
    * rows); the point labeling is one broadcast-sized join back. */
  def gridDbscan(df: DataFrame, latCol: String, lonCol: String,
      idCol: String, cellDeg: Double, minPts: Long): DataFrame = {
    require(cellDeg > 0.002, "cellDeg too fine for the cell-id encoding")
    require(minPts >= 1L)
    val enc = 100000L
    val cellId = (floor((col(lonCol) + 180.0) / cellDeg).cast("long") * enc
      + floor((col(latCol) + 90.0) / cellDeg).cast("long")).as("__cell")
    // no checkpoints here: pts is a map-only projection of the source
    // and core a cheap count filter — recomputing both costs less than
    // pinning blocks the (lazy) output could not release
    val pts = df.select(col(idCol), cellId)
    val counts = pts.groupBy(col("__cell")).agg(count(lit(1)).as("__n"))
    val core = counts.filter(col("__n") >= minPts).select(col("__cell"))
    // The component solve is SIZE-GATED in bytes, by the planner's
    // broadcast rule (`spark.sql.autoBroadcastJoinThreshold`): the
    // core-cell frame is bounded by the GRID (and further by the point
    // count), not by the data, so below the gate — one
    // `limit(cap + 1)` collect decides and fetches — a driver-side BFS
    // over the collected cell set (adjacency is pure arithmetic, no
    // edge frame at all) replaces ~15 iterative-CC scheduling rounds
    // (measured 7.9 s -> 1.5 s at sf0.1). Above the gate (continental
    // 0.01° grids), or at a threshold of -1, the exact distributed
    // path runs: 8-neighbor equi-join edges + connectedComponents,
    // whose star-contraction fallback handles the long-diameter
    // components grid graphs produce.
    val spark = df.sparkSession
    val gated = DriverLocal.labelled(spark, "geo.gridDbscan gate")(
      DriverLocal.collectIfFits(core))
    val cellCluster = gated match {
      case Some(rows) =>
        val cells = rows.map(_.getLong(0))
        val coreSet = cells.toSet
        val label = scala.collection.mutable.Map[Long, Long]()
        cells.sorted.foreach { c =>
          if (!label.contains(c)) {
            val comp = scala.collection.mutable.ArrayBuffer(c)
            val seen = scala.collection.mutable.Set(c)
            var i = 0
            while (i < comp.length) {
              val x = comp(i)
              var dx = -1L
              while (dx <= 1L) {
                var dy = -1L
                while (dy <= 1L) {
                  val nb = x + dx * enc + dy
                  if ((dx != 0L || dy != 0L) && coreSet.contains(nb) &&
                      !seen.contains(nb)) {
                    seen += nb; comp += nb
                  }
                  dy += 1L
                }
                dx += 1L
              }
              i += 1
            }
            val root = comp.min
            comp.foreach(m => label(m) = root)
          }
        }
        import spark.implicits._
        broadcast(label.toSeq.toDF("__cell", "__cluster"))
      case None => DriverLocal.labelled(spark, "geo.gridDbscan distributed") {
        val nbrs = core.withColumn("__o", explode(offsets9))
          .select(col("__cell"),
            (col("__cell") + col("__o.dx") * enc + col("__o.dy"))
              .as("__cell2"))
        val edges = nbrs.join(core.select(col("__cell").as("__cell2")),
            Seq("__cell2"))
          .filter(col("__cell") < col("__cell2"))
          .select(col("__cell").as("id_a"), col("__cell2").as("id_b"))
        graft.operators.Graph.connectedComponents(
            core.select(col("__cell").as("id")), edges, maxIter = 8)
          .select(col("id").as("__cell"),
            col("component_id").as("__cluster"))
      }
    }
    val off = offsets9
    val corePts = pts.join(cellCluster, Seq("__cell"))
      .select(col(idCol), col("__cluster").as("cluster"))
    val borderPts = pts.join(cellCluster, Seq("__cell"), "left_anti")
      .withColumn("__o", explode(off))
      .withColumn("__cell2",
        col("__cell") + col("__o.dx") * enc + col("__o.dy"))
      .join(cellCluster.select(col("__cell").as("__cell2"),
        col("__cluster")), Seq("__cell2"))
      .groupBy(col(idCol)).agg(min(col("__cluster")).as("cluster"))
    val labeled = corePts.unionByName(borderPts)
    pts.select(col(idCol))
      .join(labeled, Seq(idCol), "left") // noise keeps null cluster
  }
}
