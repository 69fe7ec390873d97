package graft

import graft.operators.{Aggregates, Relational, Skew}
import graft.llm.{Dedup, Similarity}
import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] exercises one operator family from the
  * SURVEY.md §2 inventory (or the llm/ training-data extension) against
  * the driver's test tables; [[oracleSql]] holds the DuckDB-equivalent
  * SQL. Column names/aliases match pairwise (the driver sorts columns by
  * name before hashing). Float aggregates are rounded on BOTH sides so
  * summation-order differences between engines cannot flip the hash.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Salted-md5 uniform in (0,1) — the deterministic randomness idiom
    * shared with the esScore/weightedTake family; the SQL oracles
    * state the identical ('0x'||substr(md5(..),1,13))::BIGINT form.
    * ONE definition: three queries derive coordinates/folds from it,
    * and any drift from the oracle mirror breaks parity silently. */
  private def mdUniform(key: Column, salt: String): Column =
    (conv(substring(md5(concat(key.cast("string"), lit(":" + salt))),
      1, 13), 16, 10).cast("double") + 1.0) / 4503599627370498.0

  /** Shared graph fixture: undirected co-purchase pair edges between
    * parts sharing an urgent order — consumed by the triangle-count,
    * label-propagation and k-core queries. The (order, part) frame is
    * lineage-cut so the self-join's two sides don't each re-derive
    * the lineitem-orders join. */
  private def urgentCopurchasePairs(s: SparkSession, d: String): DataFrame =
    // r15: bucket-and-combine instead of the (order, part) self-join.
    // One exchange groups each urgent order's parts into a sorted
    // array (collect_LIST — q_sssp's edge weights count pair
    // MULTIPLICITY, so duplicate parts within an order must keep
    // producing duplicate pairs); the chained Generates enumerate the
    // i<j combinations, and dropping equal-VALUE pairs reproduces the
    // old `__pk < __pk2` predicate exactly (for a sorted multiset,
    // {i<j, x_i != x_j} are precisely the instance pairs with
    // x_i < x_j). The self-join needed the frame checkpointed to read
    // it twice; single-pass needs no checkpoint. The pre-repartition
    // merges with the groupBy exchange and moves the per-order
    // collection off the single-row-group scan task.
    t(s, d, "lineitem")
      .join(t(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("__ok"), col("l_partkey").as("__pk"))
      .repartition(col("__ok"))
      .groupBy(col("__ok"))
      .agg(sort_array(collect_list(col("__pk"))).as("__xs"))
      .filter(size(col("__xs")) >= 2)
      .select(col("__xs"), posexplode(col("__xs")).as(Seq("__i", "id_a")))
      .select(col("id_a"),
        explode(slice(col("__xs"), col("__i") + lit(2),
          size(col("__xs")))).as("id_b"))
      .filter(col("id_a") =!= col("id_b"))

  /** 12-token-per-line re-wrap of the (single-line) synthetic documents:
    * the corpus the line-level cleaning operators are graded on. Built
    * with the exact same chunking in the DuckDB oracle; near-duplicate
    * docs share aligned chunk lines, so cross-doc frequent lines exist
    * at sf0.01 (96 of them) and the strip is non-trivial. */
  private def multiLineDocs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), split(Text.normWs(col("text")), " ").as("__t"))
      .select(col("doc_id"),
        array_join(transform(sequence(lit(1), size(col("__t")), lit(12)),
          st => concat_ws(" ", slice(col("__t"), st, lit(12)))), "\n")
          .as("text"))

  /** Driver-built EXIF fixture for q_exif_meta — a JPEG APP1 (or
    * bare TIFF) whose IFD0 carries Make/Model (offset ASCII, length
    * > 4 so the offset form is exercised), Orientation (inline
    * SHORT) and the ONE validated Exif sub-IFD hop to
    * DateTimeOriginal, in either byte order. Byte-BUILT like the
    * q_warc_extract payloads: the expected decode is known by
    * construction, so a CASE oracle grades the prober exactly. */
  private def exifFixture(le: Boolean, asJpeg: Boolean, make: String,
      model: String, ori: Int, dto: String): Array[Byte] = {
    val mk = make + "\u0000"
    val md = model + "\u0000"
    val dt = dto + "\u0000"
    val bb = java.nio.ByteBuffer.allocate(
      128 + mk.length + md.length + dt.length).order(
      if (le) java.nio.ByteOrder.LITTLE_ENDIAN
      else java.nio.ByteOrder.BIG_ENDIAN)
    def entry(tag: Int, typ: Int, cnt: Int, off: Int): Unit = {
      bb.putShort(tag.toShort); bb.putShort(typ.toShort)
      bb.putInt(cnt); bb.putInt(off)
    }
    val makeOff = 8 + 2 + 4 * 12 + 4 // header + count + entries + next
    val modelOff = makeOff + mk.length
    val subOff = modelOff + md.length
    val dtoOff = subOff + 2 + 12 + 4
    bb.put((if (le) "II" else "MM").getBytes("US-ASCII"))
    bb.putShort(42); bb.putInt(8)
    bb.putShort(4) // IFD0 entry count, tags ascending
    entry(271, 2, mk.length, makeOff)
    entry(272, 2, md.length, modelOff)
    bb.putShort(274); bb.putShort(3); bb.putInt(1)
    bb.putShort(ori.toShort); bb.putShort(0)
    entry(34665, 4, 1, subOff)
    bb.putInt(0) // next IFD
    bb.put(mk.getBytes("US-ASCII"))
    bb.put(md.getBytes("US-ASCII"))
    bb.putShort(1)
    entry(36867, 2, dt.length, dtoOff)
    bb.putInt(0)
    bb.put(dt.getBytes("US-ASCII"))
    val tiff = java.util.Arrays.copyOf(bb.array(), bb.position())
    if (!asJpeg) tiff
    else {
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(0xff); bos.write(0xd8) // SOI
      val len = 2 + 6 + tiff.length
      bos.write(0xff); bos.write(0xe1) // APP1
      bos.write((len >> 8) & 0xff); bos.write(len & 0xff)
      bos.write("Exif".getBytes("US-ASCII")); bos.write(0); bos.write(0)
      bos.write(tiff, 0, tiff.length)
      bos.write(0xff); bos.write(0xd9) // EOI
      bos.toByteArray
    }
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    pricingSummary(t(spark, "/root/testdata/sf0.001", "lineitem"))

  /** TPC-H Q1-shaped pricing summary (SURVEY §2.4 A1 grouped multi-agg;
    * cf. reference `Deliverable_4/load_to_gold_layer.py:55-64`). */
  private def pricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        count(lit(1)).as("count_order"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.1/2.2 scans, projections, filters ----
    "q_scan_filter" -> ((s, d) =>
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-07-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
          col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))),

    "q_sentinel_repair" -> ((s, d) =>
      Relational.repairSentinel("value", col("value") < 1.0,
        get_json_object(col("props"), "$.k").cast("double"))(t(s, d, "events"))
        .select(col("event_id"), col("value").as("value_repaired"))),

    "q_null_profile" -> ((s, d) =>
      Relational.nullProfile(t(s, d, "orders"))),

    // ---- §2.4 aggregations ----
    "q_pricing_summary" -> ((s, d) => pricingSummary(t(s, d, "lineitem"))),

    "q_stats_profile" -> ((s, d) =>
      Aggregates.statsProfile(Seq("l_returnflag"),
        Seq("l_quantity", "l_extendedprice"), 2)(t(s, d, "lineitem"))),

    "q_month_agg" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))),

    "q_time_bucket" -> ((s, d) =>
      Aggregates.timeBucketAgg("ts", "10 minutes", Seq("event_type"),
        Seq(round(avg(col("value")), 4).as("avg_value"),
          count(lit(1)).as("n_events")))(t(s, d, "events"))
        .withColumn("window_start",
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss"))),

    "q_sliding_window" -> ((s, d) =>
      // T2 extension: 10-min windows sliding every 5 min (overlap 2)
      graft.streaming.StreamOps.slidingWindowAgg("ts", "10 minutes",
        "5 minutes", Seq("event_type"),
        Seq(count(lit(1)).as("n_events"),
          round(avg(col("value")), 4).as("avg_value")))(t(s, d, "events"))
        .withColumn("window_start",
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss"))),

    "q_session_window" -> ((s, d) =>
      // T2 extension: 30-min-gap activity sessions per user
      graft.streaming.StreamOps.sessionAgg("ts", "30 minutes",
        Seq("user_id"), Seq(count(lit(1)).as("n_events")))(t(s, d, "events"))
        .select(col("user_id"), col("n_events"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss")
            .as("session_start"))),

    "q_corr_pearson" -> ((s, d) =>
      Aggregates.pearson(Seq("l_returnflag"), "l_quantity",
        "l_extendedprice", 6)(t(s, d, "lineitem"))),

    "q_corr_matrix" -> ((s, d) =>
      Aggregates.corrMatrix(
        Seq("l_quantity", "l_extendedprice", "l_discount"))(
        t(s, d, "lineitem"))),

    "q_spearman" -> ((s, d) =>
      // size-gated: min-rank (oracle-reproducible) at this scale,
      // distributed ml.stat ranking beyond 1M rows
      Aggregates.spearman("l_quantity", "l_extendedprice", 6)(
        t(s, d, "lineitem"))),

    "q_rmse" -> ((s, d) =>
      Aggregates.rmse(Seq("event_type"), "value", "pred", 4)(
        t(s, d, "events").withColumn("pred",
          get_json_object(col("props"), "$.k").cast("double")))),

    "q_percentiles" -> ((s, d) =>
      Aggregates.percentiles(Seq("l_returnflag"), "l_extendedprice",
        Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75", 0.95 -> "p95"))(
        t(s, d, "lineitem"))),

    "q_approx_percentiles" -> ((s, d) => {
      // rows-only + in-row gate: the 100 TB sketch twin of
      // q_percentiles (approx_percentile values are engine-specific,
      // so no DuckDB hash oracle) — but the sketch's DOCUMENTED
      // guarantee (rank error <= N/accuracy) is verified in the row
      // itself: each approx value's true rank interval [rank_lt,
      // rank_le] must cover p*N within max_rank_err = N/accuracy + 1.
      // A degraded sketch drops rows (12 -> fewer), which the driver's
      // rows check pins. One extra pass over the group to rank the 12
      // approx values (broadcast), gate-only duty at this scale.
      val acc = 10000
      // r15: fan out — the per-row QuantileSummaries inserts at
      // accuracy 10000 ran as one task behind the single-row-group
      // scan (measured: 984 + 481 ms serialized passes)
      val li = Skew.fanOut(t(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice")))
      val approx = Aggregates.percentiles(
        Seq("l_returnflag"), "l_extendedprice",
        Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75", 0.95 -> "p95"),
        exact = false, accuracy = acc)(li)
      val melted = approx.select(col("l_returnflag"), expr(
        "stack(4, 'p25', 0.25D, p25, 'p50', 0.50D, p50, " +
          "'p75', 0.75D, p75, 'p95', 0.95D, p95) AS (pname, p, approx_value)"))
      li.join(broadcast(melted), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"), col("pname"), col("p"),
          col("approx_value"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_extendedprice") < col("approx_value"), 1L)
            .otherwise(0L)).as("rank_lt"),
          sum(when(col("l_extendedprice") <= col("approx_value"), 1L)
            .otherwise(0L)).as("rank_le"))
        .withColumn("max_rank_err",
          col("n").cast("double") / acc + lit(1.0))
        .withColumn("pass",
          col("rank_lt").cast("double") - col("max_rank_err") <=
            col("p") * col("n") &&
          col("p") * col("n") <=
            col("rank_le").cast("double") + col("max_rank_err"))
        .filter(col("pass"))
        .orderBy(col("l_returnflag"), col("pname"))
    }),

    "q_count_distinct" -> ((s, d) =>
      t(s, d, "events").groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))),

    "q_approx_distinct" -> ((s, d) =>
      // HLL++ sketch path for billion-key cardinalities (no oracle:
      // sketch estimates differ across engines by construction) with
      // the error bound pinned IN-ROW: the exact count rides alongside
      // (gate-only duty — at 100 TB you run the sketch alone) and each
      // group's rel_err must stay within max_rel_err = 0.05 (2.5x the
      // 0.02 rsd). A drifting sketch drops rows (5 -> fewer), which
      // the driver's rows check catches.
      t(s, d, "events").groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("n_users_approx"),
          countDistinct(col("user_id")).as("n_users_exact"))
        .withColumn("rel_err",
          round(abs(col("n_users_approx") - col("n_users_exact"))
            .cast("double") / col("n_users_exact"), 6))
        .withColumn("max_rel_err", lit(0.05))
        .withColumn("pass", col("rel_err") <= col("max_rel_err"))
        .filter(col("pass"))),

    "q_top_event_per_type" -> ((s, d) => {
      // A10 idxmax: the event holding the max value per type,
      // deterministic under value ties via event_id ordering
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id"))
      t(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("event_type", "event_id", "user_id", "value")
    }),

    // ---- §2.4 A7 deduplication ----
    "q_dedup_exact" -> ((s, d) =>
      Relational.dedupExact(Seq("user_id", "event_type"))(t(s, d, "events"))),

    "q_dedup_keyed" -> ((s, d) =>
      Relational.dedupKeyed(Seq("user_id"), Seq(col("ts"), col("event_id")))(
        t(s, d, "events"))
        .select(col("user_id"), col("event_id").as("first_event_id"),
          col("value"))),

    // ---- §2.3 joins ----
    "q_asof_join" -> ((s, d) => {
      // engine extension: as-of join via the union-timeline construction
      // (one shuffle), oracle'd against DuckDB's native ASOF JOIN
      val right = t(s, d, "orders")
        .groupBy(col("o_custkey").as("user_id"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("last_order_key"))
      val left = t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.operators.Joins.asOfJoin(left, right, Seq("user_id"),
        "ts", "o_orderdate")
        .select("event_id", "user_id", "last_order_key")
    }),

    "q_join_region_revenue" -> ((s, d) =>
      t(s, d, "orders")
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))),

    "q_bloom_prune_revenue" -> ((s, d) => {
      // revenue for one brand's parts, with the fact side bloom-pruned
      // on the join key BEFORE the join (etl/Layout.bloomPrune). The
      // bloom filter is a superset filter, so results equal the plain
      // join — which is exactly what the oracle runs.
      val p = t(s, d, "part").filter(col("p_brand") === "Brand#13")
      val li = graft.etl.Layout.bloomPrune(
        t(s, d, "lineitem"), col("l_partkey"), p, col("p_partkey"),
        expectedItems = 10000L)
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_type"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    "q_local_supplier_revenue" -> ((s, d) => {
      // TPC-H Q5 shape: revenue by nation where customer and supplier
      // share the nation, one region, one order-date year
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val su = t(s, d, "supplier")
      val n = t(s, d, "nation"); val r = t(s, d, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA" &&
          col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
    }),

    "q_shipping_priority" -> ((s, d) => {
      // TPC-H Q3 shape: top unshipped orders by potential revenue
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer")
      Relational.topK(10, Seq(col("revenue").desc),
        Seq(col("o_orderkey")))(
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .filter(col("c_mktsegment") === "BUILDING" &&
            col("o_orderdate") < lit("1995-06-01").cast("timestamp") &&
            col("l_shipdate") > lit("1995-06-01").cast("timestamp"))
          .groupBy(col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
            col("o_orderpriority"))
          .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue")))
    }),

    "q_rollup_revenue" -> ((s, d) =>
      // multi-level subtotals in ONE Expand+agg pass (status, year,
      // grand total), grouping_id disambiguates subtotal rows
      Aggregates.rollupAgg(Seq("o_orderstatus", "yr"),
        Seq(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue")))(
        t(s, d, "orders").select(col("o_orderstatus"),
          date_format(col("o_orderdate"), "yyyy").as("yr"),
          col("o_totalprice")))),

    "q_cube_daily" -> ((s, d) =>
      // all 2^2 grouping sets over (event_type, day) in one pass
      Aggregates.cubeAgg(Seq("event_type", "day"),
        Seq(count(lit(1)).as("n_events"),
          round(avg(col("value")), 4).as("avg_value")))(
        t(s, d, "events").select(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"), col("value")))),

    "q_pivot_daily" -> ((s, d) =>
      // long-to-wide reshape: one column per event type, single-pass
      // conditional aggregates (explicit value list — no distinct job)
      Aggregates.pivotAgg(Seq("day"), "event_type",
        Seq("click", "error", "purchase", "signup", "view"),
        round(avg(col("value")), 4))(
        t(s, d, "events").select(
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("value")))),

    "q_set_ops" -> ((s, d) => {
      // §2.7 completion: (user, day) pairs that clicked AND viewed but
      // never errored — intersect/except as semi/anti hash joins
      val e = t(s, d, "events")
      def ud(tp: String) = e.filter(col("event_type") === tp)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      Relational.exceptDistinct(
        Relational.intersectDistinct(ud("click"), ud("view")), ud("error"))
    }),

    "q_range_join" -> ((s, d) => {
      // interval containment: clicks within 1h after an error by the
      // same user, aggregated per error event
      val e = t(s, d, "events")
      val errors = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"),
          col("ts").as("lo"), (col("ts") + expr("INTERVAL 1 HOUR")).as("hi"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"))
      graft.operators.Joins.rangeJoin(clicks, errors, Seq("user_id"),
        "ts", "lo", "hi")
        .groupBy(col("err_id")).agg(count(lit(1)).as("n_clicks"))
    }),

    "q_grid_fill" -> ((s, d) => {
      val events = t(s, d, "events")
      val days = events.select(to_date(col("ts")).as("day")).distinct()
      val types = events.select(col("event_type")).distinct()
      val agg = events.groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      Relational.gridFill(days, types, agg, Seq("day", "event_type"),
        Map("n_events" -> lit(0L)))
    }),

    "q_salted_join" -> ((s, d) => {
      // skew-salted equi-join: events.event_type is low-cardinality
      // (every key is "hot"), the exact shape salting exists for; the
      // oracle is the PLAIN join — salting must be invisible in the
      // output
      val e = t(s, d, "events")
      val dim = e.groupBy("event_type")
        .agg(round(avg(col("value")), 6).as("type_avg"))
      graft.operators.Joins.saltedJoin(
          e.select("event_id", "event_type"), dim,
          Seq("event_type"), salts = 8)
        .select("event_id", "event_type", "type_avg")
    }),

    "q_full_outer_coalesce" -> ((s, d) => {
      val events = t(s, d, "events")
      def side(tp: String, out: String) = events
        .filter(col("event_type") === tp)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(round(avg(col("value")), 4).as(out))
      Relational.fullOuterCoalesce(
        side("click", "click_avg"), side("view", "view_avg"), Seq("day"),
        Map("either_avg" -> ("click_avg", "view_avg")))
    }),

    // ---- §2.6 top-k / §2.7 union ----
    "q_topk_customers" -> ((s, d) =>
      Relational.topK(10, Seq(col("revenue").desc), Seq(col("o_custkey")))(
        t(s, d, "orders").groupBy(col("o_custkey"))
          .agg(round(sum(col("o_totalprice")), 2).as("revenue")))),

    "q_union" -> ((s, d) => {
      val o = t(s, d, "orders")
      Relational.unionAll(Seq(
        o.filter(col("o_orderstatus") === "O"),
        o.filter(col("o_orderstatus") === "F")))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    }),

    // ---- §2.5 window functions ----
    "q_window_lead" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, d, "events").select(col("user_id"), col("event_id"), col("value"),
        lead(col("value"), 1).over(w).as("next_value"))
    }),

    "q_time_shift" -> ((s, d) =>
      // W3: plain projection offset shift (plot/label alignment —
      // reference shifts event_time by -10 minutes); no window frame
      t(s, d, "events").select(col("event_id"),
        date_format(col("ts") - expr("INTERVAL 10 MINUTES"),
          "yyyy-MM-dd HH:mm:ss").as("ts_shifted"))),

    "q_interpolate" -> ((s, d) =>
      // W2: nulls injected on 'error' events, linearly interpolated per
      // user over event_id order. Rows-only check (window-composite op;
      // see InterpolateSpec for the unit oracle).
      Relational.interpolateLinear(Seq("user_id"), "event_id", "value")(
        t(s, d, "events").withColumn("value",
          when(col("event_type") === "error", lit(null)).otherwise(col("value"))))
        .select(col("user_id"), col("event_id"),
          round(col("value"), 6).as("value_interp"))),

    // ---- §2.8 explode / text ----
    "q_word_count" -> ((s, d) =>
      Relational.topK(20, Seq(col("n").desc), Seq(col("word")))(
        t(s, d, "documents")
          .select(explode(Text.tokens(col("text"))).as("word"))
          .groupBy("word").agg(count(lit(1)).as("n")))),

    "q_top_ngrams" -> ((s, d) =>
      // corpus-wide frequent-phrase profile (boilerplate discovery —
      // "subscribe to our newsletter" hunting): explode 3-gram
      // shingles, count, top-k. Partial aggregation halves the
      // shuffle and TakeOrderedAndProject keeps the sort k-bounded —
      // already the 100 TB plan, no custom operator needed
      Relational.topK(20, Seq(col("n").desc), Seq(col("gram")))(
        t(s, d, "documents")
          // token array staged in its own projection — the lambda-CSE
          // pitfall (Text.shinglesFromTokens doc): inlining the split
          // re-runs the regex once per emitted window (measured 2.5x
          // on this query)
          .select(split(lower(Text.normWs(col("text"))), " ").as("__toks"))
          .select(explode(
            Text.shinglesAllFromTokens(col("__toks"), 3)).as("gram"))
          .groupBy("gram").agg(count(lit(1)).as("n")))),

    "q_unigram_fertility" -> ((s, d) => {
      // rows-only: SentencePiece-style unigram-LM tokenizer trained on
      // the corpus word table (Viterbi-EM), then fertility per doc —
      // the probabilistic sibling of q_bpe_fertility
      val docs = t(s, d, "documents")
      val vocab = graft.llm.Unigram.train(docs, "text",
        vocabSize = 1500, iters = 3, maxPieceLen = 6, seedSize = 8000)
      graft.llm.Unigram.encodeDocs(docs, "doc_id", "text", vocab)
    }),

    "q_unigram_train_gate" -> ((s, d) => {
      // hard-EM invariant stamped into a graded row: the freq-weighted
      // best-segmentation log-likelihood must be monotone
      // non-decreasing across EM iterations (the Viterbi-EM guarantee
      // — a regression here means the E/M steps disagree about the
      // model). 0 rows = the gate failed
      val (_, obj) = graft.llm.Unigram.trainWithObjective(
        t(s, d, "documents"), "text", vocabSize = 1500, iters = 3,
        maxPieceLen = 6, seedSize = 8000)
      val monotone = obj.sliding(2).forall {
        case Seq(a, b) => b >= a - 1e-6
        case _ => true
      }
      import s.implicits._
      Seq((obj.size.toLong,
        math.rint(obj.head * 1e4) / 1e4, math.rint(obj.last * 1e4) / 1e4,
        monotone, monotone))
        .toDF("n_iters", "first_objective", "last_objective",
          "monotone", "pass")
        .filter(col("pass"))
    }),

    "q_freq_tokens_gate" -> ((s, d) => {
      // zero-miss gate for the one-pass heavy-hitters sketch: every
      // token with frequency > support*N must surface (the
      // Misra-Gries superset guarantee — false positives allowed,
      // misses never), floor stamped in-row. O(1/support) memory per
      // partition vs the exact profile's full distinct-count shuffle
      val support = 0.02
      val toks = t(s, d, "documents")
        .select(explode(Text.tokens(lower(col("text")))).as("item"))
        .filter(length(col("item")) > 0)
      val approx = graft.operators.Aggregates
        .frequentItems(toks, "item", support)
        .withColumn("__hit", lit(1))
      val exact = toks.groupBy("item").agg(count(lit(1)).as("c"))
        .crossJoin(broadcast(toks.agg(count(lit(1)).as("tot"))))
        .filter(col("c") > lit(support) * col("tot")).select("item")
      graft.llm.Recall.gated(
        exact.join(approx, Seq("item"), "left")
          .agg(count(lit(1)).as("n_exact"),
            sum(coalesce(col("__hit"), lit(0))).as("n_hit"),
            round(sum(coalesce(col("__hit"), lit(0))).cast("double") /
              count(lit(1)), 6).as("recall")),
        "recall" -> 1.0).filter(col("pass"))
    }),

    // ---- llm/: dedup family ----
    "q_doc_fingerprint" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fingerprint"))),

    "q_dedup_docs" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents"), "doc_id", "text")),

    "q_dedup_survivor" -> ((s, d) =>
      // golden-record dedup: per duplicate cluster keep the highest-
      // quality copy (ties to smallest id) — one struct-min_by hash
      // aggregate, same cost as q_dedup_docs' smallest-id policy
      Dedup.survivorship(t(s, d, "documents"), "doc_id", "text",
        graft.functions.Text.qualityScore(col("text")))),

    "q_bfs_hops" -> ((s, d) =>
      // blast radius: hop distance of every part from the Brand#13
      // seed set in the urgent co-purchase graph (<= 3 hops) —
      // frontier BFS, early-exit == fixed-round unrolled oracle
      graft.operators.Graph.bfsHops(
        urgentCopurchasePairs(s, d),
        t(s, d, "part").filter(col("p_brand") === "Brand#13")
          .select(col("p_partkey").as("id")), 3)),

    "q_soft_dedup" -> ((s, d) =>
      // duplicate-aware soft reweighting: every copy kept, weight
      // 1/cluster_size so each duplicate cluster contributes exactly
      // one document's worth of gradient
      Dedup.softDedupWeights(t(s, d, "documents"), "doc_id", "text")),

    "q_minhash_clusters" -> ((s, d) =>
      Dedup.minhashClusters(t(s, d, "documents"), "doc_id", "text")),

    "q_dedup_corpus" -> ((s, d) =>
      // rows-only: the minhash near-dup stage removes the corpus's
      // planted near-duplicates (verified exact-jaccard 0.96-0.99),
      // which no ANSI oracle can express
      Dedup.dedupCorpus(t(s, d, "documents"), "doc_id", "text")
        .select(col("doc_id"))),

    "q_corpus_e2e" -> ((s, d) => {
      // the ingest a real corpus run executes, graded as ONE plan
      // (r12): bronze HTML -> html_to_text kernel -> quality gates ->
      // corpus dedup (exact + minhash) -> sequence packing. Oracle-
      // free: the single output row carries per-stage counts with
      // conservation gates pinned in-row — a degradation at ANY stage
      // drops the row. Two documented seams (localCheckpoint): the
      // gated corpus feeds dedup's multi-branch plan, and the dedup
      // survivors feed both packing and their count; everything else
      // stays one lazy plan (the n_text branch re-derives a MAP-ONLY
      // projection — free of shuffles by construction).
      import graft.functions.Text
      def san(c: Column) = regexp_replace(c, "[<>&\\r\\u00A0]", " ")
      val docs = t(s, d, "documents")
      val html = concat(
        lit("<html><head><title>d</title></head><body><h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1><p>"), san(col("text")),
        lit("</p><div>source: "), san(col("source")),
        lit("</div></body></html>"))
      // r15: fan the bronze rows out before the extraction kernel —
      // the single-row-group scan otherwise serializes the whole
      // html_to_text + quality chain (measured: a 1.3 s one-task job)
      val bronze = Skew.fanOut(docs.select(col("doc_id"), html.as("html")),
        Seq(col("doc_id")))
      // r15: ONE kernel pass — extraction AND both quality kernels
      // land in the same checkpointed projection, so html_to_text no
      // longer re-runs for the n_text conservation count (the old
      // "free by construction" map-only re-derivation re-paid the
      // whole kernel chain), and the gate filter becomes a cheap
      // re-read of the checkpoint. Same single corpus-sized seam as
      // before, kernels run once instead of twice.
      val scored = bronze.select(col("doc_id"),
          graft.plans.HtmlTextExpr.htmlToText(col("html")).as("text"))
        .filter(length(col("text")) > 0)
        .withColumn("quality", Text.qualityScore(col("text")))
        .withColumn("rep_ratio", Text.repetitionRatio(col("text")))
        .localCheckpoint(true)
      val text = scored.select(col("doc_id"), col("text"))
      val gated = scored
        .filter(col("quality") >= 0.2 && col("rep_ratio") <= 0.9)
      val survivors = graft.llm.Dedup
        .dedupCorpus(gated, "doc_id", "text", 3)
        .localCheckpoint(true)
      val packed = graft.llm.Packing.contiguousPacks(
        survivors.select(col("doc_id"),
          Text.tokenCount(col("text")).as("n_tokens")),
        "n_tokens", 2048L, Seq(col("doc_id")), None)
      broadcast(docs.agg(count(lit(1)).as("n_docs")))
        .crossJoin(broadcast(text.agg(count(lit(1)).as("n_text"))))
        .crossJoin(broadcast(gated.agg(count(lit(1)).as("n_gated"))))
        .crossJoin(broadcast(survivors.agg(
          count(lit(1)).as("n_unique"))))
        .crossJoin(broadcast(packed.agg(
          count(lit(1)).as("n_packed_docs"),
          countDistinct(col("pack_id")).as("n_packs"),
          sum(col("n_tokens")).cast("long").as("n_tokens"))))
        .withColumn("pass",
          // extraction drops nothing on the wrapped corpus; gates only
          // narrow; dedup strictly removes the planted duplicates
          // (dup texts share quality scores, so they reach dedup
          // together); packing conserves survivors and respects the
          // 2048-token capacity lower bound
          col("n_text") === col("n_docs") &&
          col("n_gated") > 0 && col("n_gated") <= col("n_text") &&
          col("n_unique") > 0 && col("n_unique") < col("n_gated") &&
          col("n_packed_docs") === col("n_unique") &&
          col("n_packs") >= ceil(col("n_tokens") / lit(2048.0)) &&
          col("n_packs") <= col("n_packed_docs"))
        .select(col("n_docs"), col("n_text"), col("n_gated"),
          col("n_unique"), col("n_packs"), col("n_tokens"), col("pass"))
        .filter(col("pass"))
    }),

    "q_near_dup_pairs" -> ((s, d) =>
      // exact near-dup detection at jaccard>=0.8 — finds the corpus's
      // planted near-duplicates, oracle-checked
      Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text", 3, 0.8)),

    "q_similarity_join" -> ((s, d) =>
      // the PPJoin prefix-filtered path to the SAME exact answer:
      // candidates come only from each doc's rarest-first prefix
      // shingles (n - ceil(t*n) + 1 of them), then exact-verified —
      // output is row-for-row equal to ngramJaccardPairs, so the
      // all-pairs oracle verifies the prefix filter for free. This is
      // the exact-jaccard shape that survives 100 TB at high t.
      Dedup.similarityJoin(t(s, d, "documents"), "doc_id", "text", 3, 0.8)),

    "q_dup_components" -> ((s, d) => {
      // transitive closure of the EXACT jaccard>=0.8 pair graph:
      // duplicate GROUPS, not just pairs — chains (A~B, B~C, no A~C)
      // land in one component; oracle = recursive CTE over the same
      // edge set
      val docs = t(s, d, "documents")
      graft.operators.Graph.connectedComponents(
        docs.select(col("doc_id").as("id")),
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
          .select(col("id_a"), col("id_b")))
        .withColumnRenamed("id", "doc_id")
    }),

    "q_leakage_split" -> ((s, d) =>
      // leakage-safe train/val/test: near-dups (exact jaccard>=0.8,
      // transitively closed) always share a bucket — the md5 split key
      // is the component, not the doc
      Dedup.leakageSafeSplit(t(s, d, "documents"), "doc_id", "text", 10)),

    "q_embedding_near_dups" -> ((s, d) =>
      // rows-only: banded hyperplane-LSH pairs at cosine>=0.35 (the
      // hash bucketing is not expressible in the oracle engine).
      // 16 bands x 4 bits: recall-tuned for this low threshold — see
      // q_embedding_band_recall for the measured recall vs the exact
      // all-pairs ground truth
      Dedup.embeddingNearDups(t(s, d, "embeddings"), "vec_id", "embedding",
        minCosine = 0.35, bands = 16, bitsPerBand = 4)),

    "q_simhash" -> ((s, d) =>
      Dedup.simhashFrame(t(s, d, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")),

    "q_winnowed_overlap" -> ((s, d) =>
      // rows-only: MOSS winnowing partial-overlap pairs (xxhash64-based
      // fingerprints not expressible in the oracle engine)
      Dedup.winnowedOverlapPairs(t(s, d, "documents"), "doc_id", "text",
        k = 24, w = 12, minShared = 3)),

    "q_simhash_near_dups" -> ((s, d) =>
      // rows-only: pigeonhole-banded hamming<=6 pairs over simhash
      // (xxhash64-based signature not expressible in the oracle engine)
      Dedup.simhashNearDups(t(s, d, "documents"), "doc_id", "text",
        maxHamming = 6)),

    "q_ngram_jaccard_top" -> ((s, d) =>
      Relational.topK(10, Seq(col("jaccard").desc),
        Seq(col("id_a"), col("id_b")))(
        Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text", 3))),

    // ---- llm/: text analysis ----
    "q_token_stats" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        Text.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).as("n_chars_raw"))),

    "q_quality_score" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        round(Text.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        round(Text.punctRatio(col("text")), 6).as("punct_ratio"),
        round(Text.meanTokenLen(col("text")), 6).as("mean_token_len"),
        Text.qualityScore(col("text")).as("quality"))),

    "q_gopher_quality" -> ((s, d) => {
      // Gopher A1 document quality rules (Rae et al. 2021): word-count
      // and mean-word-length bounds, >=80% alpha words, hash/ellipsis
      // symbol ratios <=0.1, and >=2 of the 8 canonical English
      // stopwords present — composed into a keep flag. All codegen
      // built-ins + one kernel slot; map-only at any scale
      val nWords = Text.tokenCount(col("text"))
      val mwl = Text.meanTokenLen(col("text"))
      val alphaF = Text.gopherRepetition(col("text"))
        .getItem(graft.plans.RepetitionStatsUtil.WIDTH - 1)
      val hashN = regexp_count(col("text"), lit("#"))
      val ellipsisN = regexp_count(col("text"), lit("\\.\\.\\.")) +
        regexp_count(col("text"), lit("…"))
      val safeRatio = (c: org.apache.spark.sql.Column) =>
        when(nWords === 0, lit(0.0))
          .otherwise(round(c.cast("double") / nWords, 6))
      val stopHits = size(array_intersect(
        array_distinct(Text.tokens(lower(col("text")))),
        array(Seq("the", "be", "to", "of", "and", "that", "have",
          "with").map(lit(_)): _*)))
      val keep = (nWords >= 50) && (nWords <= 100000) &&
        (mwl >= 3.0) && (mwl <= 10.0) && (alphaF >= 0.8) &&
        (safeRatio(hashN) <= 0.1) && (safeRatio(ellipsisN) <= 0.1) &&
        (stopHits >= 2)
      t(s, d, "documents").select(col("doc_id"),
        nWords.as("n_words"),
        round(mwl, 6).as("mean_word_len"),
        round(alphaF, 6).as("alpha_frac"),
        safeRatio(hashN).as("hash_ratio"),
        safeRatio(ellipsisN).as("ellipsis_ratio"),
        stopHits.as("stop_hits"),
        // the two rules the fixture actually crosses in both
        // directions (n_words spans 10..99 over the 50 bound;
        // stop_hits spans 0..3+), so the flag logic is exercised even
        // though the full conjunction rejects every synthetic doc
        (nWords >= 50).cast("int").as("r_words"),
        (stopHits >= 2).cast("int").as("r_stop"),
        keep.cast("int").as("keep"))
    }),

    "q_lang_id" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"), Text.languageId(col("text")).as("lang_pred"))),

    "q_lang_mismatch" -> ((s, d) =>
      // label-noise audit: docs whose declared language disagrees with
      // the n-gram language-id prediction (und = no evidence, skipped)
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          Text.languageId(col("text")).as("lang_pred"))
        .filter(col("lang_pred") =!= col("lang") &&
          col("lang_pred") =!= "und")),

    "q_vocab_stats" -> ((s, d) => {
      // corpus vocabulary profile: Zipf-style one-row summary (vocab
      // growth + hapax share are the standard tokenizer-sizing inputs)
      val freq = t(s, d, "documents")
        .select(explode(Text.tokens(lower(col("text")))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("c"))
      freq.agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("vocab_size"),
        round(count(lit(1)).cast("double") / sum(col("c")), 6)
          .as("type_token_ratio"),
        round(sum(when(col("c") === 1, 1).otherwise(0)).cast("double") /
          count(lit(1)), 6).as("hapax_share"),
        round(max(col("c")).cast("double") / sum(col("c")), 6)
          .as("top1_share"))
    }),

    "q_corpus_report" -> ((s, d) => {
      // dataset-card summary: one pass over the corpus (count/sum/
      // distincts/mean quality/exact median tokens in a single agg)
      val base = t(s, d, "documents").select(
        Text.tokenCount(col("text")).cast("long").as("n_toks"),
        Text.qualityScore(col("text")).as("q"),
        col("lang"), col("source"))
      base.agg(
        count(lit(1)).as("n_docs"),
        sum("n_toks").as("n_tokens"),
        count_distinct(col("lang")).as("n_langs"),
        count_distinct(col("source")).as("n_sources"),
        round(avg(col("q")), 6).as("mean_quality"),
        round(expr("percentile(n_toks, 0.5)"), 1).as("median_tokens"))
    }),

    "q_temperature_resample" -> ((s, d) =>
      // corpus mixing: p^0.3 temperature resampling over sources to a
      // ~50% target, md5-key-deterministic accept (oracle reproduces
      // the exact kept set)
      graft.llm.Mixing.temperatureResample(t(s, d, "documents"),
          "source", col("doc_id"), 0.3, 0.5)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          round(first(col("accept_rate")), 6).as("accept_rate"))),

    "q_js_divergence" -> ((s, d) => {
      // corpus drift: Jensen-Shannon divergence between the unigram
      // distributions of the en and zh slices
      val docs = t(s, d, "documents")
      graft.llm.Mixing.jsDivergence(docs.filter(col("lang") === "en"),
        docs.filter(col("lang") === "zh"), "text")
    }),

    "q_oov_rate" -> ((s, d) =>
      // tokenizer-vocabulary coverage: OOV token rate per language
      // against the corpus-global top-15 vocab
      graft.llm.Mixing.oovRate(t(s, d, "documents"), "text", "lang", 15)),

    "q_epoch_plan" -> ((s, d) =>
      // data-mixture card: per-source epoch multipliers to hit a 100k
      // token target with p^0.3-tempered shares (>1 = repeat data)
      graft.llm.Mixing.epochPlan(t(s, d, "documents"),
        "source", "text", 0.3, 100000L)),

    "q_quality_percentile" -> ((s, d) =>
      // per-domain adaptive quality bar: each source keeps its own top
      // 50% by quality (parallel partitioned windows)
      graft.llm.Mixing.qualityPercentileFilter(
        t(s, d, "documents"), "text", "doc_id", "source", 0.5)),

    "q_shuffle_shards" -> ((s, d) =>
      // deterministic sharded training-order shuffle: salted-md5 shard
      // + per-shard position; parallel per-shard windows, no global
      // sort (oracle reproduces shard and position exactly)
      graft.llm.Mixing.shuffleShards(
          t(s, d, "documents").select("doc_id"), col("doc_id"), 8)),

    "q_token_budget" -> ((s, d) =>
      // best-tokens corpus assembly: highest-quality docs whose token
      // counts fit a 10k budget (two-phase histogram plan; oracle is
      // the naive ordered-window form)
      graft.llm.Mixing.tokenBudgetSelect(t(s, d, "documents"),
        "text", "doc_id", 10000L)),

    "q_unigram_logprob" -> ((s, d) =>
      // unigram-LM quality scoring fitted on the corpus itself
      graft.llm.LanguageModel.unigramScore(t(s, d, "documents"),
        "doc_id", "text")),

    "q_bigram_logprob" -> ((s, d) =>
      // interpolated bigram LM (Jelinek-Mercer) over the corpus
      graft.llm.LanguageModel.bigramScore(t(s, d, "documents"),
        "doc_id", "text")),

    "q_kneser_ney" -> ((s, d) =>
      // interpolated Kneser-Ney bigram LM (absolute discount +
      // continuation-count back-off) over the corpus
      graft.llm.LanguageModel.kneserNeyBigramScore(t(s, d, "documents"),
        "doc_id", "text")),

    "q_token_repetition" -> ((s, d) =>
      // Gopher/RefinedWeb-style intra-doc repetition quality signal
      t(s, d, "documents").select(col("doc_id"),
        Text.tokenCount(col("text")).as("n_tokens"),
        size(array_distinct(Text.tokens(col("text")))).as("n_distinct"),
        Text.repetitionRatio(col("text")).as("rep_ratio"))),

    "q_gopher_repetition" -> ((s, d) => {
      // Gopher A1.1 n-gram repetition signals (top-{2,3,4}-gram char
      // mass, duplicate-{5..10}-gram char COVERAGE — union of
      // occurrence intervals, overlaps never double-count — plus the
      // alpha-word fraction), one map-only kernel scan per doc. The
      // fixture text has no repeated 5-grams, so a deterministic
      // subset is augmented with self-repetition (full doubling and a
      // partial first-80-chars echo) to exercise the coverage path;
      // the oracle applies the identical CASE
      val aug = when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" "), col("text")))
        .when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" "), substring(col("text"), 1, 80)))
        .otherwise(col("text"))
      val r = Text.gopherRepetition(aug)
      val names = Seq("top2_frac", "top3_frac", "top4_frac",
        "dup5_frac", "dup6_frac", "dup7_frac", "dup8_frac", "dup9_frac",
        "dup10_frac", "alpha_frac")
      t(s, d, "documents").select(
        col("doc_id") +: names.zipWithIndex.map { case (nm, ix) =>
          round(r.getItem(ix), 6).as(nm) }: _*)
    }),

    "q_decontaminate" -> ((s, d) => {
      // train/test n-gram decontamination: docs < 50 are the "held-out
      // set", the rest the training corpus
      val docs = t(s, d, "documents")
      Dedup.contamination(docs.filter(col("doc_id") < 50),
        docs.filter(col("doc_id") >= 50), "doc_id", "text", 3)
    }),

    "q_term_proximity" -> ((s, d) =>
      // min token distance between two query terms per doc — the
      // proximity signal bag-of-words BM25 cannot see
      graft.llm.Relevance.termProximity(t(s, d, "documents"),
        "doc_id", "text", "vector", "join")),

    "q_nfc_normalize" -> ((s, d) =>
      // unicode canonicalization ahead of fingerprint/shingle dedup
      // (native codegen kernel; composed/decomposed parity is proven in
      // TextStatsSpec — the synthetic corpus is ASCII so the oracle
      // checks the identity path through both engines)
      t(s, d, "documents").select(col("doc_id"),
        graft.plans.UnicodeNormExpr.nfcNormalize(col("text"))
          .as("norm_text"))),

    "q_rrf_fuse" -> ((s, d) => {
      // reciprocal-rank fusion of BM25 relevance with the quality
      // ranking: "relevant AND well-formed" doc selection; ranks are on
      // rounded scores with id tiebreaks so both engines agree exactly
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val bmRank = graft.llm.Relevance.bm25(docs, "doc_id", "text",
          Seq("vector", "join", "stream"))
        .select(col("doc_id").as("id"), row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))).as("rank"))
      val qRank = docs
        .select(col("doc_id"), Text.qualityScore(col("text")).as("q"))
        .select(col("doc_id").as("id"), row_number().over(
          Window.orderBy(col("q").desc, col("doc_id"))).as("rank"))
      graft.llm.Relevance.rrfFuse(Seq(bmRank, qRank), k = 60, topN = 50)
        .withColumnRenamed("id", "doc_id")
    }),

    "q_decontaminate_spans" -> ((s, d) => {
      // surgical 13-gram decontamination: test-set windows excised from
      // train docs (vs q_decontaminate, which only scores)
      val docs = t(s, d, "documents")
      Dedup.decontaminateSpans(docs.filter(col("doc_id") >= 50),
        docs.filter(col("doc_id") < 50), "doc_id", "text", 13)
        .withColumnRenamed("id", "doc_id")
    }),

    "q_tfidf_top_terms" -> ((s, d) =>
      // smoothed TF-IDF keyword extraction, top-3 per doc, ranked on
      // the rounded score for cross-engine determinism
      graft.llm.Relevance.tfidfTopTerms(t(s, d, "documents"),
        "doc_id", "text", 3)),

    "q_bm25" -> ((s, d) =>
      // BM25 ranked retrieval for a bag-of-terms query; corpus stats
      // (df, dl, avgdl, N) fitted on the full documents table
      graft.llm.Relevance.bm25(t(s, d, "documents"), "doc_id", "text",
        Seq("vector", "join", "stream"))),

    "q_ndcg" -> ((s, d) => {
      // retrieval eval closing the loop on q_bm25: graded NDCG@10 +
      // MRR of the BM25 ranking against quality-derived relevance
      // grades (2 / 1 / 0 at the 0.5 / 0.35 quality cuts)
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val ranked = graft.llm.Relevance.bm25(docs, "doc_id", "text",
          Seq("vector", "join", "stream"))
        .select(col("doc_id").as("id"), row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))).as("rank"))
      val q = graft.functions.Text.qualityScore(col("text"))
      val rels = docs.select(col("doc_id").as("id"),
        when(q >= 0.5, 2).when(q >= 0.35, 1).otherwise(0).as("rel"))
      graft.llm.Relevance.rankingMetrics(ranked, rels, 10)
    }),

    "q_char_entropy" -> ((s, d) =>
      // Shannon character entropy (nats) — spam/noise quality signal
      graft.llm.LanguageModel.charEntropy(t(s, d, "documents"),
        "doc_id", "text")),

    "q_pii_redact" -> ((s, d) => {
      // PII scrubbing: the corpus carries no natural PII, so a
      // deterministic contact line is appended per doc — the scrubber
      // and the oracle must then agree on every replacement
      val aug = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or 555-123-4567")).as("aug"))
      aug.select(col("doc_id"), Text.piiCount(col("aug")).as("n_pii"),
        Text.redactPii(col("aug")).as("redacted"))
    }),

    "q_bestfit_pack" -> ((s, d) => {
      // rows-only: best-fit-decreasing packing (bin state lives in a
      // Catalyst aggregate HOF — not ANSI-expressible); TextSpec gates
      // capacity + packs-used <= contiguous
      val docs = Relational.withHashSplit(
        t(s, d, "documents").select(col("doc_id"),
          Text.tokenCount(col("text")).as("n_tokens")),
        col("doc_id"), 10, "shard")
      graft.llm.Packing.bestFitPacks(docs, "doc_id", "n_tokens",
        2048L, "shard").withColumnRenamed("id", "doc_id")
    }),

    "q_pack_sequences" -> ((s, d) => {
      // sequence-packing assignment: 10 hash shards pack independently
      // (parallel windows), 2048-token context budget
      val docs = Relational.withHashSplit(
        t(s, d, "documents").select(col("doc_id"),
          Text.tokenCount(col("text")).as("n_tokens")),
        col("doc_id"), 10, "shard")
      graft.llm.Packing.contiguousPacks(docs, "n_tokens", 2048L,
        Seq(col("doc_id")), Some("shard"))
    }),

    "q_chunk_docs" -> ((s, d) =>
      // context-length chunking: 32-token windows, stride 24 (8-token
      // overlap) — map-only, no shuffle
      graft.llm.Packing.chunkDocuments(t(s, d, "documents"),
        "doc_id", "text", 32, 24)),

    // ---- llm/: line-level cleaning (C4-style) ----
    "q_line_doc_freq" -> ((s, d) =>
      graft.llm.Lines.lineDocFreq(multiLineDocs(s, d), "doc_id", "text")),

    "q_boilerplate_strip" -> ((s, d) =>
      // cross-doc boilerplate removal: lines occurring in >=2 distinct
      // docs stripped, documents reassembled in order
      graft.llm.Lines.stripBoilerplate(multiLineDocs(s, d), "doc_id",
        "text", 2).withColumnRenamed("id", "doc_id")),

    "q_c4_line_filter" -> ((s, d) =>
      // C4 §2.1 per-line heuristics: >=3 words and no blocklisted term
      // (map-only array HOF, no shuffle)
      graft.llm.Lines.c4LineFilter(multiLineDocs(s, d), "doc_id", "text",
        minWords = 3, requireTerminalPunct = false,
        blocklist = Seq("spark")).withColumnRenamed("id", "doc_id")),

    "q_ppl_bucket" -> ((s, d) =>
      // CCNet-style head/middle/tail perplexity buckets per language
      graft.llm.LanguageModel.pplBuckets(t(s, d, "documents"),
        "doc_id", "text", "lang")),

    "q_para_dedup" -> ((s, d) =>
      // keep-FIRST paragraph dedup (vs boilerplate strip's remove-ALL):
      // each distinct line survives once at its smallest (doc, pos)
      graft.llm.Lines.dedupParagraphs(multiLineDocs(s, d), "doc_id",
        "text", sep = "\n").withColumnRenamed("id", "doc_id")),

    // ---- llm/: substring-level dedup (Lee et al. 2022 shape) ----
    "q_repeated_spans" -> ((s, d) =>
      // maximal token spans whose 15-gram windows repeat corpus-wide
      Dedup.repeatedSpans(t(s, d, "documents"), "doc_id", "text", 15)
        .select(col("id").as("doc_id"), col("start_tok").cast("long"),
          col("end_tok").cast("long"), col("n_tokens").cast("long"))),

    "q_span_dedup" -> ((s, d) =>
      // remove duplicated spans keeping one occurrence corpus-wide
      Dedup.removeRepeatedSpans(t(s, d, "documents"), "doc_id", "text", 15)
        .withColumnRenamed("id", "doc_id")),

    // ---- llm/: tokenizer training (BPE) ----
    "q_bpe_pairs" -> ((s, d) =>
      // first-iteration adjacent-symbol pair counts over the distinct-
      // word table ("left"/"right" are SQL keywords — aliased)
      graft.llm.Bpe.pairCounts(graft.llm.Bpe.initSymbols(
        graft.llm.Bpe.wordFreq(t(s, d, "documents"), "text")))
        .select(col("left").as("lhs"), col("right").as("rhs"), col("cnt"))),

    "q_bpe_merges" -> ((s, d) =>
      // rows-only: 12 BPE merge iterations (iterative argmax+re-merge
      // not expressible in one SQL statement); deterministic tie-break
      // (count desc, pair asc); BpeSpec proves equality with a
      // reference implementation
      graft.llm.Bpe.mergesDf(t(s, d, "documents"), "text", 12)),

    "q_bpe_train_gate" -> ((s, d) => {
      // the vocabulary-scale CHUNKED trainer is size-gated OFF at sf
      // scale (tiny word tables route to the definitional recount), so
      // without this gate its plan would be invisible to the driver:
      // run BOTH trainers on the same corpus and pin merge-sequence
      // equality in-row (iterative training has no ANSI oracle). 0
      // rows = the trainers diverged.
      val docs = t(s, d, "documents")
      val inc = graft.llm.Bpe.train(docs, "text", 10, minCount = 2L,
        incrementalMinWords = 0L)
      val rec = graft.llm.Bpe.train(docs, "text", 10, minCount = 2L,
        incrementalMinWords = Long.MaxValue)
      import s.implicits._
      val equal = inc == rec && inc.nonEmpty
      Seq((inc.size.toLong, rec.size.toLong, equal, equal))
        .toDF("n_merges_incremental", "n_merges_recount",
          "sequences_equal", "pass")
        .filter(col("pass"))
    }),

    "q_bpe_fertility" -> ((s, d) => {
      // rows-only: train 12 merges, report per-doc tokens/subwords/
      // fertility from broadcast segment SIZES (the id-materializing
      // encodeDocs path is exercised by BpeSpec + the scale probe, not
      // this query; iterative training isn't SQL-expressible)
      val docs = t(s, d, "documents")
      val merges = graft.llm.Bpe.train(docs, "text", 12)
        .map(m => (m._1, m._2))
      graft.llm.Bpe.fertility(docs, "doc_id", "text", merges)
        .withColumnRenamed("id", "doc_id")
    }),

    // ---- llm/: importance-resampling data selection (DSIR) ----
    "q_dsir_weights" -> ((s, d) =>
      // hashed-bigram importance weight of every doc vs the English
      // slice as the target distribution
      graft.llm.Dsir.importanceWeights(t(s, d, "documents"),
        t(s, d, "documents").filter(col("lang") === "en"),
        "doc_id", "text")),

    "q_dsir_select" -> ((s, d) =>
      // the 50 most target-like docs (rounded-weight order: ties at
      // 6 dp cannot flip between engines)
      graft.llm.Dsir.select(t(s, d, "documents"),
        t(s, d, "documents").filter(col("lang") === "en"),
        "doc_id", "text", 50)),

    "q_stratified_take" -> ((s, d) =>
      // balanced subset: exactly 20 docs per language (fewer if the
      // stratum is smaller), deterministic across engines/partitionings
      Relational.stratifiedTake(t(s, d, "documents")
          .select("doc_id", "lang"), col("lang"), col("doc_id"), 20)),

    "q_stratified_sample" -> ((s, d) =>
      // data mixing: downsample over-represented languages with
      // key-stable per-stratum rates (en 30%, zh 50%, rest kept)
      Relational.stratifiedSample(t(s, d, "documents"), col("lang"),
        col("doc_id"), Map("en" -> 0.3, "zh" -> 0.5))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(length(col("text"))), 4).as("avg_chars"))),

    "q_rolling_zscore" -> ((s, d) =>
      // trailing-100-row anomaly signal per event type
      Aggregates.rollingZscore(Seq("event_type"),
        Seq(col("ts"), col("event_id")), "value", 100)(t(s, d, "events"))
        .select(col("event_id"), col("zscore"))),

    "q_deterministic_sample" -> ((s, d) =>
      // key-stable ~30% sample of users — every engine/run keeps the
      // same rows (oracle reproduces the exact selection)
      Relational.deterministicSample(t(s, d, "events"), col("user_id"), 0.3)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"))),

    "q_corpus_diff" -> ((s, d) => {
      // corpus-release audit: v1 = docs < 400, v2 = docs >= 100 with
      // the 200-299 block rewritten — added/removed/changed/unchanged
      val docs = t(s, d, "documents")
      val v1 = docs.filter(col("doc_id") < 400)
      val v2 = docs.filter(col("doc_id") >= 100).withColumn("text",
        when(col("doc_id").between(200, 299),
          concat(col("text"), lit(" rewritten"))).otherwise(col("text")))
      Relational.datasetDiff(v1, v2, "doc_id", "text")
        .groupBy("status").agg(count(lit(1)).as("n_docs"))
    }),

    "q_deterministic_take" -> ((s, d) =>
      // exact-k reproducible subset (salted-md5 order, TakeOrdered plan
      // — no global sort); summarized per source so the oracle checks
      // the exact selection
      Relational.deterministicTake(t(s, d, "documents"), col("doc_id"), 100)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))),

    "q_hash_split" -> ((s, d) =>
      // deterministic md5 train/val/test split — stable across engines,
      // runs and partitionings (the oracle reproduces it exactly)
      Relational.withHashSplit(t(s, d, "documents"), col("doc_id"), 10)
        .groupBy("split_bucket")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(Text.tokenCount(col("text"))), 4).as("mean_tokens"))),

    // ---- llm/: similarity search ----
    "q_mean_pool" -> ((s, d) => {
      // chunk -> doc embedding: element-wise mean + L2 normalize over
      // pseudo-docs of 10 chunks; flattened to (group, dim, value)
      // scalars so the oracle compare never hashes arrays
      val emb = t(s, d, "embeddings")
        .select((col("vec_id") / 10).cast("long").as("g"), col("embedding"))
      graft.llm.Similarity.meanPoolEmbeddings(emb, "g", "embedding")
        .select(col("g").as("group_id"), col("n_chunks"),
          posexplode(col("embedding")).as(Seq("dim", "value")))
        .select(col("group_id"), col("n_chunks"),
          col("dim").cast("long").as("dim"), col("value"))
    }),

    "q_ann_cosine" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceKnn(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", 5)
    }),

    "q_knn_label_agreement" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.knnLabelAgreement(emb.filter(col("vec_id") < 50), emb,
        "vec_id", "embedding", "label", 5)
    }),

    "q_ivf_knn" -> ((s, d) => {
      // rows-only: IVF-Flat ANN (k-means quantizer + probed lists);
      // row count is k x |queries| regardless of clustering outcome
      val emb = t(s, d, "embeddings")
      // registry: the quantizer trains once per sf-dir and is amortized
      // over every query batch (build-once/search-many ANN contract)
      val index = Similarity.ivfIndexFor(emb, "vec_id", "embedding",
        nlist = 16, cacheKey = d)
      Similarity.ivfKnn(emb.filter(col("vec_id") < 10), index,
        "vec_id", "embedding", 5, nProbe = 4)
    }),

    "q_lsh_knn" -> ((s, d) => {
      // Rows-only: multi-table LSH recall path (band-bucket join, not
      // full scan); see q_lsh_knn_recall for the measured recall@k
      val emb = t(s, d, "embeddings")
      Similarity.lshKnn(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", 5, bands = 8, bitsPerBand = 4)
    }),

    "q_dedup_incremental" -> ((s, d) => {
      // rows-only: ingest-time dedup of an incoming batch (doc_id in
      // [400, 600) — batches are SMALL relative to the corpus by
      // contract) against the already-kept corpus (doc_id < 400) —
      // exact fingerprints + cross-set minhash banding (hash-based,
      // not oracle-expressible)
      val docs = t(s, d, "documents")
      // registry: the corpus fingerprint/signature state builds once
      // per sf-dir and every batch dedups against the cached frames
      // (build-once/ingest-many contract, like ivfIndexFor)
      val st = Dedup.corpusDedupStateFor(
        docs.filter(col("doc_id") < 400), "doc_id", "text",
        cacheKey = d + "#documents:doc_id<400")
      Dedup.incrementalDedupWithState(
        docs.filter(col("doc_id") >= 400 && col("doc_id") < 600),
        st, "doc_id", "text")
        .select(col("doc_id"))
    }),

    "q_semantic_dedup" -> ((s, d) =>
      // rows-only: SemDeDup-shaped cluster-then-sweep (k-means
      // assignment not expressible in the oracle engine); kept subset
      // at the corpus's observed near-pair threshold
      graft.llm.Dedup.semanticDedup(t(s, d, "embeddings"),
        "vec_id", "embedding", minCosine = 0.35, nlist = 8)
        .select(col("vec_id"), col("label"))),

    // ---- llm/: approximate-operator quality gates (graft.llm.Recall).
    // Each approximate family gets a deterministic one-row summary vs
    // its exact twin; fixed seeds make the numbers exact, and
    // RecallGatesSpec hard-asserts thresholds on the same summaries.
    "q_lsh_knn_recall" -> ((s, d) => {
      // the RecallGatesSpec floor rides in the graded row (min_recall
      // + pass) and the filter drops the row if recall degrades, so
      // the driver's rows-only check pins the gate too
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      graft.llm.Recall.gated(graft.llm.Recall.knnRecall(
          Similarity.lshKnn(q, emb, "vec_id", "embedding", 5,
            bands = 8, bitsPerBand = 4),
          Similarity.bruteForceKnn(q, emb, "vec_id", "embedding", 5)),
        "recall" -> 0.6).filter(col("pass"))
    }),

    "q_int8_knn" -> ((s, d) => {
      // rows-only: exact-shape kNN over int8-quantized vectors (4x
      // smaller corpus scan, integer inner loop); recall vs the float
      // kernel is gate-checked in q_int8_knn_recall
      val emb = t(s, d, "embeddings")
      Similarity.quantizedKnn(emb.filter(col("vec_id") < 10), emb,
        "vec_id", "embedding", 5)
    }),

    "q_int8_knn_recall" -> ((s, d) => {
      // recall@5 of the int8-quantized kNN against the float kernel;
      // floor rides in the graded row (quantization reorders only
      // near-tied neighbors, so the floor is far above the LSH gates')
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      graft.llm.Recall.gated(graft.llm.Recall.knnRecall(
          Similarity.quantizedKnn(q, emb, "vec_id", "embedding", 5),
          Similarity.bruteForceKnn(q, emb, "vec_id", "embedding", 5)),
        "recall" -> 0.9).filter(col("pass"))
    }),

    "q_ivf_knn_recall" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val index = Similarity.ivfIndexFor(emb, "vec_id", "embedding",
        nlist = 16, cacheKey = d)
      graft.llm.Recall.gated(graft.llm.Recall.knnRecall(
          Similarity.ivfKnn(q, index, "vec_id", "embedding", 5, nProbe = 4),
          Similarity.bruteForceKnn(q, emb, "vec_id", "embedding", 5)),
        "recall" -> 0.5).filter(col("pass"))
    }),

    "q_pq_knn" -> ((s, d) => {
      // rows-only: exhaustive ADC kNN over the product-quantized
      // corpus (m-byte codes, 16x narrower scan than float32); recall
      // vs the float kernel is gate-checked in q_pq_knn_recall
      val emb = t(s, d, "embeddings")
      val index = Similarity.pqIndexFor(emb, "vec_id", "embedding",
        cacheKey = d, m = 16, ksub = 256)
      Similarity.pqKnn(emb.filter(col("vec_id") < 10), index,
        "vec_id", "embedding", 5)
    }),

    "q_pq_knn_recall" -> ((s, d) => {
      // recall@5 of exhaustive PQ-ADC search vs the float kernel;
      // the floor rides in the graded row. PQ sits below int8 on the
      // accuracy/bandwidth ladder (~15x vs 4x compression at m=16
      // over dim-64 — and these RANDOM gaussian fixtures are PQ's
      // worst case, near-tied neighbors everywhere), so its floor is
      // the LSH/IVF tier, not int8's 0.9. Residual encoding (r12,
      // classic IVFADC — codes quantize x minus its coarse cell
      // centroid, the cell id riding as the leading code byte)
      // lifted the measured recall to 0.86/0.84/0.74 at
      // sf0.001/0.01/0.1 from the raw-vector 0.84/0.76/0.64 — the
      // sf0.1 number was the one honest floor miss on the r11 board;
      // deterministic under the fixed seed
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val index = Similarity.pqIndexFor(emb, "vec_id", "embedding",
        cacheKey = d, m = 16, ksub = 256)
      graft.llm.Recall.gated(graft.llm.Recall.knnRecall(
          Similarity.pqKnn(q, index, "vec_id", "embedding", 5),
          Similarity.bruteForceKnn(q, emb, "vec_id", "embedding", 5)),
        "recall" -> 0.7).filter(col("pass"))
    }),

    "q_ivfpq_knn_recall" -> ((s, d) => {
      // recall@5 of the COMPOSED serving stack (coarse-list pruning +
      // ADC scoring, the FAISS IVFPQ shape): pruning and quantization
      // losses multiply, so the floor sits below either alone;
      // measured 0.76/0.74/0.74 at sf0.001/0.01/0.1 with r12
      // residual codes (raw codes: 0.76/0.70/—), nProbe=8/nlist=16,
      // m=16, deterministic under the fixed seeds
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val coarse = Similarity.ivfIndexFor(emb, "vec_id", "embedding",
        nlist = 16, cacheKey = d)
      val pq = Similarity.pqIndexFor(emb, "vec_id", "embedding",
        cacheKey = d, m = 16, ksub = 256)
      graft.llm.Recall.gated(graft.llm.Recall.knnRecall(
          Similarity.ivfPqKnn(q, coarse, pq, "vec_id", "embedding", 5,
            nProbe = 8),
          Similarity.bruteForceKnn(q, emb, "vec_id", "embedding", 5)),
        "recall" -> 0.6).filter(col("pass"))
    }),

    "q_pca_knn" -> ((s, d) => {
      // rows-only: two-stage retrieve-then-rerank kNN — shortlist in
      // the 32-dim PCA space (half-width quadratic stage), exact
      // re-rank of the survivors at full width; recall gate rides in
      // q_pca_knn_recall
      val emb = t(s, d, "embeddings")
      graft.llm.Similarity.pcaRerankKnn(emb.filter(col("vec_id") < 10),
        emb, "vec_id", "embedding", 5, dims = 32, shortlist = 200)
    }),

    "q_pca_knn_recall" -> ((s, d) => {
      // recall@5 of the PCA shortlist+rerank stack vs the full-width
      // kernel. The reduced space ALONE ranks poorly on these
      // isotropic gaussian fixtures (0.42-0.46 — PCA's worst case, no
      // correlated dimensions to concentrate); the exact re-rank of a
      // 200-candidate shortlist restores 1.0/1.0 at sf0.001/sf0.01 and
      // 0.94 on sf0.1's harder draw — shortlist 50 scored 0.7 there,
      // which is why the parameter sits at 200 (the r9 sf0.1 audit
      // caught it). Deterministic: PCA eigendecomposition is seedless
      // and cosine is reflection-invariant.
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      graft.llm.Recall.gated(graft.llm.Recall.knnRecall(
          graft.llm.Similarity.pcaRerankKnn(q, emb, "vec_id",
            "embedding", 5, dims = 32, shortlist = 200),
          Similarity.bruteForceKnn(q, emb, "vec_id", "embedding", 5)),
        "recall" -> 0.8).filter(col("pass"))
    }),

    "q_minhash_pair_quality" -> ((s, d) => {
      // precision/recall of minhash-cluster-implied pairs vs the exact
      // jaccard>=0.7 pair set (the threshold the clusters estimate);
      // the id cap bounds the quadratic exact ground truth at larger sf
      val docs = t(s, d, "documents").filter(col("doc_id") < 1000)
      graft.llm.Recall.gated(graft.llm.Recall.pairQuality(
          graft.llm.Recall.clusterPairs(
            Dedup.minhashClusters(docs, "doc_id", "text")),
          Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.7)),
        "precision" -> 0.95, "recall" -> 0.95).filter(col("pass"))
    }),

    "q_simhash_band_recall" -> ((s, d) => {
      // pigeonhole banding is exact for hamming<=maxHamming: both
      // precision and recall must be 1.0 vs brute-force hamming (the
      // id cap bounds the quadratic ground truth at larger sf)
      val sig = Dedup.simhashFrame(t(s, d, "documents"), "doc_id", "text")
        .filter(col("id") < 2000)
      graft.llm.Recall.gated(graft.llm.Recall.pairQuality(
          Dedup.simhashNearDupsFromSig(sig, 6),
          graft.llm.Recall.exactHammingPairs(sig, 6)),
        "precision" -> 1.0, "recall" -> 1.0).filter(col("pass"))
    }),

    "q_leakage_gate" -> ((s, d) => {
      // straddle audit of leakageSafeSplitAuto's SCALE path (LSH-edge
      // split, forced regardless of the doc-count gate): every EXACT
      // jaccard>=0.8 near-dup pair must share a bucket. The 2-sigma
      // verify slack (0.8 -> 0.7 est) is what leakageSafeSplitAuto
      // itself applies; `pass` mirrors the RecallGatesSpec floor so
      // the graded row pins it too
      val docs = t(s, d, "documents")
      val lshSplit = Dedup.leakageSafeSplitFromEdges(docs, "doc_id",
        Dedup.lshVerifiedEdges(docs, "doc_id", "text",
            minEstJaccard = 0.7)
          .select(col("id_a"), col("id_b")), 10)
      graft.llm.Recall.splitStraddleRate(lshSplit, "doc_id",
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.8)
          .select(col("id_a"), col("id_b")), maxStraddleRate = 0.0)
        .filter(col("pass"))
    }),

    "q_embedding_band_recall" -> ((s, d) => {
      // measured recall of the banded hyperplane LSH at the graded
      // low threshold, vs exact all-pairs cosine; the id cap bounds
      // the quadratic exact ground truth at larger sf (both sides see
      // the same subset, so precision/recall stay well-defined)
      val emb = t(s, d, "embeddings").filter(col("vec_id") < 1000)
      graft.llm.Recall.gated(graft.llm.Recall.pairQuality(
          Dedup.embeddingNearDups(emb, "vec_id", "embedding",
            minCosine = 0.35, bands = 16, bitsPerBand = 4),
          graft.llm.Recall.exactCosinePairs(emb, "vec_id", "embedding",
            0.35)),
        "precision" -> 1.0, "recall" -> 0.85).filter(col("pass"))
    }),

    // ---- llm/: PII scrub (round 8) ----
    "q_pii_mask" -> ((s, d) =>
      // map-only PII masking over the deterministic PII-bearing corpus
      // (see piiCorpus — every category fires on a known subset, so
      // the oracle compare doubles as a Java-regex/RE2 parity gate)
      graft.llm.Pii.maskDocs(piiCorpus(s, d), "text")
        .withColumnRenamed("text", "masked_text")),

    "q_pii_report" -> ((s, d) =>
      graft.llm.Pii.report(piiCorpus(s, d), "text")),

    "q_luhn_audit" -> ((s, d) =>
      // card-shape detection vs Luhn VALIDATION, both as Catalyst HOF
      // chains; the corpus plants one valid separated card and one
      // invalid unseparated pan on disjoint id subsets, so
      // n_card_shaped > n_luhn_valid by construction
      graft.llm.Pii.luhnAudit(piiCorpus(s, d), "event_id", "text")
        .agg(
          sum(when(col("n_card_shaped") > 0, 1L).otherwise(0L))
            .as("n_docs_with_cards"),
          sum(col("n_card_shaped")).cast("long").as("n_card_shaped"),
          sum(col("n_luhn_valid")).cast("long").as("n_luhn_valid"))),

    // ---- llm/: accent folding (round 8) ----
    "q_accent_fold" -> ((s, d) =>
      // native accent_fold kernel vs DuckDB strip_accents on the same
      // deterministically-accented corpus (translate injects composed
      // diacritics, a non-decomposable ø, and Hangul to pin the NFC
      // recompose path) — a cross-engine Unicode-semantics parity gate
      t(s, d, "documents").select(col("doc_id"),
        graft.plans.UnicodeNormExpr.accentFold(
          translate(col("text"), "aeioucsnk", "áéíóüçøñ한")).as("folded"))),

    // ---- plans/: HTML -> text extraction (round 11) ----
    "q_html_extract" -> ((s, d) => {
      // the scraper's BeautifulSoup-text ingest stage as a codegen
      // kernel: each document is wrapped in a deterministic page
      // (DOCTYPE, style+script to drop, comment, uppercase block tag,
      // the six core entities + numeric dec/hex) IDENTICALLY in both
      // engines, then kernel-vs-regex-chain equality is hash-checked;
      // raw <>& are pre-sanitized so naive-tag semantics can't
      // diverge, and \r/NBSP with them — the kernel treats both as
      // whitespace, the oracle's regex chain doesn't, so they must
      // not reach the compared text (today's corpus has neither; a
      // regeneration must not be able to flip the hash) — and the
      // SAME sanitizer runs over source and lang, so NO column
      // content can reach the entity/tag-sensitive compare
      def san(c: Column) = regexp_replace(c, "[<>&\\r\\u00A0]", " ")
      val safe = san(col("text"))
      val html = concat(
        lit("<!DOCTYPE html><html lang=\"en\"><head><title>doc</title>" +
          "<style type=\"text/css\">p { color: red; }</style>" +
          "<script>if (1 < 2) { alert(\"x&y\"); }</script></head>" +
          "<body><!-- header --><h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1><P CLASS=\"main\">"), safe,
        lit("</P><div><span>source: </span>"), san(col("source")),
        lit("&nbsp;&amp; lang &lt;"), san(col("lang")),
        lit("&gt; caf&#233; &#x21; fin</div><table><tr><td>n_chars" +
          "</td><td>"),
        col("n_chars").cast("string"),
        lit("</td></tr></table></body></html>"))
      t(s, d, "documents").select(col("doc_id"),
        graft.plans.HtmlTextExpr.htmlToText(html).as("text"))
    }),

    "q_html_meta" -> ((s, d) => {
      // the scraper's non-body extractions (title, <time datetime>,
      // h1 headlines — scraper.py:221-236) via the html_meta kernel,
      // hash-checked against DuckDB regexp_extract[_all] chains on an
      // identically constructed page (uppercase H1, nested inline tag,
      // entity in the title, attribute before datetime); lang and
      // source pass the q_html_extract sanitizer in both engines so
      // column content can never introduce tag/entity divergence
      def san(c: Column) = regexp_replace(c, "[<>&\\r\\u00A0]", " ")
      val datetime = concat(lit("2024-01-"),
        lpad((col("n_chars") % 28 + 1).cast("string"), 2, "0"))
      val robots = when(col("doc_id") % 2 === 0,
        lit("noindex, nofollow")).otherwise(lit("index, follow"))
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        // content BEFORE name: the kernel's attribute scan must not
        // depend on attribute order (r12 robots field); a viewport
        // meta decoy precedes the robots one
        lit(" &amp; co</title><meta name=\"viewport\" content=\"w=1\">" +
          "<meta content=\""), robots,
        lit("\" name=\"robots\"></head><body>" +
          "<time class=\"pub\" datetime=\""), datetime,
        lit("\">January</time><h1>Lang "), san(col("lang")),
        lit("</h1><p>body</p><H1>Source <b>"), san(col("source")),
        lit("</b></H1></body></html>"))
      t(s, d, "documents").select(col("doc_id"),
        graft.plans.HtmlTextExpr.htmlTitle(html).as("title"),
        graft.plans.HtmlTextExpr.htmlTime(html).as("published_at"),
        graft.plans.HtmlTextExpr.htmlH1s(html).as("headlines"),
        graft.plans.HtmlTextExpr.htmlRobots(html).as("robots"))
    }),

    "q_html_links" -> ((s, d) => {
      // the scraper's outlink pass (scraper.py:126-150) via the
      // html_meta links kernel: each document wraps in a page with a
      // column-derived https link, an uppercase tracking-laden <A>,
      // a no-href anchor and an hreflang decoy before a single-
      // quote... double-quoted relative link; hash-checked against a
      // DuckDB regexp_extract_all chain. Quotes/brackets sanitize out
      // of column content in BOTH engines (the q_html_extract rule) —
      // '&' stays, both engines keep href bytes verbatim.
      def san(c: Column) = regexp_replace(c, "[\"'<>\\r\\u00A0]", " ")
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<html><body><p>intro</p><a class=\"x\" href=\"https://"),
        san(col("source")), lit(".example.com/doc/"), id,
        lit("\">first</a><div><A HREF=\"HTTP://Track.Example.COM:80" +
          "/p?utm_source=feed&id="), id,
        lit("#frag\"></A></div><a name=\"no-href\"></a>" +
          "<a hreflang=\"en\" href=\"/relative/"),
        san(col("lang")),
        lit("\">rel</a></body></html>"))
      t(s, d, "documents").select(col("doc_id"),
        graft.plans.HtmlTextExpr.htmlLinks(html).as("links"))
    }),

    "q_sitemap_locs" -> ((s, d) => {
      // sitemap discovery (r12): every doc becomes a urlset with two
      // <loc> entries — one XML-escaped (&amp; in a query string, as
      // the sitemap spec requires), one whitespace-padded (the kernel
      // trims) — plus a <lastmod> decoy; hash-checked against a
      // DuckDB regexp_extract_all + trim/replace chain
      def san(c: Column) = regexp_replace(c, "[<>&\\r\\u00A0]", " ")
      val id = col("doc_id").cast("string")
      val xml = concat(
        lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
          "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
          "<url><loc>https://"),
        san(col("source")), lit(".example.com/doc/"), id,
        lit("?a=1&amp;b=2</loc><lastmod>2024-01-02</lastmod></url>" +
          "<url><loc>  https://example.com/lang/"),
        san(col("lang")), lit("/"), id,
        lit(" </loc></url></urlset>"))
      t(s, d, "documents").select(col("doc_id"),
        graft.plans.HtmlTextExpr.sitemapLocs(xml).as("locs"))
    }),

    "q_robots_gate" -> ((s, d) => {
      // the crawl politeness gate (r12): robots_allowed evaluated
      // over (policy, user-agent, path) triples that exercise every
      // pinned rule — exact-group shadowing, longest-match with
      // Allow override, the $ anchor, star-group fallback. The
      // oracle reproduces the DECISIONS by construction (CASE over
      // the same ua/path derivation), so the kernel's parse + glob +
      // precedence must all be exact for the hash to hold.
      val robots = lit("# graft crawl policy\n" +
        "User-agent: graftbot\nCrawl-delay: 1.5\n" +
        "Disallow: /private/\n" +
        "Allow: /private/public/\nDisallow: /tmp$\n\n" +
        "User-agent: *\nDisallow: /\nAllow: /open/\n" +
        "Crawl-delay: 10\n")
      val ua = when(col("doc_id") % 2 === 0, lit("GraftBot"))
        .otherwise(lit("otherbot"))
      val id = col("doc_id").cast("string")
      val path = when(col("doc_id") % 5 === 0,
          concat(lit("/private/x"), id))
        .when(col("doc_id") % 5 === 1,
          concat(lit("/private/public/y"), id))
        .when(col("doc_id") % 5 === 2, lit("/tmp"))
        .when(col("doc_id") % 5 === 3, concat(lit("/tmpfile"), id))
        .otherwise(concat(lit("/open/z"), id))
      t(s, d, "documents").select(col("doc_id"), ua.as("user_agent"),
        path.as("path"),
        graft.plans.RobotsExpr.robotsAllowed(robots, ua, path)
          .as("allowed"),
        graft.plans.RobotsExpr.robotsCrawlDelay(robots, ua)
          .as("crawl_delay"))
    }),

    "q_outlink_hosts" -> ((s, d) => {
      // the crawl-frontier composition (r12, REGRADED r13 through
      // resolve_url): html_links -> explode -> resolve against the
      // page URL -> url_canon -> host -> per-host outlink counts —
      // the host-level outlink graph every crawler maintains. The
      // relative link used to DROP at canonicalization; with RFC
      // 3986 resolution it now contributes the page's own host,
      // like the majority of real-page edges. san() also strips URL
      // structural chars (r14, ADVICE: ':?#%/') so host material
      // from the source column can never trip the non-digit-port
      // null or the pct-decode while the oracle still counts the
      // row.
      def san(c: Column) =
        regexp_replace(c, "[\"'<>\\r\\u00A0:?#%/]", " ")
      val id = col("doc_id").cast("string")
      val pageUrl = concat(lit("https://"), san(col("source")),
        lit(".example.com/doc/"), id)
      val html = concat(
        lit("<html><body><p>intro</p><a class=\"x\" href=\"https://"),
        san(col("source")), lit(".example.com/doc/"), id,
        lit("\">first</a><div><A HREF=\"HTTP://Track.Example.COM:80" +
          "/p?utm_source=feed&id="), id,
        lit("#frag\"></A></div><a name=\"no-href\"></a>" +
          "<a hreflang=\"en\" href=\"/relative/"),
        san(col("lang")),
        lit("\">rel</a></body></html>"))
      t(s, d, "documents")
        .select(pageUrl.as("page_url"), explode(split(
          graft.plans.HtmlTextExpr.htmlLinks(html), "\n")).as("href"))
        .select(graft.plans.UrlCanonExpr.urlCanon(
          graft.plans.UrlResolveExpr.resolveUrl(
            col("page_url"), col("href"))).as("canon"))
        .filter(col("canon").isNotNull)
        .select(regexp_extract(col("canon"),
          "^[a-z0-9+.-]+://([^/:?#]+)", 1).as("host"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_links"))
    }),

    "q_warc_extract" -> ((s, d) => {
      // crawl-archive ingest end to end THROUGH the WARC reader
      // (r12): every document becomes a two-record WARC payload
      // (warcinfo + an application/http response whose body is a
      // built page), the byte parser recovers framing/URI/status/
      // body, and html_to_text extracts the text — hash-checked
      // against a DuckDB oracle that reproduces the expected output
      // by construction. Column content sanitizes to ASCII in BOTH
      // engines (Content-Length counts BYTES; chars==bytes only
      // holds for ASCII) and to tag/entity-safe chars for the text
      // compare (the q_html_extract rule).
      val id = col("doc_id").cast("string")
      val clean = regexp_replace(regexp_replace(
        coalesce(col("text"), lit("")), "[^\\x20-\\x7E]", " "),
        "[<>&]", " ")
      val src = regexp_replace(col("source"), "[^\\x20-\\x7E]", " ")
      val uri = concat(lit("https://"), src,
        lit(".example.com/doc/"), id)
      val html = concat(lit("<html><body><h1>Doc "), id,
        lit("</h1><p>"), clean, lit("</p></body></html>"))
      val http = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"), html)
      val info = "WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
        "Content-Type: application/warc-fields\r\n" +
        "Content-Length: 18\r\n\r\nsoftware: graft/12\r\n\r\n"
      val warc = concat(lit(info),
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        uri,
        lit("\r\nWARC-Date: 2024-01-02T00:00:00Z\r\n" +
          "Content-Type: application/http;msgtype=response\r\n" +
          "Content-Length: "),
        length(http).cast("string"), lit("\r\n\r\n"), http,
        lit("\r\n\r\n"))
      val media = t(s, d, "documents")
        .select(col("doc_id"), warc.cast("binary").as("payload"))
      graft.llm.Warc.warcRecords(media, "doc_id", "payload")
        .filter(col("warc_type") === "response" &&
          col("http_status") === 200)
        .select(col("media_id").as("doc_id"), col("target_uri"),
          graft.plans.HtmlTextExpr.htmlToText(
            col("body").cast("string")).as("text"))
    }),

    "q_url_canon" -> ((s, d) => {
      // url_canon kernel vs a generic DuckDB string-chain oracle:
      // eight URL shapes exercise every rule — default-port strip
      // (http:80, https:443), non-default port kept, host/scheme
      // lowercase with path case preserved, utm_*/gclid/fbclid drop
      // (case-insensitive, empty tokens too), fragment drop, empty
      // path -> '/', a non-absolute reject -> null, and (r14, RFC
      // 3986 §6.2.2) percent-encoding normalization: unreserved
      // escapes decode (%7E -> ~, %41a -> Aa), retained escapes
      // uppercase their hex (%2f -> %2F), an ESCAPED tracking name
      // (%75tm_source) still drops, and malformed escapes keep
      // verbatim
      val id = col("doc_id").cast("string")
      val m = col("doc_id") % 8
      val url = when(m === 0,
          concat(lit("HTTP://WWW.Site.COM:80/Doc/"), id,
            lit("?utm_source=x&utm_medium=y&id="), id, lit("#sec")))
        .when(m === 1, lit("https://Example.com:443"))
        .when(m === 2,
          concat(lit("http://host.com:8080/p/"), id,
            lit("?gclid=abc&q=1&fbclid=z")))
        .when(m === 3,
          concat(lit("ftp://Files.EXAMPLE.com/pub/"), id))
        .when(m === 4, concat(lit("not a url "), id))
        .when(m === 5, lit("https://example.com/path/?UTM_CAMPAIGN=c&&x=2"))
        .when(m === 6,
          concat(lit("https://example.com/%7Euser/doc%2f"), id,
            lit("?id=%41a&%75tm_source=x")))
        .otherwise(concat(lit("http://h.com/a%G1b%4/"), id))
      t(s, d, "documents").select(col("doc_id"), url.as("url"),
        graft.plans.UrlCanonExpr.urlCanon(url).as("canon_url"))
    }),

    "q_resolve_url" -> ((s, d) => {
      // RFC 3986 §5 reference resolution (r13): the RFC's §5.4
      // example shapes driven per-row — the base varies through the
      // host, the ref cycles through merge, dot-segments (incl. the
      // beyond-root abnormal case), //authority, ?query, #fragment
      // and absolute override; the oracle reproduces the RFC's
      // expected strings by construction, so merge + dot-removal +
      // recomposition must all be exact for the hash to hold.
      val host = concat(lower(regexp_replace(col("source"),
        "[^A-Za-z0-9]", "x")), lit(".example.com"))
      val base = concat(lit("http://"), host, lit("/b/c/d;p?q"))
      val id = col("doc_id").cast("string")
      val m = col("doc_id") % 8
      val ref = when(m === 0, concat(lit("g"), id))
        .when(m === 1, concat(lit("./g/"), id))
        .when(m === 2, concat(lit("../g"), id))
        .when(m === 3, lit("../../../g"))
        .when(m === 4, concat(lit("//h"), id, lit(".example.org/p")))
        .when(m === 5, concat(lit("?y="), id))
        .when(m === 6, concat(lit("#f"), id))
        .otherwise(concat(lit("https://abs.example.net/z/"), id))
      t(s, d, "documents").select(col("doc_id"), ref.as("href"),
        graft.plans.UrlResolveExpr.resolveUrl(base, ref).as("resolved"))
    }),

    "q_decode_body" -> ((s, d) => {
      // charset-aware crawl ingest (r13): each document becomes a
      // WARC response whose HTTP body is encoded in windows-1250 /
      // ISO-8859-1 / UTF-8 (byte-built non-ASCII suffixes), with the
      // charset declared in the Content-Type header, a <meta> tag,
      // or not at all — decode_body must pick the right source per
      // row or the extracted text mojibakes and the hash breaks.
      // ASCII column content keeps Content-Length byte math exact;
      // the binary concat carries the non-ASCII bytes verbatim.
      val m = col("doc_id") % 3
      val clean = regexp_replace(regexp_replace(
        coalesce(col("text"), lit("")), "[^\\x20-\\x7E]", " "),
        "[<>&]", " ")
      val src = regexp_replace(col("source"), "[^\\x20-\\x7E]", " ")
      val uri = concat(lit("https://"), src,
        lit(".example.com/doc/"), col("doc_id").cast("string"))
      val pre = concat(lit("<html><head>"),
        when(m === 1, lit("<meta charset=ISO-8859-1>"))
          .otherwise(lit("")),
        lit("</head><body><p>"), clean, lit(" "))
      val sufBytes = when(m === 0,
          lit("Żółć gęślą jaźń".getBytes("windows-1250")))
        .when(m === 1, lit("één beurs café".getBytes("ISO-8859-1")))
        .otherwise(lit("Żółć ☃".getBytes("UTF-8")))
      val bodyBin = concat(pre.cast("binary"), sufBytes,
        lit("</p></body></html>").cast("binary"))
      val ct = when(m === 0, lit("text/html; charset=windows-1250"))
        .otherwise(lit("text/html"))
      val http = concat(
        concat(lit("HTTP/1.1 200 OK\r\nContent-Type: "), ct,
          lit("\r\n\r\n")).cast("binary"), bodyBin)
      val warc = concat(
        concat(lit("WARC/1.0\r\nWARC-Type: response\r\n" +
          "WARC-Target-URI: "), uri,
          lit("\r\nWARC-Date: 2024-01-02T00:00:00Z\r\n" +
            "Content-Type: application/http;msgtype=response\r\n" +
            "Content-Length: "), length(http).cast("string"),
          lit("\r\n\r\n")).cast("binary"),
        http, lit("\r\n\r\n").cast("binary"))
      val media = t(s, d, "documents")
        .select(col("doc_id"), warc.as("payload"))
      graft.llm.Warc.warcRecords(media, "doc_id", "payload")
        .filter(col("warc_type") === "response" &&
          col("http_status") === 200)
        .select(col("media_id").as("doc_id"),
          graft.plans.HtmlTextExpr.htmlToText(
            graft.plans.DecodeBodyExpr.decodeBody(
              col("body"), col("http_content_type"))).as("text"))
    }),

    "q_sitemap_warc" -> ((s, d) => {
      // sitemap discovery through the WARC path (r13): the sitemap
      // XML gzips INSIDE the plan (gzip_bytes), rides an HTTP
      // response with Content-Type: application/xml, and comes back
      // out through warcRecords -> gunzip_bytes -> sitemap_locs —
      // the real .xml.gz serving shape end to end. Double-sanitized
      // column content (ASCII for Content-Length byte math, &<>
      // for the XML/oracle contract).
      def san(c: Column) = regexp_replace(regexp_replace(c,
        "[^\\x20-\\x7E]", " "), "[<>&]", " ")
      val id = col("doc_id").cast("string")
      val xml = concat(
        lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
          "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
          "<url><loc>https://"),
        san(col("source")), lit(".example.com/doc/"), id,
        lit("?a=1&amp;b=2</loc><lastmod>2024-01-02</lastmod></url>" +
          "<url><loc>  https://example.com/lang/"),
        san(col("lang")), lit("/"), id,
        lit(" </loc></url></urlset>"))
      val gz = graft.plans.BytesCodecExpr.gzipBytes(xml.cast("binary"))
      val http = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: application/xml\r\n\r\n")
          .cast("binary"), gz)
      val uri = concat(lit("https://"), san(col("source")),
        lit(".example.com/sitemap.xml.gz"))
      val warc = concat(
        concat(lit("WARC/1.0\r\nWARC-Type: response\r\n" +
          "WARC-Target-URI: "), uri,
          lit("\r\nWARC-Date: 2024-01-02T00:00:00Z\r\n" +
            "Content-Type: application/http;msgtype=response\r\n" +
            "Content-Length: "), length(http).cast("string"),
          lit("\r\n\r\n")).cast("binary"),
        http, lit("\r\n\r\n").cast("binary"))
      val media = t(s, d, "documents")
        .select(col("doc_id"), warc.as("payload"))
      graft.llm.Warc.warcRecords(media, "doc_id", "payload")
        .filter(col("http_content_type") === "application/xml" &&
          col("http_status") === 200)
        .select(col("media_id").as("doc_id"),
          graft.plans.HtmlTextExpr.sitemapLocs(
            graft.plans.BytesCodecExpr.gunzipBytes(col("body"))
              .cast("string")).as("locs"))
    }),

    "q_frontier" -> ((s, d) => {
      // the full crawl politeness loop as ONE plan (r13): page ->
      // html_links -> resolve_url -> url_canon -> host/path ->
      // DISTINCT per-host robots.txt (the join shape RobotsMatch's
      // docstring prescribes) broadcast back onto the links ->
      // robots_allowed + crawl_delay gate -> per-host frontier
      // counts. Scale shape: the links frame is map-only from the
      // scan; the only full-data exchange is the final host
      // aggregate (partial agg first), the robots frame exchanges
      // post-distinct (tiny) and returns via BROADCAST. san() strips
      // URL structural chars too (r14) — see q_outlink_hosts.
      def san(c: Column) =
        regexp_replace(c, "[\"'<>\\r\\u00A0:?#%/]", " ")
      val id = col("doc_id").cast("string")
      val pageUrl = concat(lit("https://"), san(col("source")),
        lit(".example.com/dir/page.html"))
      val html = concat(
        lit("<html><body><a href=\"/private/x"), id,
        lit("\">a</a><a href=\"/private/public/y"), id,
        lit("\">b</a><a href=\"/open/z"), id,
        lit("\">c</a><a href=\"doc/"), id,
        lit("\">d</a><a href=\"https://other"),
        (col("doc_id") % 7).cast("string"),
        lit(".example.net/open/q\">e</a></body></html>"))
      // lineage-cut (the urgentCopurchasePairs pattern): the robots
      // side below needs DISTINCT hosts — without the cut it would
      // re-scan the corpus and re-run the extract kernels a second
      // time; the (host, path) frame is tiny next to the pages
      val links = t(s, d, "documents")
        .select(pageUrl.as("page_url"), explode(split(
          graft.plans.HtmlTextExpr.htmlLinks(html), "\n")).as("href"))
        .select(graft.plans.UrlCanonExpr.urlCanon(
          graft.plans.UrlResolveExpr.resolveUrl(
            col("page_url"), col("href"))).as("canon"))
        .filter(col("canon").isNotNull)
        .select(regexp_extract(col("canon"),
          "^[a-z0-9+.-]+://([^/:?#]+)", 1).as("host"),
          regexp_extract(col("canon"),
            "^[a-z0-9+.-]+://[^/]*(/.*)", 1).as("path"))
        .localCheckpoint(false)
      // one robots.txt per DISTINCT host (a real crawler fetches it
      // once per host); the Crawl-delay derives from the host so the
      // joined-back value is observable per group
      val robotsByHost = links.select(col("host")).distinct()
        .withColumn("robots", concat(
          lit("User-agent: graftbot\nDisallow: /private/\n" +
            "Allow: /private/public/\nCrawl-delay: "),
          ((length(col("host")) % 5) + 1).cast("string"),
          lit("\n\nUser-agent: *\nDisallow: /\n")))
      links.join(broadcast(robotsByHost), Seq("host"))
        .select(col("host"),
          graft.plans.RobotsExpr.robotsAllowed(col("robots"),
            lit("graftbot"), col("path")).as("allowed"),
          graft.plans.RobotsExpr.robotsCrawlDelay(col("robots"),
            lit("graftbot")).as("delay"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_links"),
          sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"),
          min(col("delay")).as("crawl_delay"))
    }),

    "q_exif_meta" -> ((s, d) => {
      // EXIF extraction graded like every other byte kernel (r13):
      // four driver-built payloads — LE JPEG, BE JPEG, bare LE TIFF,
      // and an EXIF-less JPEG control — cycle per row; the oracle
      // states the known-by-construction fields, so byte order, the
      // APP1 scan, offset-vs-inline ASCII and the one sub-IFD hop
      // must all decode exactly.
      val v0 = exifFixture(le = true, asJpeg = true, "GraftCam0",
        "GraftM0", 1, "2024:01:02 03:04:05")
      val v1 = exifFixture(le = false, asJpeg = true, "GraftCam1",
        "GraftM1", 6, "2023:12:31 23:59:58")
      val v2 = exifFixture(le = true, asJpeg = false, "GraftCam2",
        "GraftM2", 3, "2022:06:15 12:00:00")
      val v3 = Array(0xff, 0xd8, 0xff, 0xda, 0, 4, 0, 0, 0xff, 0xd9)
        .map(_.toByte)
      val m = col("doc_id") % 4
      val media = t(s, d, "documents").select(col("doc_id"),
        when(m === 0, lit(v0)).when(m === 1, lit(v1))
          .when(m === 2, lit(v2)).otherwise(lit(v3)).as("payload"))
      graft.llm.Multimodal.probeExifMeta(media, "doc_id", "payload")
        .select(col("media_id").as("doc_id"), col("probe_ok"),
          col("orientation"), col("make"), col("model"),
          col("date_time_original"))
    }),

    "q_warc_gzip_body" -> ((s, d) => {
      // Content-Encoding: gzip — the web's wire default (r13):
      // even rows carry a GZIPPED HTTP body with the header
      // declaring it, odd rows identity; the plan undoes the
      // encoding CONDITIONALLY on the lifted header before text
      // extraction. Content-Length counts the compressed bytes by
      // construction (length() of the assembled binary).
      val id = col("doc_id").cast("string")
      val clean = regexp_replace(regexp_replace(
        coalesce(col("text"), lit("")), "[^\\x20-\\x7E]", " "),
        "[<>&]", " ")
      val src = regexp_replace(col("source"), "[^\\x20-\\x7E]", " ")
      val uri = concat(lit("https://"), src,
        lit(".example.com/doc/"), id)
      val html = concat(lit("<html><body><h1>Doc "), id,
        lit("</h1><p>"), clean, lit("</p></body></html>"))
      val gz = col("doc_id") % 2 === 0
      val bodyBin = when(gz,
          graft.plans.BytesCodecExpr.gzipBytes(html.cast("binary")))
        .otherwise(html.cast("binary"))
      val http = concat(
        concat(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"),
          when(gz, lit("Content-Encoding: gzip\r\n"))
            .otherwise(lit("")),
          lit("\r\n")).cast("binary"), bodyBin)
      val warc = concat(
        concat(lit("WARC/1.0\r\nWARC-Type: response\r\n" +
          "WARC-Target-URI: "), uri,
          lit("\r\nWARC-Date: 2024-01-02T00:00:00Z\r\n" +
            "Content-Type: application/http;msgtype=response\r\n" +
            "Content-Length: "), length(http).cast("string"),
          lit("\r\n\r\n")).cast("binary"),
        http, lit("\r\n\r\n").cast("binary"))
      val media = t(s, d, "documents")
        .select(col("doc_id"), warc.as("payload"))
      val recs = graft.llm.Warc.warcRecords(media, "doc_id", "payload")
        .filter(col("warc_type") === "response" &&
          col("http_status") === 200)
      recs.select(col("media_id").as("doc_id"),
        col("http_content_encoding"),
        graft.plans.HtmlTextExpr.htmlToText(
          graft.plans.DecodeBodyExpr.decodeBody(
            when(col("http_content_encoding") === "gzip",
              graft.plans.BytesCodecExpr.gunzipBytes(col("body")))
              .otherwise(col("body")),
            col("http_content_type"))).as("text"))
    }),

    "q_robots_sitemaps" -> ((s, d) => {
      // the discovery half of robots.txt (r13): Sitemap directives
      // extracted in file order — commented and decoy-field lines
      // must be ignored, values trimmed verbatim. Composes with
      // sitemap_locs through the fetch path (q_sitemap_warc).
      val id = col("doc_id").cast("string")
      val txt = concat(
        lit("User-agent: *\nDisallow: /private/\n" +
          "Sitemap: https://"),
        lower(regexp_replace(col("source"), "[^A-Za-z0-9]", "x")),
        lit(".example.com/sitemap-"), id,
        lit(".xml\r\n# Sitemap: https://no.example.com/commented.xml\n" +
          "sitemapx: https://no.example.com/decoy.xml\n" +
          "SITEMAP:   https://example.com/news/sitemap.xml.gz  \n"))
      t(s, d, "documents").select(col("doc_id"),
        graft.plans.RobotsExpr.robotsSitemaps(txt).as("sitemap_urls"))
    }),

    "q_warc_chunked" -> ((s, d) => {
      // Transfer-Encoding: chunked (r13): the html splits into two
      // chunks with in-plan hex size lines and a zero terminator;
      // the WARC reader de-chunks TRANSPARENTLY (transport framing),
      // so the text extraction sees the reassembled payload — the
      // hash holds only if the chunk framing math is exact.
      val id = col("doc_id").cast("string")
      val clean = regexp_replace(regexp_replace(
        coalesce(col("text"), lit("")), "[^\\x20-\\x7E]", " "),
        "[<>&]", " ")
      val src = regexp_replace(col("source"), "[^\\x20-\\x7E]", " ")
      val uri = concat(lit("https://"), src,
        lit(".example.com/doc/"), id)
      val p1 = concat(lit("<html><body><h1>Doc "), id, lit("</h1>"))
      val p2 = concat(lit("<p>"), clean, lit("</p></body></html>"))
      val wire = concat(
        hex(length(p1)), lit("\r\n"), p1, lit("\r\n"),
        hex(length(p2)), lit("\r\n"), p2, lit("\r\n0\r\n\r\n"))
      val http = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          "Transfer-Encoding: chunked\r\n\r\n"), wire)
      val warc = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        uri,
        lit("\r\nWARC-Date: 2024-01-02T00:00:00Z\r\n" +
          "Content-Type: application/http;msgtype=response\r\n" +
          "Content-Length: "),
        length(http).cast("string"), lit("\r\n\r\n"), http,
        lit("\r\n\r\n"))
      val media = t(s, d, "documents")
        .select(col("doc_id"), warc.cast("binary").as("payload"))
      graft.llm.Warc.warcRecords(media, "doc_id", "payload")
        .filter(col("warc_type") === "response" &&
          col("http_status") === 200)
        .select(col("media_id").as("doc_id"),
          graft.plans.HtmlTextExpr.htmlToText(
            col("body").cast("string")).as("text"))
    }),

    "q_main_text" -> ((s, d) => {
      // boilerplate removal (r13): each document wraps in a page
      // with a nav bar, a short copyright line, a link-dense teaser
      // and a link-farm footer around two real paragraphs — the
      // kernel must keep exactly the content blocks (>=25 normalized
      // chars, link density <= 1/3). Both paragraphs' keep decisions
      // are statable, so the oracle reproduces the output string —
      // including the case where a short document drops its own
      // body paragraph below the length floor.
      def san(c: Column) = regexp_replace(regexp_replace(c,
        "[^\\x20-\\x7E]", " "), "[<>&]", " ")
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<html><body><div><a href=\"/\">Home</a> " +
          "<a href=\"/about\">About</a> " +
          "<a href=\"/contact\">Contact</a></div><p>Doc "),
        id, lit(" body: "), san(coalesce(col("text"), lit(""))),
        lit("</p><p>Read <a href=\"/more\">more on our site</a> now" +
          "</p><div>(c) 2024 Example</div>" +
          // r14: an UNCLOSED anchor — the </div> flush must reset the
          // anchor depth (MainTextUtil rule 3) or every block below
          // counts as 100% link text and the hash breaks
          "<div><a href=\"/m\">menu top stories</div><p>Published by "),
        san(col("source")),
        lit(" newsroom desk team</p><div>" +
          "<a href=\"/tos\">Terms of Service</a> | " +
          "<a href=\"/privacy\">Privacy Policy</a></div>" +
          "</body></html>"))
      t(s, d, "documents").select(col("doc_id"),
        graft.plans.MainTextExpr.htmlMainText(html).as("main_text"))
    }),

    "q_warc_digest_dedup" -> ((s, d) => {
      // Common-Crawl-style exact dedup by WARC-Payload-Digest (r13):
      // the archive records the payload hash, so response-level
      // dedup needs NO byte compare — group on the lifted digest,
      // keep the lowest id. Digests collide by construction
      // (doc_id % 50) so every group has real duplicates.
      val id = col("doc_id").cast("string")
      val digest = concat(lit("sha1:GRAFT"),
        (col("doc_id") % 50).cast("string"))
      val html = concat(lit("<p>doc "), id, lit("</p>"))
      val http = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
        html)
      val warc = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: " +
          "https://example.com/doc/"), id,
        lit("\r\nWARC-Payload-Digest: "), digest,
        lit("\r\nWARC-Date: 2024-01-02T00:00:00Z\r\n" +
          "Content-Type: application/http;msgtype=response\r\n" +
          "Content-Length: "), length(http).cast("string"),
        lit("\r\n\r\n"), http, lit("\r\n\r\n"))
      val media = t(s, d, "documents")
        .select(col("doc_id"), warc.cast("binary").as("payload"))
      graft.llm.Warc.warcRecords(media, "doc_id", "payload")
        .filter(col("warc_type") === "response")
        .groupBy(col("payload_digest"))
        .agg(min(col("media_id")).as("keeper_doc_id"),
          count(lit(1)).as("n_copies"))
    }),

    "q_warc_files" -> ((s, d) => {
      // grades the FILE front door (r14): the same per-doc payload
      // as q_warc_extract (warcinfo + response), but written out as
      // a directory of REAL `.warc.gz` archives — one gzip stream
      // per partition, records concatenated, the Common-Crawl
      // layout — and read back through warcFiles' streaming record
      // reader. Doc identity returns via the target URI, so the
      // byte-column oracle that already pins q_warc_extract pins the
      // file path record for record. The write is a bounded driver-
      // launched distributed action (foreachPartition, O(record)
      // memory per task); the directory rebuilds deterministically
      // per sf so repeated runs never double records.
      val id = col("doc_id").cast("string")
      val clean = regexp_replace(regexp_replace(
        coalesce(col("text"), lit("")), "[^\\x20-\\x7E]", " "),
        "[<>&]", " ")
      val src = regexp_replace(col("source"), "[^\\x20-\\x7E]", " ")
      val uri = concat(lit("https://"), src,
        lit(".example.com/doc/"), id)
      val html = concat(lit("<html><body><h1>Doc "), id,
        lit("</h1><p>"), clean, lit("</p></body></html>"))
      val http = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"), html)
      val info = "WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
        "Content-Type: application/warc-fields\r\n" +
        "Content-Length: 18\r\n\r\nsoftware: graft/14\r\n\r\n"
      val warc = concat(lit(info),
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        uri,
        lit("\r\nWARC-Date: 2024-01-02T00:00:00Z\r\n" +
          "Content-Type: application/http;msgtype=response\r\n" +
          "Content-Length: "),
        length(http).cast("string"), lit("\r\n\r\n"), http,
        lit("\r\n\r\n"))
      val media = t(s, d, "documents")
        .select(warc.cast("binary").as("payload"))
      val glob = graft.llm.Warc.writeArchiveDir(media, "payload",
        new java.io.File(System.getProperty("java.io.tmpdir"),
          "graft_warc_files_" + d.replaceAll("[^A-Za-z0-9]", "_"))
          .getAbsolutePath)
      graft.llm.Warc.warcFiles(s, glob)
        .filter(col("warc_type") === "response" &&
          col("http_status") === 200)
        .select(regexp_extract(col("target_uri"),
          "/doc/([0-9]+)$", 1).cast("long").as("doc_id"),
          col("target_uri"),
          graft.plans.HtmlTextExpr.htmlToText(
            col("body").cast("string")).as("text"))
    }),

    "q_wet_export" -> ((s, d) => {
      // WET-style text-conversion export (r14): the derivative
      // archive Common Crawl publishes next to every crawl — one
      // `conversion` record per page, text/plain payload = the
      // extracted text, WARC-Refers-To naming the source capture.
      // The WHOLE round trip is graded: response records ->
      // decode_body (a windows-1250 arm forces the charset path) ->
      // html_to_text -> conversion records serialized in-plan
      // (Content-Length = BYTE length of the UTF-8 text, not chars)
      // -> writeArchiveDir(memberPerRecord=true) (the Common Crawl
      // member-per-gzip-record layout) -> warcFiles read-back, with
      // the r14 refers_to lift tying each WET row to its capture.
      // Scale shape: map-only projections either side of a bounded
      // distributed write; no shuffle anywhere.
      val id = col("doc_id").cast("string")
      val m = col("doc_id") % 2
      val clean = regexp_replace(regexp_replace(
        coalesce(col("text"), lit("")), "[^\\x20-\\x7E]", " "),
        "[<>&]", " ")
      val src = regexp_replace(col("source"), "[^\\x20-\\x7E]", " ")
      val uri = concat(lit("https://"), src,
        lit(".example.com/doc/"), id)
      val respId = concat(lit("<urn:uuid:resp-"), id, lit(">"))
      val pre = concat(lit("<html><body><h1>Doc "), id,
        lit("</h1><p>"), clean, lit(" "))
      val sufBytes = when(m === 0,
          lit("Żółć gęślą jaźń".getBytes("windows-1250")))
        .otherwise(lit("café ☃".getBytes("UTF-8")))
      val bodyBin = concat(pre.cast("binary"), sufBytes,
        lit("</p></body></html>").cast("binary"))
      val ct = when(m === 0, lit("text/html; charset=windows-1250"))
        .otherwise(lit("text/html"))
      val http = concat(
        concat(lit("HTTP/1.1 200 OK\r\nContent-Type: "), ct,
          lit("\r\n\r\n")).cast("binary"), bodyBin)
      val warc = concat(
        concat(lit("WARC/1.0\r\nWARC-Type: response\r\n" +
          "WARC-Target-URI: "), uri,
          lit("\r\nWARC-Record-ID: "), respId,
          lit("\r\nWARC-Date: 2024-01-02T00:00:00Z\r\n" +
            "Content-Type: application/http;msgtype=response\r\n" +
            "Content-Length: "), length(http).cast("string"),
          lit("\r\n\r\n")).cast("binary"),
        http, lit("\r\n\r\n").cast("binary"))
      val media = t(s, d, "documents")
        .select(col("doc_id"), warc.as("payload"))
      val conv = graft.llm.Warc.warcRecords(media, "doc_id", "payload")
        .filter(col("warc_type") === "response" &&
          col("http_status") === 200)
        .select(col("target_uri"), col("record_id"),
          encode(graft.plans.HtmlTextExpr.htmlToText(
            graft.plans.DecodeBodyExpr.decodeBody(
              col("body"), col("http_content_type"))), "UTF-8")
            .as("text_bin"))
        .select(concat(
          concat(lit("WARC/1.0\r\nWARC-Type: conversion\r\n" +
            "WARC-Target-URI: "), col("target_uri"),
            lit("\r\nWARC-Date: 2024-01-02T00:00:01Z\r\n" +
              "WARC-Refers-To: "), col("record_id"),
            lit("\r\nContent-Type: text/plain\r\nContent-Length: "),
            length(col("text_bin")).cast("string"),
            lit("\r\n\r\n")).cast("binary"),
          col("text_bin"), lit("\r\n\r\n").cast("binary"))
          .as("payload"))
      val glob = graft.llm.Warc.writeArchiveDir(conv, "payload",
        new java.io.File(System.getProperty("java.io.tmpdir"),
          "graft_wet_export_" + d.replaceAll("[^A-Za-z0-9]", "_"))
          .getAbsolutePath, memberPerRecord = true)
      graft.llm.Warc.warcFiles(s, glob)
        .filter(col("warc_type") === "conversion")
        .select(regexp_extract(col("target_uri"),
          "/doc/([0-9]+)$", 1).cast("long").as("doc_id"),
          col("target_uri"), col("refers_to"),
          col("body").cast("string").as("wet_text"))
    }),

    "q_pub_date" -> ((s, d) => {
      // publication-date extraction (r14) — the temporal-filter
      // signal (dated-before-cutoff corpus slices, earliest-capture
      // dedup tie-breaks). html_published pins the markup precedence
      // (OpenGraph article:published_time > meta name=date > <time
      // datetime>), and the query composes the standard URL-path
      // fallback (/YYYY/MM/DD/) behind it. Arms: og meta WITH a
      // decoy <time> (precedence proof), meta-date behind a decoy
      // author meta, bare <time>, URL-only date, undated. Map-only.
      val id = col("doc_id").cast("string")
      val m = col("doc_id") % 5
      val src = lower(regexp_replace(col("source"), "[^A-Za-z0-9]", "x"))
      val dd = lpad(((col("doc_id") % 28) + 1).cast("string"), 2, "0")
      val url = when(m === 3,
          concat(lit("https://"), src, lit(".example.com/2023/07/"),
            dd, lit("/post.html")))
        .otherwise(concat(lit("https://"), src,
          lit(".example.com/post/"), id))
      val html = when(m === 0, concat(
          lit("<html><head><meta property=\"article:published_time\"" +
            " content=\"2024-03-"), dd,
          lit("T08:00:00Z\"></head><body><time datetime=" +
            "\"1999-01-01\">old</time><p>x</p></body></html>")))
        .when(m === 1, concat(
          lit("<html><head><meta name=\"author\" content=\"A W\">" +
            "<meta name=\"date\" content=\"2023-11-"), dd,
          lit("\"></head><body><p>x</p></body></html>")))
        .when(m === 2, concat(
          lit("<html><body><time datetime=\"2022-05-"), dd,
          lit("T12:00:00+01:00\">May</time></body></html>")))
        .otherwise(lit("<html><body><p>undated</p></body></html>"))
      val markup = graft.plans.HtmlTextExpr.htmlPublished(html)
      val urlDate = regexp_replace(regexp_extract(url,
        "/(20[0-9]{2}/[0-9]{2}/[0-9]{2})/", 1), "/", "-")
      t(s, d, "documents")
        .select(col("doc_id"), markup.as("markup"),
          nullif(urlDate, lit("")).as("url_date"))
        .select(col("doc_id"),
          coalesce(col("markup"), col("url_date")).as("pub_date"),
          when(col("markup").isNotNull, lit("markup"))
            .when(col("url_date").isNotNull, lit("url"))
            .as("pub_src"))
    }),

    "q_recrawl_schedule" -> ((s, d) => {
      // recrawl-rate estimation (r14) — Cho & Garcia-Molina's
      // bias-reduced change-frequency estimator ("Estimating
      // Frequency of Change", ACM TOIT 3(3) 2003, §4.2): over n
      // equal-interval accesses with X detected changes,
      // lambda = -ln((n - X + 0.5)/(n + 0.5)) changes per interval;
      // a frontier refetches on the 1/lambda horizon. Capture
      // history by construction: 4 daily captures per URL whose
      // payload digest advances on the first X = doc_id % 4
      // intervals; detection is the lag-compare a real CDX history
      // gets (digest inequality, not version math). Shape: map-side
      // 4x fan-out of slim rows, then ONE exchange — the window
      // partitions by doc_id and the aggregate groups by
      // (doc_id, url), whose clustering the doc_id hash already
      // satisfies. No payload bytes anywhere.
      import org.apache.spark.sql.expressions.Window
      val url = concat(lit("https://"),
        lower(regexp_replace(col("source"), "[^A-Za-z0-9]", "x")),
        lit(".example.com/doc/"), col("doc_id").cast("string"))
      val caps = t(s, d, "documents")
        .select(col("doc_id"), url.as("url"),
          (col("doc_id") % 4).as("x"),
          explode(sequence(lit(0), lit(3))).as("k"))
        .select(col("doc_id"), col("url"), col("k"),
          concat(lit("sha1:"), col("doc_id").cast("string"),
            lit("-v"), least(col("k"), col("x")).cast("string"))
            .as("digest"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("k"))
      val lam = -log((lit(3) - col("n_changes") + lit(0.5)) / lit(3.5))
      caps
        .withColumn("prev", lag(col("digest"), 1).over(w))
        .groupBy(col("doc_id"), col("url"))
        .agg(sum(when(col("prev").isNotNull &&
          col("prev") =!= col("digest"), 1).otherwise(0))
          .as("n_changes"))
        .select(col("doc_id"), col("url"), col("n_changes"),
          // + 0.0 canonicalizes IEEE -0.0 (the X=0 arm) on BOTH sides
          (round(lam, 6) + lit(0.0)).as("lambda_day"),
          when(col("n_changes") > 0, round(lit(1.0) / lam, 4))
            .as("revisit_days"))
    }),

    "q_crawl_traps" -> ((s, d) => {
      // crawl-trap detection (r14): calendar pages, session-id
      // echoes and faceted listings mint unbounded URL spaces with
      // near-constant content — a frontier that cannot see "many
      // URLs, one digest" drowns in them (the heritrix/stormcrawler
      // pathological-prefix rule). Signal per (host, first path
      // segment): distinct URLs vs distinct payload digests. Trap
      // arm (doc_id%3==0) mints 4 distinct /cal/ URLs per doc all
      // sharing the HOST's digest; content arms mint /page/ URLs
      // with per-capture digests. ONE shuffle: the (host, seg)
      // aggregate over slim projected rows.
      val src = lower(regexp_replace(col("source"), "[^A-Za-z0-9]", "x"))
      val caps = t(s, d, "documents")
        .select(col("doc_id"), (col("doc_id") % 3).as("m"),
          src.as("src"), concat(src, lit(".example.com")).as("host"),
          explode(sequence(lit(0), lit(3))).as("k"))
      val isTrap = col("m") === 0
      val urls = caps.select(col("host"),
        when(isTrap, lit("cal")).otherwise(lit("page")).as("seg"),
        when(isTrap, concat(lit("https://"), col("host"),
            lit("/cal/"), (col("doc_id") * 4 + col("k"))
              .cast("string")))
          .otherwise(concat(lit("https://"), col("host"),
            lit("/page/"), col("doc_id").cast("string"), lit("-"),
            col("k").cast("string"))).as("url"),
        when(isTrap, concat(lit("sha1:HOME-"), col("src")))
          .otherwise(concat(lit("sha1:"),
            col("doc_id").cast("string"), lit("-"),
            col("k").cast("string"))).as("digest"))
      urls.groupBy(col("host"), col("seg"))
        .agg(countDistinct(col("url")).as("n_urls"),
          countDistinct(col("digest")).as("n_digests"))
        .select(col("host"), col("seg"), col("n_urls"),
          col("n_digests"),
          round(col("n_urls").cast("double") / col("n_digests"), 4)
            .as("dup_ratio"))
        .withColumn("is_trap",
          col("n_urls") >= 12 && col("dup_ratio") >= 8.0)
    }),

    "q_mojibake" -> ((s, d) => {
      // encoding-damage audit (r14): mojibake — UTF-8 bytes decoded
      // through a legacy charset — is irreversible corpus damage
      // that survives every later filter, so curation scores it
      // early (the Dolma/CCNet hygiene gate). Two signals per doc
      // over the REAL decode path: the U+FFFD replacement count
      // (decoder-detected damage) and the classic UTF-8-as-latin1
      // marker count (Ã Â â Å Ä — the visible lead-byte forms).
      // Arms: 1 = the page's UTF-8 bytes decoded as ISO-8859-1
      // because the Content-Type LIES (6 markers by construction),
      // 2 = a truncated multibyte sequence under UTF-8 (exactly one
      // U+FFFD), 0 = clean. Map-only; counts via translate, no
      // regex in the hot path.
      val id = col("doc_id").cast("string")
      val m = col("doc_id") % 3
      val clean = regexp_replace(regexp_replace(
        coalesce(col("text"), lit("")), "[^\\x20-\\x7E]", " "),
        "[<>&]", " ")
      val pre = concat(lit("<html><body><p>Doc "), id, lit(" "), clean)
      val sufBytes = when(m === 1,
          lit(" café Żółć naïve".getBytes("UTF-8")))
        .when(m === 2, lit(Array[Byte](0x20.toByte, 0xC3.toByte)))
        .otherwise(lit(" plain ascii".getBytes("UTF-8")))
      val bodyBin = concat(pre.cast("binary"), sufBytes,
        lit("</p></body></html>").cast("binary"))
      val ct = when(m === 1, lit("text/html; charset=ISO-8859-1"))
        .otherwise(lit("text/html"))
      val decoded = graft.plans.DecodeBodyExpr.decodeBody(bodyBin, ct)
      val fffd = (length(decoded) -
        length(translate(decoded, "�", ""))).cast("long")
      val moj = (length(decoded) -
        length(translate(decoded, "ÃÂâÅÄ",
          ""))).cast("long")
      t(s, d, "documents")
        .select(col("doc_id"), fffd.as("fffd_n"), moj.as("moj_n"))
        .withColumn("verdict",
          when(col("fffd_n") > 0 || col("moj_n") >= 3, lit("damaged"))
            .otherwise(lit("clean")))
    }),

    "q_cache_headers" -> ((s, d) => {
      // HTTP cache semantics for the recrawl queue (r14): a capture
      // carrying validators (Last-Modified / ETag) refetches
      // CONDITIONALLY — If-Modified-Since / If-None-Match, where a
      // 304 costs headers instead of bytes — and Cache-Control's
      // max-age is the server's own freshness horizon. A 100 TB
      // refetch queue that ignores both re-downloads the web.
      // Arms: max-age+validator, validator pair, weak-ETag only,
      // none. Map-only over the record scan via the r14 cache-header
      // lift; policy derives in-plan.
      val id = col("doc_id").cast("string")
      val m = col("doc_id") % 4
      val maxAge = (lit(600) + (col("doc_id") % 10) * 60)
      val lastMod = "Last-Modified: Tue, 02 Jan 2024 00:00:00 GMT\r\n"
      val extra = when(m === 0, concat(
          lit("Cache-Control: max-age="), maxAge.cast("string"),
          lit(", public\r\n" + lastMod)))
        .when(m === 1, concat(lit(lastMod + "ETag: \"v"), id,
          lit("\"\r\n")))
        .when(m === 2, concat(lit("ETag: W/\""), id, lit("\"\r\n")))
        .otherwise(lit(""))
      val html = concat(lit("<p>doc "), id, lit("</p>"))
      val http = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"), extra,
        lit("\r\n"), html)
      val warc = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: " +
          "https://example.com/doc/"), id,
        lit("\r\nWARC-Date: 2024-01-02T00:00:00Z\r\n" +
          "Content-Type: application/http;msgtype=response\r\n" +
          "Content-Length: "), length(http).cast("string"),
        lit("\r\n\r\n"), http, lit("\r\n\r\n"))
      val media = t(s, d, "documents")
        .select(col("doc_id"), warc.cast("binary").as("payload"))
      graft.llm.Warc.warcRecords(media, "doc_id", "payload")
        .filter(col("warc_type") === "response")
        .select(col("media_id").as("doc_id"),
          nullif(regexp_extract(
            coalesce(col("http_cache_control"), lit("")),
            "max-age=([0-9]+)", 1), lit("")).cast("long")
            .as("max_age"),
          col("http_last_modified").as("last_modified"),
          col("http_etag").as("etag"))
        .withColumn("refetch_policy",
          when(col("max_age").isNotNull, lit("ttl"))
            .when(col("last_modified").isNotNull ||
              col("etag").isNotNull, lit("conditional"))
            .otherwise(lit("unconditional")))
    }),

    "q_digest_verify" -> ((s, d) => {
      // payload-digest integrity (r14): Common Crawl's
      // WARC-Payload-Digest is 'sha1:' + RFC 4648 base32 of the
      // payload's SHA-1; recomputing over the lifted body verifies
      // transport end to end — INCLUDING dechunk, whose arm here
      // carries a digest computed over the UNCHUNKED payload, so
      // digest_ok=true proves the reader reassembled the exact
      // bytes. Verification is OPT-IN by design (hashing every
      // payload at 100 TB is real CPU — the reader never does it
      // silently); this query is the opt-in shape. Arms: correct /
      // tampered / absent / chunked-correct. Map-only; the digest
      // expression and the comparison both stay in codegen.
      val id = col("doc_id").cast("string")
      val m = col("doc_id") % 4
      val clean = regexp_replace(regexp_replace(
        coalesce(col("text"), lit("")), "[^\\x20-\\x7E]", " "),
        "[<>&]", " ")
      val html = concat(lit("<p>Doc "), id, lit(" "), clean,
        lit("</p>"))
      val goodDigest = graft.plans.BytesCodecExpr.warcSha1Digest(
        html.cast("binary"))
      val digestHdr = when(m === 0 || m === 3,
          concat(lit("WARC-Payload-Digest: "), goodDigest,
            lit("\r\n")))
        .when(m === 1, concat(lit("WARC-Payload-Digest: " +
          "sha1:TAMPERED"), id, lit("\r\n")))
        .otherwise(lit(""))
      val wire = concat(hex(length(html)), lit("\r\n"), html,
        lit("\r\n0\r\n\r\n"))
      val http = when(m === 3, concat(
          lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
            "Transfer-Encoding: chunked\r\n\r\n"), wire))
        .otherwise(concat(
          lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
          html))
      val warc = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: " +
          "https://example.com/doc/"), id, lit("\r\n"), digestHdr,
        lit("WARC-Date: 2024-01-02T00:00:00Z\r\n" +
          "Content-Type: application/http;msgtype=response\r\n" +
          "Content-Length: "), length(http).cast("string"),
        lit("\r\n\r\n"), http, lit("\r\n\r\n"))
      val media = t(s, d, "documents")
        .select(col("doc_id"), warc.cast("binary").as("payload"))
      graft.llm.Warc.warcRecords(media, "doc_id", "payload")
        .filter(col("warc_type") === "response")
        .select(col("media_id").as("doc_id"),
          col("payload_digest").isNotNull.as("has_digest"),
          when(col("payload_digest").isNotNull,
            graft.plans.BytesCodecExpr.warcSha1Digest(col("body")) ===
              col("payload_digest")).as("digest_ok"))
    }),

    "q_fetch_plan" -> ((s, d) => {
      // the scheduling capstone (r14): ONE plan from raw archive to
      // refetch decision — 3-capture WARC history per URL (digest
      // advancing on the first X = doc_id%3 intervals; cache headers
      // on the LAST capture only, arm c = doc_id%4) → lag-detected
      // change count → Cho-Garcia-Molina rate (n=2 intervals) → due
      // horizon (1/lambda, capped 30d, never-due arm pinned at
      // last+30) → decision at now=day 104 with pinned precedence:
      //   1. server-declared freshness (max-age still covers now)
      //      → skip_fresh;
      //   2. estimator says due: validator present
      //      → refetch_conditional (a 304 costs headers) else
      //      → refetch_full;
      //   3. → wait.
      // Scale shape: the record scan is map-only; ONE exchange on
      // doc_id shared by the window and the (doc_id, url) aggregate
      // (subset clustering), decision derives map-side. This is
      // q_archive_e2e's twin for the fetch side of the crawl loop.
      import org.apache.spark.sql.expressions.Window
      val id = col("doc_id").cast("string")
      val x = col("doc_id") % 3
      val c = col("doc_id") % 4
      val uri = concat(lit("https://"),
        lower(regexp_replace(col("source"), "[^A-Za-z0-9]", "x")),
        lit(".example.com/doc/"), id)
      val cacheHdr = when(c === 0,
          lit("Cache-Control: max-age=432000\r\n"))
        .when(c === 1, concat(lit("ETag: \"v"), id, lit("\"\r\n")))
        .when(c === 2,
          lit("Last-Modified: Tue, 02 Jan 2024 00:00:00 GMT\r\n"))
        .otherwise(lit(""))
      def capture(k: Int): Column = {
        val html = concat(lit("<p>doc "), id, lit(" rev "),
          least(lit(k), x).cast("string"), lit("</p>"))
        val http = concat(
          lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"),
          if (k == 2) cacheHdr else lit(""), lit("\r\n"), html)
        concat(
          lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
          uri, lit("\r\nWARC-Payload-Digest: sha1:D"), id, lit("-v"),
          least(lit(k), x).cast("string"),
          lit(s"\r\nWARC-Date: 2024-01-0${k + 1}T00:00:00Z\r\n" +
            "Content-Type: application/http;msgtype=response\r\n" +
            "Content-Length: "), length(http).cast("string"),
          lit("\r\n\r\n"), http, lit("\r\n\r\n"))
      }
      val warc = concat(capture(0), capture(1), capture(2))
      val media = t(s, d, "documents")
        .select(col("doc_id"), warc.cast("binary").as("payload"))
      val recs = graft.llm.Warc.warcRecords(media, "doc_id", "payload")
        .filter(col("warc_type") === "response")
        .select(col("media_id").as("doc_id"),
          col("target_uri").as("url"), col("rec_idx"),
          col("payload_digest"), col("http_cache_control"),
          col("http_etag"), col("http_last_modified"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("rec_idx"))
      val hist = recs
        .withColumn("prev", lag(col("payload_digest"), 1).over(w))
        .groupBy(col("doc_id"), col("url"))
        .agg(sum(when(col("prev").isNotNull &&
            col("prev") =!= col("payload_digest"), 1).otherwise(0))
            .as("n_changes"),
          max_by(col("http_cache_control"), col("rec_idx")).as("cc"),
          max_by(col("http_etag"), col("rec_idx")).as("etag"),
          max_by(col("http_last_modified"), col("rec_idx")).as("lm"))
      val lam = -log((lit(2) - col("n_changes") + lit(0.5)) / lit(2.5))
      val dueDay = when(col("n_changes") === 0, lit(132.0))
        .otherwise(round(lit(102) +
          least(lit(30.0), lit(1.0) / lam), 4))
      val maxAgeDays = nullif(regexp_extract(
        coalesce(col("cc"), lit("")), "max-age=([0-9]+)", 1), lit(""))
        .cast("double") / lit(86400.0)
      val hasValidator = col("etag").isNotNull || col("lm").isNotNull
      hist.select(col("doc_id"), col("url"), col("n_changes"),
        dueDay.as("due_day"),
        when(maxAgeDays.isNotNull &&
            lit(102.0) + maxAgeDays > 104.0, lit("skip_fresh"))
          .when(dueDay <= 104.0,
            when(hasValidator, lit("refetch_conditional"))
              .otherwise(lit("refetch_full")))
          .otherwise(lit("wait")).as("action"))
    }),

    "q_outlink_base" -> ((s, d) => {
      // <base href> resolution (r14, RFC 3986 §5.1.1): page content
      // can override the retrieval URI as the resolution base, and
      // CDN-served pages do. Three arms: an absolute cross-host
      // base, a RELATIVE base (itself resolved against the page URL
      // first, §5.1.3), and a decoy <base> inside a comment
      // (markup-dead — the page URL stays the base). The effective
      // base is coalesce(resolve(page_url, base_href), page_url),
      // map-only over the scan.
      val id = col("doc_id").cast("string")
      val host = concat(lower(regexp_replace(col("source"),
        "[^A-Za-z0-9]", "x")), lit(".example.com"))
      val pageUrl = concat(lit("https://"), host,
        lit("/dir/page.html"))
      val m = col("doc_id") % 3
      val headBit = when(m === 0,
          concat(lit("<base href=\"https://cdn"),
            (col("doc_id") % 5).cast("string"),
            lit(".example.org/assets/\">")))
        .when(m === 1, lit("<base target=\"_blank\" href=\"/b2/\">"))
        .otherwise(
          lit("<!-- <base href=\"https://evil.example.com/\"> -->"))
      val html = concat(lit("<html><head>"), headBit,
        lit("</head><body><a href=\"img/"), id,
        lit("\">x</a></body></html>"))
      val baseHref = graft.plans.HtmlTextExpr.htmlBaseHref(html)
      val effBase = coalesce(
        graft.plans.UrlResolveExpr.resolveUrl(pageUrl, baseHref),
        pageUrl)
      t(s, d, "documents").select(col("doc_id"),
        baseHref.as("base_href"),
        graft.plans.UrlCanonExpr.urlCanon(
          graft.plans.UrlResolveExpr.resolveUrl(effBase,
            graft.plans.HtmlTextExpr.htmlLinks(html))).as("resolved"))
    }),

    "q_decode_bom" -> ((s, d) => {
      // BOM precedence (r14, WHATWG encoding standard): a UTF-8 /
      // UTF-16BE / UTF-16LE byte-order mark outranks even the
      // Content-Type charset param, and the BOM strips from the
      // decoded text. The three arms serve the SAME page in three
      // wire encodings — two under a WRONG header charset — so the
      // decoded text (and the oracle hash) only holds if the BOM
      // both wins and strips. Content-Length counts bytes via
      // length() on the assembled binary, so the UTF-16 arms' 2x
      // width is exact by construction.
      val m = col("doc_id") % 3
      val clean = regexp_replace(regexp_replace(
        coalesce(col("text"), lit("")), "[^\\x20-\\x7E]", " "),
        "[<>&]", " ")
      val src = regexp_replace(col("source"), "[^\\x20-\\x7E]", " ")
      val uri = concat(lit("https://"), src,
        lit(".example.com/doc/"), col("doc_id").cast("string"))
      val html = concat(lit("<html><body><p>"), clean,
        lit(" Żółć ☃</p></body></html>"))
      val utf8Bom = Array(0xEF, 0xBB, 0xBF).map(_.toByte)
      val beBom = Array(0xFE, 0xFF).map(_.toByte)
      val leBom = Array(0xFF, 0xFE).map(_.toByte)
      val bodyBin = when(m === 0,
          concat(lit(leBom), encode(html, "UTF-16LE")))
        .when(m === 1, concat(lit(beBom), encode(html, "UTF-16BE")))
        .otherwise(concat(lit(utf8Bom), encode(html, "UTF-8")))
      val ct = when(m === 0, lit("text/html; charset=windows-1250"))
        .when(m === 1, lit("text/html"))
        .otherwise(lit("text/html; charset=ISO-8859-1"))
      val http = concat(
        concat(lit("HTTP/1.1 200 OK\r\nContent-Type: "), ct,
          lit("\r\n\r\n")).cast("binary"), bodyBin)
      val warc = concat(
        concat(lit("WARC/1.0\r\nWARC-Type: response\r\n" +
          "WARC-Target-URI: "), uri,
          lit("\r\nWARC-Date: 2024-01-02T00:00:00Z\r\n" +
            "Content-Type: application/http;msgtype=response\r\n" +
            "Content-Length: "), length(http).cast("string"),
          lit("\r\n\r\n")).cast("binary"),
        http, lit("\r\n\r\n").cast("binary"))
      val media = t(s, d, "documents")
        .select(col("doc_id"), warc.as("payload"))
      graft.llm.Warc.warcRecords(media, "doc_id", "payload")
        .filter(col("warc_type") === "response" &&
          col("http_status") === 200)
        .select(col("media_id").as("doc_id"),
          graft.plans.HtmlTextExpr.htmlToText(
            graft.plans.DecodeBodyExpr.decodeBody(
              col("body"), col("http_content_type"))).as("text"))
    }),

    "q_warc_revisit" -> ((s, d) => {
      // WARC `revisit` records (r14) — Common Crawl's re-fetch
      // encoding: a revisit carries the payload digest of a prior
      // capture instead of the bytes; resolving it to the KEPT
      // original is a digest join against the response records.
      // Every doc contributes one response (digest shared mod 50,
      // like q_warc_digest_dedup) and one revisit — resolvable when
      // doc_id % 3 == 0, an ORPHAN otherwise (its digest matches no
      // response; reported with a null keeper, never dropped). Scale
      // shape: one slim projected record frame (lineage-cut), one
      // shuffle per side on the digest, payload bytes never move.
      val id = col("doc_id").cast("string")
      val digest = concat(lit("sha1:GRAFTR"),
        (col("doc_id") % 50).cast("string"))
      val revDigest = when(col("doc_id") % 3 === 0, digest)
        .otherwise(concat(lit("sha1:ORPHAN"), id))
      val html = concat(lit("<p>doc "), id, lit("</p>"))
      val http = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
        html)
      val warc = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: " +
          "https://example.com/doc/"), id,
        lit("\r\nWARC-Payload-Digest: "), digest,
        lit("\r\nWARC-Date: 2024-01-02T00:00:00Z\r\n" +
          "Content-Type: application/http;msgtype=response\r\n" +
          "Content-Length: "), length(http).cast("string"),
        lit("\r\n\r\n"), http, lit("\r\n\r\n"),
        lit("WARC/1.0\r\nWARC-Type: revisit\r\nWARC-Target-URI: " +
          "https://mirror.example.com/doc/"), id,
        lit("\r\nWARC-Payload-Digest: "), revDigest,
        lit("\r\nWARC-Profile: http://netpreserve.org/warc/1.0/" +
          "revisit/identical-payload-digest\r\n" +
          "WARC-Date: 2024-01-03T00:00:00Z\r\n" +
          "Content-Type: application/http;msgtype=response\r\n" +
          "Content-Length: 0\r\n\r\n"), lit("\r\n\r\n"))
      val media = t(s, d, "documents")
        .select(col("doc_id"), warc.cast("binary").as("payload"))
      // slim projection BEFORE the cut: the digest join never sees
      // payload bytes
      val recs = graft.llm.Warc.warcRecords(media, "doc_id", "payload")
        .select(col("media_id"), col("warc_type"), col("target_uri"),
          col("payload_digest"))
        .localCheckpoint(false)
      val keepers = recs.filter(col("warc_type") === "response")
        .groupBy(col("payload_digest"))
        .agg(min(col("media_id")).as("keeper_doc_id"),
          min_by(col("target_uri"), col("media_id")).as("keeper_uri"))
      recs.filter(col("warc_type") === "revisit")
        .select(col("media_id").as("doc_id"),
          col("target_uri").as("revisit_uri"), col("payload_digest"))
        .join(keepers, Seq("payload_digest"), "left")
        .select(col("doc_id"), col("revisit_uri"),
          col("keeper_doc_id"), col("keeper_uri"),
          col("keeper_doc_id").isNotNull.as("resolved"))
    }),

    "q_surt_key" -> ((s, d) => {
      // SURT ordering key (r14) — the web-archive index key: host
      // labels reversed so one domain's captures sort contiguously.
      // Five arms: multi-label host with a kept port, www kept (no
      // folding of distinct URLs), empty path, a reject, and a
      // pct-normalized path riding through the canon composition.
      val id = col("doc_id").cast("string")
      val m = col("doc_id") % 5
      val url = when(m === 0, concat(lit("https://www.Site.COM/Path/"), id))
        .when(m === 1,
          concat(lit("http://a.b.example.org:8080/p?x="), id, lit("&y=2")))
        .when(m === 2, lit("https://example.com"))
        .when(m === 3, concat(lit("not a url "), id))
        .otherwise(concat(lit("http://h.com/%7Ea/"), id))
      t(s, d, "documents").select(col("doc_id"), url.as("url"),
        graft.plans.SurtKeyExpr.surtKey(
          graft.plans.UrlCanonExpr.urlCanon(url)).as("surt_key"))
    }),

    "q_warc_cdx" -> ((s, d) => {
      // CDX-style index record (r14): what Common Crawl publishes per
      // capture — SURT key, 14-digit timestamp, mime, status, payload
      // digest — assembled map-only from the lifted WARC columns.
      // (Compressed member byte offsets are the one CDX field out of
      // reach here: the gzip member boundaries live below the stream
      // API.) The surt rides canon, so tracking params drop and the
      // kept port survives, pinned per arm.
      val id = col("doc_id").cast("string")
      val src = lower(regexp_replace(col("source"), "[^A-Za-z0-9]", "x"))
      val m = col("doc_id") % 2
      val uri = when(m === 0,
          concat(lit("https://"), src, lit(".example.com:8443/Doc/"), id))
        .otherwise(concat(lit("https://"), src,
          lit(".example.com/doc/"), id, lit("?b=2&utm_source=x&a=1")))
      val digest = concat(lit("sha1:CDX"), id)
      val html = concat(lit("<p>doc "), id, lit("</p>"))
      val http = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
        html)
      val warc = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        uri,
        lit("\r\nWARC-Payload-Digest: "), digest,
        lit("\r\nWARC-Date: 2024-01-02T00:00:00Z\r\n" +
          "Content-Type: application/http;msgtype=response\r\n" +
          "Content-Length: "), length(http).cast("string"),
        lit("\r\n\r\n"), http, lit("\r\n\r\n"))
      val media = t(s, d, "documents")
        .select(col("doc_id"), warc.cast("binary").as("payload"))
      graft.llm.Warc.warcRecords(media, "doc_id", "payload")
        .filter(col("warc_type") === "response")
        .select(col("media_id").as("doc_id"),
          graft.plans.SurtKeyExpr.surtKey(
            graft.plans.UrlCanonExpr.urlCanon(col("target_uri")))
            .as("surt_key"),
          regexp_replace(col("warc_date"), "[^0-9]", "").as("ts14"),
          col("http_content_type").as("mime"),
          col("http_status"), col("payload_digest"))
    }),

    "q_warc_fetch_pairs" -> ((s, d) => {
      // request↔response pairing (r14): a WARC capture stores the
      // fetch as TWO records tied by WARC-Concurrent-To →
      // WARC-Record-ID; reuniting them is how a pipeline recovers
      // request headers (user-agent, referer) next to the payload.
      // Every doc carries a request + a response; responses with
      // doc_id % 4 == 3 OMIT the Concurrent-To header (real archives
      // have them) and must report unmatched, not drop. Same scale
      // shape as q_warc_revisit: slim projected record frame,
      // lineage-cut, one shuffle per side on the record id.
      val id = col("doc_id").cast("string")
      val uri = concat(lit("https://example.com/doc/"), id)
      val reqId = concat(lit("<urn:uuid:req-"), id, lit(">"))
      val respId = concat(lit("<urn:uuid:resp-"), id, lit(">"))
      val reqHttp = concat(lit("GET /doc/"), id,
        lit(" HTTP/1.1\r\nHost: example.com\r\n" +
          "User-Agent: graftbot/14\r\n\r\n"))
      val html = concat(lit("<p>doc "), id, lit("</p>"))
      val respHttp = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
        html)
      val concurrentBit = when(col("doc_id") % 4 === 3, lit(""))
        .otherwise(concat(lit("WARC-Concurrent-To: "), reqId,
          lit("\r\n")))
      val warc = concat(
        lit("WARC/1.0\r\nWARC-Type: request\r\nWARC-Target-URI: "),
        uri, lit("\r\nWARC-Record-ID: "), reqId,
        lit("\r\nWARC-Date: 2024-01-02T00:00:00Z\r\n" +
          "Content-Type: application/http;msgtype=request\r\n" +
          "Content-Length: "), length(reqHttp).cast("string"),
        lit("\r\n\r\n"), reqHttp, lit("\r\n\r\n"),
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        uri, lit("\r\nWARC-Record-ID: "), respId, lit("\r\n"),
        concurrentBit,
        lit("WARC-Date: 2024-01-02T00:00:01Z\r\n" +
          "Content-Type: application/http;msgtype=response\r\n" +
          "Content-Length: "), length(respHttp).cast("string"),
        lit("\r\n\r\n"), respHttp, lit("\r\n\r\n"))
      val media = t(s, d, "documents")
        .select(col("doc_id"), warc.cast("binary").as("payload"))
      val recs = graft.llm.Warc.warcRecords(media, "doc_id", "payload")
        .select(col("media_id"), col("warc_type"), col("target_uri"),
          col("http_status"), col("record_id"), col("concurrent_to"))
        .localCheckpoint(false)
      val requests = recs.filter(col("warc_type") === "request")
        .select(col("record_id").as("req_id"),
          col("target_uri").as("req_uri"))
      recs.filter(col("warc_type") === "response")
        .select(col("media_id").as("doc_id"),
          col("record_id"), col("concurrent_to"), col("http_status"))
        .join(requests,
          col("concurrent_to") === col("req_id"), "left")
        .select(col("doc_id"), col("record_id"), col("concurrent_to"),
          col("http_status"), col("req_uri"),
          col("req_id").isNotNull.as("matched"))
    }),

    "q_warc_redirects" -> ((s, d) => {
      // redirect edges (r14): 3xx captures carry the next hop in the
      // HTTP Location header (now lifted); the edge a frontier needs
      // is resolve(target_uri, location) → canon — Location is
      // RELATIVE on real servers more often than the RFC ever
      // intended. Arms: 301 relative hop, 302 absolute cross-host
      // hop, 200 control (null edge). Map-only over the record scan.
      val id = col("doc_id").cast("string")
      val src = lower(regexp_replace(col("source"), "[^A-Za-z0-9]", "x"))
      val uri = concat(lit("https://"), src,
        lit(".example.com/old/"), id)
      val m = col("doc_id") % 3
      val statusLine = when(m === 0, lit("HTTP/1.1 301 Moved Permanently"))
        .when(m === 1, lit("HTTP/1.1 302 Found"))
        .otherwise(lit("HTTP/1.1 200 OK"))
      val locBit = when(m === 0,
          concat(lit("Location: /new/"), id, lit("\r\n")))
        .when(m === 1, concat(lit("Location: https://moved"),
          (col("doc_id") % 7).cast("string"),
          lit(".example.net/x/"), id, lit("\r\n")))
        .otherwise(lit(""))
      val html = concat(lit("<p>doc "), id, lit("</p>"))
      val http = concat(statusLine,
        lit("\r\nContent-Type: text/html\r\n"), locBit, lit("\r\n"),
        html)
      val warc = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        uri,
        lit("\r\nWARC-Date: 2024-01-02T00:00:00Z\r\n" +
          "Content-Type: application/http;msgtype=response\r\n" +
          "Content-Length: "), length(http).cast("string"),
        lit("\r\n\r\n"), http, lit("\r\n\r\n"))
      val media = t(s, d, "documents")
        .select(col("doc_id"), warc.cast("binary").as("payload"))
      graft.llm.Warc.warcRecords(media, "doc_id", "payload")
        .filter(col("warc_type") === "response")
        .select(col("media_id").as("doc_id"), col("http_status"),
          col("http_location"),
          graft.plans.UrlCanonExpr.urlCanon(
            graft.plans.UrlResolveExpr.resolveUrl(
              col("target_uri"), col("http_location")))
            .as("redirect_to"))
    }),

    "q_anchor_text" -> ((s, d) => {
      // anchor text (r14): the link graph's LABEL — what ranking and
      // weak-supervision pipelines index the TARGET page under.
      // Fixture per doc: a link with inline markup in its text, an
      // UPPERCASE anchor with entity text, a no-href anchor (drops),
      // a dangling anchor IMPLICITLY closed by the next <a> (emits —
      // anchors don't nest, the HTML5 rule), a plain link, and a
      // dangler at EOF (drops). One (href, text) row per anchor.
      // Strict sanitizer: href values return VERBATIM (quoted-attr
      // contract), so the lang material must never introduce
      // whitespace the text-side collapse would fold differently.
      def san(c: Column) = regexp_replace(c, "[^A-Za-z0-9]", "x")
      val id = col("doc_id").cast("string")
      val html = concat(
        lit("<html><body><a href=\"/a/"), id,
        lit("\">read <b>more</b> now</a>" +
          "<A HREF=\"/b/"), id, lit("\">Tom &amp; Jerry</A>" +
          "<a name=\"x\">no href</a><a href=\"/dangling\">never closed" +
          "<p>filler</p>"),
        lit("<a href=\"/c/"), san(col("lang")),
        lit("\">in "), san(col("lang")),
        lit("</a><a href=\"/eof\">gone</body></html>"))
      t(s, d, "documents")
        .select(col("doc_id"), explode(split(
          graft.plans.HtmlTextExpr.htmlLinksWithText(html), "\n"))
          .as("line"))
        .select(col("doc_id"),
          substring_index(col("line"), "\t", 1).as("href"),
          substring_index(col("line"), "\t", -1).as("anchor_text"))
    }),

    "q_sniff_mime" -> ((s, d) => {
      // magic-byte MIME triage (r14): six payload shapes — JPEG,
      // PNG, in-plan gzip, PDF, whitespace-prefixed HTML, and junk
      // (null: unknown is never a guess) — each sniffed from bytes
      // alone; the declared type is absent on purpose, that's the
      // case the kernel exists for.
      val id = col("doc_id").cast("string")
      val m = col("doc_id") % 6
      val jpeg = Array(0xFF, 0xD8, 0xFF, 0xE0, 0x00, 0x10).map(_.toByte)
      val png = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A,
        0x00, 0x00).map(_.toByte)
      val payload = when(m === 0, concat(lit(jpeg), id.cast("binary")))
        .when(m === 1, concat(lit(png), id.cast("binary")))
        .when(m === 2, graft.plans.BytesCodecExpr.gzipBytes(
          concat(lit("<p>doc "), id, lit("</p>")).cast("binary")))
        .when(m === 3,
          concat(lit("%PDF-1.4\n%doc "), id).cast("binary"))
        .when(m === 4, concat(lit("\n  \t<!DOCTYPE HTML><html>doc "),
          id, lit("</html>")).cast("binary"))
        .otherwise(concat(lit("plain text payload "), id)
          .cast("binary"))
      t(s, d, "documents").select(col("doc_id"),
        graft.plans.SniffMimeExpr.sniffMime(payload).as("mime"))
    }),

    "q_archive_e2e" -> ((s, d) => {
      // the file-path CAPSTONE (r14): everything the round built,
      // composed as ONE plan over REAL archives — write a directory
      // of .warc.gz where each capture is (a) a windows-1250 HTML
      // page with boilerplate, (b) a 301 with a relative Location,
      // or (c) a PDF whose Content-Type LIES ("text/html"); read it
      // back through warcFiles and route every record in one
      // projection: sniff_mime catches the liar, redirects resolve
      // their edge, pages decode (charset header) and strip
      // boilerplate (main_text), and every row gets its SURT index
      // key. Map-only after the scan — the 100 TB shape for the
      // archive→corpus front half.
      val id = col("doc_id").cast("string")
      val src = lower(regexp_replace(col("source"), "[^A-Za-z0-9]", "x"))
      val uri = concat(lit("https://"), src,
        lit(".example.com/doc/"), id)
      val m = col("doc_id") % 3
      val pageBody = concat(
        concat(lit("<html><body><div><a href=\"/\">Home</a> " +
          "<a href=\"/a\">About</a></div><p>Doc "), id,
          lit(" carries this perfectly ordinary content paragraph "))
          .cast("binary"),
        lit("Żółć".getBytes("windows-1250")),
        lit("</p></body></html>").cast("binary"))
      val pdfBody = concat(lit("%PDF-1.4\n%doc "), id).cast("binary")
      val redirBody = lit("<p>moved</p>").cast("binary")
      val statusLine = when(m === 1, lit("HTTP/1.1 301 Moved Permanently"))
        .otherwise(lit("HTTP/1.1 200 OK"))
      val headers = when(m === 0,
          lit("Content-Type: text/html; charset=windows-1250\r\n"))
        .when(m === 1, concat(lit("Content-Type: text/html\r\n" +
          "Location: /moved/"), id, lit("\r\n")))
        .otherwise(lit("Content-Type: text/html\r\n")) // the lie
      val body = when(m === 0, pageBody).when(m === 1, redirBody)
        .otherwise(pdfBody)
      val http = concat(
        concat(statusLine, lit("\r\n"), headers, lit("\r\n"))
          .cast("binary"), body)
      val warc = concat(
        concat(lit("WARC/1.0\r\nWARC-Type: response\r\n" +
          "WARC-Target-URI: "), uri,
          lit("\r\nWARC-Date: 2024-01-02T00:00:00Z\r\n" +
            "Content-Type: application/http;msgtype=response\r\n" +
            "Content-Length: "), length(http).cast("string"),
          lit("\r\n\r\n")).cast("binary"),
        http, lit("\r\n\r\n").cast("binary"))
      val media = t(s, d, "documents").select(warc.as("payload"))
      // member-per-record here (vs q_warc_files' stream-per-
      // partition) so BOTH gzip layouts warcFiles claims to consume
      // stay exercised under the correctness gate
      val glob = graft.llm.Warc.writeArchiveDir(media, "payload",
        new java.io.File(System.getProperty("java.io.tmpdir"),
          "graft_archive_e2e_" + d.replaceAll("[^A-Za-z0-9]", "_"))
          .getAbsolutePath,
        memberPerRecord = true)
      val sniffed = graft.plans.SniffMimeExpr.sniffMime(col("body"))
      val kind = when(col("http_status") === 301, lit("redirect"))
        .when(sniffed.isNotNull && sniffed =!= "text/html",
          lit("binary"))
        .otherwise(lit("page"))
      graft.llm.Warc.warcFiles(s, glob)
        .filter(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          kind.as("kind"),
          graft.plans.SurtKeyExpr.surtKey(
            graft.plans.UrlCanonExpr.urlCanon(col("target_uri")))
            .as("surt_key"),
          when(kind === "redirect", graft.plans.UrlCanonExpr.urlCanon(
            graft.plans.UrlResolveExpr.resolveUrl(
              col("target_uri"), col("http_location"))))
            .as("redirect_to"),
          when(kind === "binary", sniffed).as("sniffed_mime"),
          when(kind === "page", graft.plans.MainTextExpr.htmlMainText(
            graft.plans.DecodeBodyExpr.decodeBody(
              col("body"), col("http_content_type")))).as("main_text"))
    }),

    // ---- sessionization + funnel (round 8) ----
    "q_sessionize" -> ((s, d) =>
      graft.operators.Sessions.sessionStats(t(s, d, "events"),
        "user_id", "ts", 21600, Seq(col("event_id")))
        .select(col("user_id"), col("session_seq"), col("n_events"),
          date_format(col("sess_start"), "yyyy-MM-dd HH:mm:ss").as("sess_start"),
          date_format(col("sess_end"), "yyyy-MM-dd HH:mm:ss").as("sess_end"),
          col("duration_s"))),

    "q_funnel" -> ((s, d) =>
      graft.operators.Sessions.funnelSummary(t(s, d, "events"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))),

    "q_retention" -> ((s, d) =>
      graft.operators.Sessions.retentionCohorts(t(s, d, "events"),
        "user_id", "ts")),

    "q_stratified_weighted_take" -> ((s, d) =>
      // per-source quality-weighted exact-5 sample (the per-domain
      // mixing sampler); same ln(u)/w score as q_weighted_take so the
      // two samplers agree where strata don't bind
      Relational.stratifiedWeightedTake(t(s, d, "documents"),
          col("source"), col("doc_id"), col("n_chars"), 5)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("chars_sum"))),

    "q_weighted_take" -> ((s, d) =>
      // Efraimidis-Spirakis weighted sample, n_chars as the weight
      // (the quality-weighted subsample shape); reported as per-source
      // counts like its unweighted sibling q_deterministic_take
      Relational.weightedTake(t(s, d, "documents"), col("doc_id"),
          col("n_chars"), 100)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("chars_sum"))),

    // ---- sketches: Count-Min gate (round 8) ----
    "q_cms_gate" -> ((s, d) => {
      // Count-Min point-frequency gate: for the top-20 exact tokens,
      // the sketch estimate must satisfy the CM guarantee IN-ROW —
      // exact <= est <= exact + eps*N (one-sided overestimate). A
      // drifting sketch drops rows (20 -> fewer), which the driver's
      // rows check catches.
      val eps = 0.001
      val toks = t(s, d, "documents")
        .select(explode(Text.tokens(lower(col("text")))).as("item"))
        .filter(length(col("item")) > 0)
      val top = toks.groupBy("item").agg(count(lit(1)).as("exact"))
        .orderBy(col("exact").desc, col("item")).limit(20)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      val n = toks.count()
      val est = Aggregates.countMinEstimates(toks, "item",
        top.map(_._1).toSeq, eps, 0.99)
      import s.implicits._
      val exact = top.toSeq.toDF("item", "exact")
      est.join(exact, Seq("item"))
        .withColumn("slack", lit((eps * n).toLong))
        .withColumn("pass",
          col("est") >= col("exact") &&
            col("est") <= col("exact") + col("slack"))
        .filter(col("pass"))
        .select("item", "exact", "est", "slack", "pass")
    }),

    // ---- profiling: join-key skew diagnosis (round 8) ----
    "q_skew_report" -> ((s, d) =>
      Aggregates.skewReport(t(s, d, "lineitem"), "l_suppkey")),

    // ---- llm/: keyed pseudonymization (round 8) ----
    "q_pseudonymize" -> ((s, d) => {
      // structured ids leave the corpus as salted-SHA-256 tokens;
      // the SAME secret across frames keeps referential structure —
      // the graded row proves events and orders still join on the
      // token with the exact per-key counts of the raw join
      val secret = "graft-release-1"
      val ev = graft.llm.Pii.pseudonymizeCols(
        t(s, d, "events").select(col("user_id")), secret, Seq("user_id"))
      val ord = graft.llm.Pii.pseudonymizeCols(
        t(s, d, "orders").select(col("o_custkey")), secret, Seq("o_custkey"))
      ev.groupBy(col("user_id").as("token"))
        .agg(count(lit(1)).as("n_events"))
        .join(ord.groupBy(col("o_custkey").as("token"))
          .agg(count(lit(1)).as("n_orders")), Seq("token"))
    }),

    // ---- etl: data-quality rule validation (round 8) ----
    "q_quality_rules" -> ((s, d) => {
      // deequ-shape declarative checks: 6 single-scan rules + one
      // referential-integrity anti-join; the tight o_totalprice range
      // rule FAILS by construction, proving failed rules surface as
      // pass=false rows rather than vanishing
      import graft.etl.QualityRules._
      check(t(s, d, "orders"), Seq(
        NotNull("o_custkey"),
        NotNull("o_orderdate"),
        InRange("o_totalprice", 0, 1e7),
        InRange("o_totalprice", 0, 100000, minFrac = 0.9),
        Matches("o_orderpriority", "^[1-5]-"),
        Unique("o_orderkey"),
        RefIntegrity("o_custkey", t(s, d, "customer"), "c_custkey")))
    }),

    // ---- graph: PageRank (round 8) ----
    "q_pagerank" -> ((s, d) => {
      // weighted PageRank over the supplier->part shipment graph
      // (node ids prefixed so the two key spaces cannot collide); the
      // part side has no out-edges, so the dangling-mass path is
      // exercised on every iteration. Oracle: the same pagerankIters
      // iterations unrolled as chained DuckDB CTEs (pagerankSql builds
      // them programmatically). Ranks rounded 6dp; top-20 with node
      // tiebreak so ulp-level sum-order drift cannot reorder rows.
      //
      // r15: the s/p string prefixes that kept the two key spaces
      // disjoint are now an even/odd LONG encoding everywhere the
      // data is wide — every per-round join/aggregate hashes 8-byte
      // keys instead of building and hashing 600k short strings —
      // and the strings materialize only in this output projection
      // (TakeOrdered over node-count rows, before the 20-row limit,
      // so tie ordering is unchanged). The explicit repartition on
      // the group key merges with the groupBy's own exchange (one
      // Exchange either way) and moves the hash aggregation off the
      // scan stage: the sf parquet is a single row group, so the
      // scan stage runs ONE task, and (supp, part) keys are
      // near-unique in lineitem — map-side partial aggregation
      // reduces ~nothing at any scale, it only serialized 600k hash
      // inserts behind the un-splittable scan.
      val edges = t(s, d, "lineitem")
        .select((col("l_suppkey").cast("long") * 2).as("src"),
          (col("l_partkey").cast("long") * 2 + 1).as("dst"))
        .repartition(col("src"), col("dst"))
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).cast("double").as("weight"))
      graft.operators.Graph.pageRank(edges, pagerankIters, 0.85)
        .select(when(col("node") % 2 === 0,
            concat(lit("s"), expr("node DIV 2")))
          .otherwise(concat(lit("p"), expr("node DIV 2"))).as("node"),
          round(col("rank"), 6).as("rank_r"))
        .orderBy(col("rank_r").desc, col("node")).limit(20)
    }),

    "q_hits" -> ((s, d) => {
      // HITS on the same shipment graph: hubs (suppliers) and
      // authorities (parts) separate cleanly on a bipartite graph —
      // the role distinction PageRank's single score conflates. Top-10
      // per role, ranks rounded 6dp with node tiebreaks.
      // r15: same even/odd long node encoding + pre-shuffled edge
      // aggregate as q_pagerank (see there); node strings materialize
      // only in this node-count-sized output projection, before the
      // per-role sorts, so tie ordering is unchanged
      val edges = t(s, d, "lineitem")
        .select((col("l_suppkey").cast("long") * 2).as("src"),
          (col("l_partkey").cast("long") * 2 + 1).as("dst"))
        .repartition(col("src"), col("dst"))
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).cast("double").as("weight"))
      val scores = graft.operators.Graph.hits(edges, hitsIters)
        .select(when(col("node") % 2 === 0,
            concat(lit("s"), expr("node DIV 2")))
          .otherwise(concat(lit("p"), expr("node DIV 2"))).as("node"),
          round(col("hub"), 6).as("hub_r"),
          round(col("authority"), 6).as("auth_r"))
      scores.orderBy(col("hub_r").desc, col("node")).limit(10)
        .withColumn("role", lit("hub"))
        .unionByName(
          scores.orderBy(col("auth_r").desc, col("node")).limit(10)
            .withColumn("role", lit("authority")))
    }),

    // ---- layout: Z-order data skipping (round 8) ----
    "q_zorder_gate" -> ((s, d) => {
      // Z-order vs linear layout, measured: per-file min/max stats
      // (the parquet row-group skipping index) under both layouts for
      // a predicate on the NON-leading dimension. The linear layout
      // (1-dim z = the scaled sort key) cannot prune l_suppkey, so it
      // must touch ~every file; the z-layout's gate is overlap
      // strictly below linear's. Deterministic contiguous z-slices
      // (fixed z-range arithmetic, no sampling), so the row hashes
      // are stable.
      import graft.etl.Layout
      val li = t(s, d, "lineitem").select("l_partkey", "l_suppkey")
      val parts = 32
      val zed = Layout.zorderSlices(li, Seq("l_partkey", "l_suppkey"),
        parts, bits = 8)
      val lin = Layout.zorderSlices(li, Seq("l_partkey"),
        parts, bits = 8)
      val (qlo, qhi) = (40, 49) // middle 10% of l_suppkey's [0,99]
      def stats(laid: org.apache.spark.sql.DataFrame) =
        Layout.partitionStats(laid, Seq("l_suppkey"),
            Some(col("__zslice")))
          .agg(count(lit(1)).as("n_parts"),
            sum(when(col("mn_l_suppkey") <= qhi &&
              col("mx_l_suppkey") >= qlo, 1L).otherwise(0L)).as("n_hit"))
      val z = stats(zed).select(col("n_parts").as("n_parts_z"),
        round(col("n_hit").cast("double") / col("n_parts"), 4).as("z_frac"))
      val l = stats(lin).select(col("n_parts").as("n_parts_lin"),
        round(col("n_hit").cast("double") / col("n_parts"), 4).as("lin_frac"))
      z.crossJoin(l)
        .withColumn("pass", col("z_frac") < col("lin_frac"))
        .filter(col("pass"))
    }),

    // ---- OLAP multi-join suite (round 9): the TPC-H query shapes the
    // scan/agg/join coverage above didn't yet exercise — market-share
    // conditional ratios, scalar-subquery gates, anti/semi joins and
    // outer-join distributions. Dims (nation/region/part/supplier)
    // ride as explicit broadcasts; the fact-side shuffles are only on
    // the join keys.
    "q_market_share" -> ((s, d) => {
      // Q8 shape: NATION_3's share of EUROPE-customer order volume per
      // order year. Customer->nation->region fixes the market;
      // supplier->nation names the numerator. Share is a conditional
      // ratio of sums, rounded 6dp.
      val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      val custN = broadcast(t(s, d, "nation")
        .select(col("n_nationkey").as("cn_key"), col("n_regionkey")))
      val suppN = broadcast(t(s, d, "nation")
        .select(col("n_nationkey").as("sn_key"),
          col("n_name").as("supp_nation")))
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(custN, col("c_nationkey") === col("cn_key"))
        .join(broadcast(t(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .join(broadcast(t(s, d, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(suppN, col("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(round(sum(when(col("supp_nation") === "NATION_3", vol)
          .otherwise(lit(0.0))) / sum(vol), 6).as("mkt_share"))
    }),

    "q_product_profit" -> ((s, d) => {
      // Q9 shape: per supplier-nation, per order year, volume on 'red'
      // parts. The filtered part key set and the supplier/nation dims
      // broadcast; lineitem shuffles once, on l_orderkey.
      val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")
          .filter(col("p_name").contains("red")).select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(t(s, d, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("supp_nation"),
          year(col("o_orderdate")).as("yr"))
        .agg(round(sum(vol), 2).as("profit"))
    }),

    "q_promo_share" -> ((s, d) => {
      // Q14 shape: PROMO parts' revenue share for one ship month —
      // the ship-date filter lands in PushedFilters, part broadcast.
      val vol = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .join(broadcast(t(s, d, "part").select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg(round(sum(when(col("p_type") === "PROMO", vol)
          .otherwise(lit(0.0))) * lit(100.0) / sum(vol), 6)
          .as("promo_share"))
    }),

    "q_cust_distribution" -> ((s, d) =>
      // Q13 shape: how many customers placed k orders, INCLUDING the
      // zero bucket a plain groupBy(orders) can't see — the left outer
      // join is the point. count(col) skips the nulls the outer join
      // manufactures.
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"),
          "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy(col("n_orders"))
        .agg(count(lit(1)).as("n_custs"))),

    "q_avg_yearly" -> ((s, d) => {
      // Q17 shape: revenue/7 of small-quantity lineitems, gated by a
      // PER-PART scalar subquery (0.2 x that part's mean quantity).
      // The per-part aggregate is part-count-sized — broadcast back
      // instead of re-shuffling the fact side. Quantities are
      // integral, so the mean (and the gate) is bit-exact in any sum
      // order.
      val pk = broadcast(t(s, d, "part")
        .filter(col("p_brand") === "Brand#13").select("p_partkey"))
      val li = t(s, d, "lineitem")
        .join(pk, col("l_partkey") === col("p_partkey"))
      val caps = li.groupBy(col("l_partkey").as("__ck"))
        .agg((avg(col("l_quantity")) * lit(0.2)).as("__cap"))
      li.join(broadcast(caps), col("l_partkey") === col("__ck"))
        .filter(col("l_quantity") < col("__cap"))
        .agg(round(sum(col("l_extendedprice")) / lit(7.0), 2)
          .as("avg_yearly"))
    }),

    "q_large_orders" -> ((s, d) => {
      // Q18 shape: orders whose lineitems sum past 200 units, with
      // customer names — a groupBy-having gate joined back to two
      // tables, top-20 by price with key tiebreak. Quantity sums are
      // integral-exact.
      val big = t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > lit(200.0))
      t(s, d, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    }),

    "q_idle_customers" -> ((s, d) => {
      // Q22 shape: above-average-balance customers with NO 1995 order
      // — a broadcast scalar subquery gate plus a LEFT ANTI join
      // (NOT EXISTS), rolled up by segment.
      val cust = t(s, d, "customer")
      val avgBal = cust.filter(col("c_acctbal") > 0)
        .agg(avg(col("c_acctbal")).as("__ab"))
      val o95 = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      cust.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("__ab"))
        .join(o95, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_custs"),
          round(sum(col("c_acctbal")), 2).as("total_bal"))
    }),

    // ---- association / trend / distribution profiling (round 9) ----
    "q_chi2_assoc" -> ((s, d) =>
      // is document language independent of source? chi-square + MI
      // over the 5 x 20 contingency grid (grid-sized arithmetic; one
      // counting pass over the data)
      graft.operators.Aggregates.association(t(s, d, "documents"),
        "lang", "source")),

    "q_value_trend" -> ((s, d) =>
      // per-event-type OLS drift of value over elapsed hours — the
      // x axis is anchored at a fixed epoch so both engines feed
      // identical doubles to the co-moment aggregates
      // ts is NTZ: hop through LTZ (session tz is UTC) for the
      // fractional-seconds epoch both engines agree on
      graft.operators.Aggregates.groupOls(
        t(s, d, "events").withColumn("__x",
          (col("ts").cast("timestamp").cast("double") - lit(1.7040672e9))
            / lit(3600.0)),
        Seq("event_type"), "__x", "value")),

    "q_value_histogram" -> ((s, d) =>
      // 20-bin equi-width histogram of event values; bin arithmetic is
      // plain double ops on the shared min/width so DuckDB buckets
      // identically
      graft.operators.Aggregates.histogram(t(s, d, "events"),
        "value", 20)),

    "q_benford" -> ((s, d) =>
      // first-digit forensics over order totals: observed vs Benford
      // shares per digit with absolute deviations
      graft.operators.Aggregates.benford(t(s, d, "orders"),
        "o_totalprice")),

    "q_top_share" -> ((s, d) =>
      // Lorenz one-liner: the top decile's share of customer revenue
      graft.operators.Aggregates.topShare(
        t(s, d, "orders").groupBy(col("o_custkey"))
          .agg(sum(col("o_totalprice")).as("rev")), "rev", 0.9)),

    "q_acf" -> ((s, d) =>
      // autocorrelation of each event type's daily-mean series at
      // lags 1..5 — the seasonality/momentum screen
      graft.operators.Aggregates.autocorrelation(t(s, d, "events"),
        Seq("event_type"), "ts", "value", maxLag = 5)),

    "q_pacf" -> ((s, d) =>
      // partial autocorrelation at lags 1-3 (Durbin-Levinson over the
      // q_acf estimates): the AR-order screen — lag influence net of
      // what lower lags already explain
      graft.operators.Aggregates.pacf(t(s, d, "events"),
        Seq("event_type"), "ts", "value")),

    "q_mutual_info" -> ((s, d) =>
      // association strength between return flag and line status in
      // nats, with marginal entropies and sqrt-normalized NMI
      graft.operators.Aggregates.mutualInfo(t(s, d, "lineitem"),
        "l_returnflag", "l_linestatus")),

    "q_zipf_fit" -> ((s, d) =>
      // Zipf power-law fit over the top-1000 token frequencies:
      // ln(count) ~ ln(rank) OLS; slope near -1 is natural text
      graft.operators.Aggregates.zipfSlope(
        t(s, d, "documents")
          .select(explode(Text.tokens(lower(col("text")))).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy("w").agg(count(lit(1)).as("c")),
        "w", "c", topN = 1000)),

    "q_triangle_count" -> ((s, d) =>
      // graph cohesion of the part co-purchase graph (parts sharing an
      // urgent order): exact triangles via the degree-orientation
      // construction — the skew-proof wedge join
      graft.operators.Graph.triangleCount(urgentCopurchasePairs(s, d))),

    "q_attribution" -> ((s, d) =>
      // last-touch vs first-touch credit for purchase value across
      // the preceding event channels; untouched purchases go direct
      graft.operators.Sessions.touchAttribution(t(s, d, "events"),
        "user_id", "ts", "event_type", "purchase", Seq(col("event_id")))),

    "q_label_prop" -> ((s, d) =>
      // communities of the urgent-order co-purchase graph by
      // deterministic synchronous LPA (ties to the smallest label) —
      // the density-community companion to q_dup_components'
      // transitive-exact components. 3 fixed rounds, oracle-unrolled.
      graft.operators.Graph.labelPropagation(
          urgentCopurchasePairs(s, d), 3)
        .orderBy(col("id"))),

    "q_topk_per_group" -> ((s, d) => {
      // F2 UDAF on the graded path: top-3 parts per supplier by
      // revenue through the bounded-heap aggregator — k rows per
      // (partition, key) cross the shuffle instead of the window
      // form's full per-key candidate sort. Revenue rounded BEFORE
      // ranking so both engines rank identical doubles.
      val rev = t(s, d, "lineitem")
        .groupBy(col("l_suppkey"), col("l_partkey"))
        .agg(round(sum(col("l_extendedprice")), 2).as("revenue"))
      rev.groupBy(col("l_suppkey"))
        .agg(graft.functions.TopKAgg.topK(3, col("revenue"),
          col("l_partkey")).as("__top"))
        .select(col("l_suppkey"), posexplode(col("__top")).as(Seq("__rk", "__t")))
        .select(col("l_suppkey"), (col("__rk") + 1).cast("int").as("rank"),
          col("__t._2").as("l_partkey"), col("__t._1").as("revenue"))
    }),

    "q_volume_shipping" -> ((s, d) => {
      // TPC-H Q7 shape: bilateral trade volume between two nations by
      // ship year. The nation dim rides TWICE (supplier side, customer
      // side) — both copies broadcast, so the fact shuffles only on its
      // join keys; the symmetric-pair disjunction filters AFTER both
      // nation names are in scope (it references both sides, so no
      // single scan can absorb it — Catalyst still pushes the IN-list
      // halves to each broadcast dim).
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer"); val su = t(s, d, "supplier")
      val n1 = t(s, d, "nation").select(
        col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = t(s, d, "nation").select(
        col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      li.filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_3" &&
            col("cust_nation") === "NATION_7") ||
          (col("supp_nation") === "NATION_7" &&
            col("cust_nation") === "NATION_3"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
    }),

    "q_returned_items" -> ((s, d) => {
      // TPC-H Q10 shape: top-20 customers by revenue lost to returns in
      // one quarter. Quarter filter pushes to the orders scan, the
      // returnflag filter to the lineitem scan — both BEFORE the join;
      // revenue rounded before the top-k rank so engines order the same
      // doubles, custkey breaks ties deterministically.
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      val c = t(s, d, "customer")
      val n = t(s, d, "nation")
      Relational.topK(20, Seq(col("revenue").desc), Seq(col("c_custkey")))(
        li.filter(col("l_returnflag") === "R")
          .join(o.filter(
            col("o_orderdate") >= lit("1995-10-01").cast("timestamp") &&
            col("o_orderdate") < lit("1996-01-01").cast("timestamp")),
            col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("n_name"))
          .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue")))
    }),

    "q_top_supplier" -> ((s, d) => {
      // TPC-H Q15 shape: supplier(s) achieving the quarter's maximum
      // revenue. The "scalar subquery" is a 1-row max over the grouped
      // frame, broadcast back as a cross join — the per-supplier
      // aggregate is computed ONCE and reused for both the max and the
      // equality gate (no second scan, no window over all suppliers).
      val rev = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("total_revenue"))
      val top = rev.agg(max(col("total_revenue")).as("__max_rev"))
      rev.join(broadcast(top))
        .filter(col("total_revenue") === col("__max_rev"))
        .join(t(s, d, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),

    "q_disjunctive_revenue" -> ((s, d) => {
      // TPC-H Q19 shape: OR-of-ANDs spanning both sides of a fact-dim
      // join. Catalyst's "push extracted common factors" rewrite sends
      // the part-only half of each disjunct ((brand, size-range)) down
      // the broadcast part scan, so the dim shrinks before the join even
      // though the full predicate needs columns from both tables.
      val li = t(s, d, "lineitem")
      val p = t(s, d, "part")
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
    }),

    "q_priority_split" -> ((s, d) => {
      // TPC-H Q12 shape (conditional split aggregation; the testdata
      // carries no l_shipmode/receiptdate, so the split key is the
      // return flag and the lateness window rides on shipdate): per
      // flag, how many lines belong to critical-priority orders vs not
      // — one counting pass, the CASE folds into the aggregate.
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      li.filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          sum(when(col("o_orderpriority") === "1-URGENT" ||
            col("o_orderpriority") === "2-HIGH", 1L).otherwise(0L))
            .as("high_line_count"),
          sum(when(col("o_orderpriority") =!= "1-URGENT" &&
            col("o_orderpriority") =!= "2-HIGH", 1L).otherwise(0L))
            .as("low_line_count"))
    }),

    "q_auc" -> ((s, d) =>
      // does event value predict purchase? exact midrank Mann-Whitney
      // AUC over the full corpus — integer arithmetic to the final
      // division, distinct-value frame, no global sort of data rows
      Aggregates.auc(t(s, d, "events"),
        col("event_type") === "purchase", col("value"))),

    "q_calibration" -> ((s, d) =>
      // the third leg of the eval triad: decile reliability table —
      // does a higher event value actually mean a higher purchase
      // rate? pos_rate is an exact integer ratio; only mean_score
      // carries float accumulation (rounded)
      Aggregates.calibrationBins(t(s, d, "events"),
        col("event_type") === "purchase", col("value"))),

    "q_pr_curve" -> ((s, d) =>
      // the operating-point companion to q_auc: confusion quadrant +
      // precision/recall/F1 at the score deciles — data touched once,
      // sweep rides the distinct-score frame
      Aggregates.prCurve(t(s, d, "events"),
        col("event_type") === "purchase", col("value"))),

    "q_seasonal_decompose" -> ((s, d) =>
      // classical additive decomposition of daily event value:
      // centered 7-day MA trend, zero-centered weekly seasonal from
      // phase means, remainder — daily sums rounded ONCE so both
      // engines derive from identical doubles
      Aggregates.seasonalDecompose(t(s, d, "events"),
        col("ts").cast("timestamp"), col("value"))),

    "q_nelson_aalen" -> ((s, d) =>
      // cumulative-hazard companion to q_kaplan_meier over the same
      // time-to-first-purchase risk table: H(t) = sum d/n, survival
      // exp(-H) — the running sum is t-ordered so both engines add
      // identical terms in identical order
      graft.operators.Sessions.nelsonAalenToEvent(t(s, d, "events"),
        "user_id", "ts", col("event_type") === "purchase",
        horizonDays = 3)),

    "q_theil_sen" -> ((s, d) =>
      // robust trend of daily order revenue: median pairwise slope —
      // the calendar-bounded pair fan-out a bad day cannot drag
      Aggregates.theilSen(t(s, d, "orders"), "o_orderdate",
        "o_totalprice")),

    "q_mann_kendall" -> ((s, d) =>
      // monotonic-trend significance over the same daily frame:
      // tie-corrected S statistic + continuity-corrected z
      Aggregates.mannKendall(t(s, d, "orders"), "o_orderdate",
        "o_totalprice")),

    "q_price_elasticity" -> ((s, d) =>
      // log-log demand regression per brand: slope of ln(qty) on
      // ln(unit price) from pop moments in one hash aggregate
      Aggregates.olsByGroup(
        t(s, d, "lineitem")
          .join(broadcast(t(s, d, "part")
            .select(col("p_partkey"), col("p_brand"))),
            col("l_partkey") === col("p_partkey"))
          .withColumn("unit_price",
            col("l_extendedprice") / col("l_quantity")),
        Seq("p_brand"), "unit_price", "l_quantity",
        logX = true, logY = true)),

    "q_demand_classes" -> ((s, d) =>
      // XYZ demand-variability classes per part from weekly-qty CV —
      // the planning-stability twin of q_pareto_class's ABC
      Aggregates.xyzClasses(t(s, d, "lineitem"), "l_partkey",
        "l_shipdate", "l_quantity")),

    "q_rfm_segments" -> ((s, d) =>
      // RFM quintile segmentation — scores are exact distributed
      // NTILE(5) via the bucketed-rank decomposition, no
      // single-partition window
      Aggregates.rfmSegments(t(s, d, "orders"), "o_custkey",
        "o_orderdate", "o_totalprice")),

    "q_interarrival" -> ((s, d) =>
      // per-customer order cadence: mean gap, CV and Goh–Barabási
      // burstiness from one lag window + one aggregate
      graft.operators.Sessions.interArrival(t(s, d, "orders"),
        "o_custkey", "o_orderdate")),

    "q_cohort_ltv" -> ((s, d) =>
      // cohort lifetime-value curve: first-order-month cohorts,
      // monthly revenue, cumulative LTV per member over the
      // calendar-bounded (cohort x age) frame
      graft.operators.Sessions.cohortLtv(t(s, d, "orders"),
        "o_custkey", "o_orderdate", "o_totalprice")),

    "q_lead_lag" -> ((s, d) =>
      // does order revenue lead shipment revenue? Pearson r of the
      // two daily series at every lag in [-10, +10] — the peak |r|
      // lag is the discovered order-to-ship lead time
      Aggregates.crossCorrelation(
        t(s, d, "orders"), "o_orderdate", "o_totalprice",
        t(s, d, "lineitem"), "l_shipdate", "l_extendedprice")),

    "q_kcore" -> ((s, d) =>
      // 12-core of the urgent-order co-purchase graph: synchronous
      // peeling, idempotent after the fixpoint so the 8-round
      // unrolled oracle is exact wherever convergence lands (measured
      // fixpoint: 5 rounds at sf0.01, 7 at sf0.1)
      graft.operators.Graph.kCore(urgentCopurchasePairs(s, d), 12, 8)),

    "q_seasonal_outliers" -> ((s, d) =>
      // days whose decompose remainder exceeds 3 robust sigmas —
      // the STL-residual anomaly screen over daily order revenue
      Aggregates.seasonalOutliers(t(s, d, "orders"),
        col("o_orderdate"), col("o_totalprice"))),

    "q_ohlc_bars" -> ((s, d) =>
      // finance-style OHLC day bars per event type: open/close via
      // min_by/max_by over a (ts, id) struct — one hash aggregate,
      // shuffle volume is bars not rows
      Aggregates.ohlcBars(t(s, d, "events"), Seq("event_type"), "ts",
        "value", "event_id")),

    "q_forecast_eval" -> ((s, d) =>
      // walk-forward seasonal-naive backtest of daily revenue:
      // 28-day holdout forecast by value 7 days earlier, scored
      // MAE/RMSE/sMAPE/MASE in one pass over the daily frame
      Aggregates.backtestSeasonalNaive(t(s, d, "orders"),
        "o_orderdate", "o_totalprice")),

    "q_weighted_median" -> ((s, d) =>
      // quantity-weighted price quartiles per return flag — exact
      // (dyadic thresholds over integral cumulative weights)
      Aggregates.weightedPercentiles(t(s, d, "lineitem"),
        Seq("l_returnflag"), "l_extendedprice", "l_quantity")),

    "q_entity_resolution" -> ((s, d) => {
      // MDM-style entity resolution, three operators composed: blocked
      // edit-distance match edges (fuzzyPairs) -> exact transitive
      // closure (connectedComponents) -> survivorship (golden record =
      // longest text, ties to the smallest id). Only merged entities
      // (>= 2 members) are emitted — the singleton tail stays put.
      val docs = t(s, d, "documents")
        .filter(substring(col("text"), 1, 40).rlike("^[ -~]*\\z"))
      val edges = graft.operators.Joins.fuzzyPairs(docs, "doc_id", "text")
        .select(col("a_id").as("id_a"), col("b_id").as("id_b"))
      graft.operators.Graph.connectedComponents(
          docs.select(col("doc_id").as("id")), edges)
        .join(docs.select(col("doc_id").as("id"), col("n_chars")),
          Seq("id"))
        .groupBy(col("component_id").as("entity_id"))
        .agg(count(lit(1)).as("n_members"),
          min_by(col("id"), struct((-col("n_chars")).as("__nc"),
            col("id"))).as("golden_doc"),
          sum(col("n_chars")).as("total_chars"))
        .filter(col("n_members") >= 2)
    }),

    "q_cuped" -> ((s, d) => {
      // CUPED on a synthetic split of January: pre-period value sums
      // (Jan 1-15) as the covariate, experiment-period sums (Jan 16+)
      // as the metric, arms by user-id parity — how much variance the
      // pre-period knowledge removes
      val cut = lit("2024-01-16").cast("timestamp")
      val units = t(s, d, "events")
        .groupBy(col("user_id"))
        .agg(
          coalesce(sum(when(col("ts").cast("timestamp") < cut,
            col("value"))), lit(0.0)).as("x"),
          coalesce(sum(when(col("ts").cast("timestamp") >= cut,
            col("value"))), lit(0.0)).as("y"))
      Aggregates.cuped(units, pmod(col("user_id"), lit(2)),
        col("x"), col("y"))
    }),

    "q_frequent_triples" -> ((s, d) => {
      // A-priori frequent brand triples in orders at 0.35% fractional
      // support — baskets prune to frequent items BEFORE the triple
      // expansion (downward closure), which is what bounds the
      // per-basket C(w,3) blowup at scale
      val bi = t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
      Aggregates.frequentTriples(bi, "basket", "item", 0.0035)
    }),

    "q_day_allocation" -> ((s, d) => {
      // utilization split: session time allocated to the calendar days
      // each session touches, in exact integer microseconds — the
      // interval-to-grid allocation every usage/revenue-recognition
      // rollup needs; map-only explode, one day-level exchange
      val sess = graft.operators.Sessions.sessionStats(t(s, d, "events"),
        "user_id", "ts", 21600, Seq(col("event_id")))
      graft.operators.Sessions.allocateToDays(sess, "sess_start", "sess_end")
        .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"))
        .agg(sum(col("overlap_us")).as("total_us"),
          count(lit(1)).as("n_sessions"))
    }),

    "q_distinctive_terms" -> ((s, d) =>
      // what vocabulary makes each source different — c-TF-IDF with
      // each source as one concatenated document; top-3 terms per
      // source, rounded-then-ranked for cross-engine reproducibility
      graft.llm.Relevance.distinctiveTerms(
        t(s, d, "documents"), "source", "text", 3)),

    "q_gains" -> ((s, d) => {
      // cumulative gains/lift by score decile: how much of the
      // positive class the top-k% of scores captures, and the lift
      // over random targeting. Every ratio divides int64 counts —
      // exact across engines; the window rides the 10-row bin frame
      import org.apache.spark.sql.expressions.Window
      val base = t(s, d, "events").select(
        col("value").as("__v"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("__y"))
      val cuts = base.agg(expr(
        s"percentile(__v, array(${(1 to 9).map(_ / 10.0).mkString(",")}))")
        .as("__cuts"))
      val bins = base.crossJoin(broadcast(cuts))
        .withColumn("bin",
          size(filter(col("__cuts"), c => c < col("__v"))).cast("long"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("__y")).as("pos"))
      val wDesc = Window.orderBy(col("bin").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = broadcast(bins.agg(sum(col("n")).as("__N"),
        sum(col("pos")).as("__P")))
      bins.crossJoin(tot)
        .select(col("bin"), col("n"), col("pos"),
          round(sum(col("n")).over(wDesc).cast("double") / col("__N"), 6)
            .as("cum_share"),
          round(sum(col("pos")).over(wDesc).cast("double") / col("__P"), 6)
            .as("cum_capture"),
          round((sum(col("pos")).over(wDesc).cast("double") / col("__P")) /
            (sum(col("n")).over(wDesc).cast("double") / col("__N")), 6)
            .as("lift"))
    }),

    "q_holt" -> ((s, d) =>
      // per-user Holt level+trend smoothing — the trend-following
      // forecast next to q_ewma's level-only smoother; bit-identical
      // to the recursive-CTE oracle (binary-exact α=0.25, β=0.125)
      graft.operators.Sessions.holt(
        t(s, d, "events").select("user_id", "ts", "event_id", "value"),
        "user_id", Seq("ts", "event_id"), "value", 0.25, 0.125)
        .select(col("user_id"), col("event_id"), col("value"),
          col("level"), col("trend"), col("forecast"))),

    "q_holt_winters" -> ((s, d) => {
      // Holt-Winters additive smoothing of per-type daily event value
      // (weekly season) — the seasonal top rung of the ewma -> holt
      // ladder, bit-identical to the recursive-CTE oracle carrying
      // the seasonal vector as a list (dyadic alpha/beta/gamma =
      // 0.5/0.25/0.125, binary-exact)
      val daily = t(s, d, "events")
        .groupBy(col("event_type"),
          to_date(col("ts").cast("timestamp")).as("day"))
        .agg(round(sum(col("value")), 6).as("y"))
      graft.operators.Sessions.holtWinters(daily, "event_type",
          Seq("day"), "y", 0.5, 0.25, 0.125, 7)
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("y"), col("level"), col("trend"), col("forecast"))
    }),

    "q_ewma" -> ((s, d) =>
      // per-user EWMA of event values — the batch twin of the
      // streaming Stateful EWMA, bit-identical to the oracle's
      // recursive-CTE fold (same sequential recurrence, no rounding
      // tolerance needed)
      graft.operators.Sessions.ewma(
        t(s, d, "events").select("user_id", "ts", "event_id", "value"),
        "user_id", Seq("ts", "event_id"), "value", 0.25)
        .select(col("user_id"), col("event_id"), col("value"),
          col("ewma"))),

    "q_rank_suite" -> ((s, d) => {
      // the full SQL rank-function family over one window frame:
      // rank / dense_rank / percent_rank / cume_dist / ntile on the
      // per-flag monthly revenue, ordering made total by the month
      // tie-break so every function is deterministic; percent_rank
      // and cume_dist are integer ratios both engines divide
      // identically — no rounding
      import org.apache.spark.sql.expressions.Window
      val m = t(s, d, "lineitem")
        .groupBy(col("l_returnflag"),
          date_format(col("l_shipdate"), "yyyy-MM").as("month"))
        .agg(round(sum(col("l_extendedprice")), 2).as("revenue"))
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("revenue").desc, col("month"))
      m.select(col("l_returnflag"), col("month"), col("revenue"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        percent_rank().over(w).as("prnk"),
        cume_dist().over(w).as("cdist"),
        ntile(4).over(w).cast("long").as("quartile"))
    }),

    "q_join_cardinality" -> ((s, d) =>
      // join-size preflight: the exact |lineitem ⋈ orders| row count
      // from key-count frames — fact rows never cross an exchange; the
      // oracle materializes the actual join and counts it, proving the
      // Σ cntL·cntR identity exactly
      graft.operators.Joins.joinCardinality(
        t(s, d, "lineitem"), col("l_orderkey"),
        t(s, d, "orders"), col("o_orderkey"))),

    "q_join_blowup" -> ((s, d) =>
      // the culprit half of the preflight: which users would explode an
      // events self-join on user_id — per-key multiplicities and the
      // output-rows product, top-10. These are the keys to salt,
      // filter, or pre-aggregate before attempting the real join.
      graft.operators.Joins.joinBlowupKeys(
        t(s, d, "events"), col("user_id"),
        t(s, d, "events"), col("user_id"), 10)),

    "q_qq_drift" -> ((s, d) => {
      // where did the purchase-value distribution sit vs clicks?
      // decile-by-decile shift — the location companion to q_ks_drift
      val e = t(s, d, "events")
      graft.operators.Aggregates.qqDrift(
        e.filter(col("event_type") === "click"),
        e.filter(col("event_type") === "purchase"), "value")
    }),

    "q_kaplan_meier" -> ((s, d) =>
      // product-limit time-to-first-purchase curve under a 3-day
      // fixed follow-up: users converting within 3 days of their
      // first event are events, the rest administratively censored
      // at the horizon — a genuine event/censor mix at every SF
      graft.operators.Sessions.kaplanMeierToEvent(t(s, d, "events"),
        "user_id", "ts", col("event_type") === "purchase",
        horizonDays = 3)),

    "q_log_rank" -> ((s, d) =>
      // two-cohort log-rank over the same time-to-first-purchase
      // frame: does A/B cohort membership (user_id parity) shift the
      // conversion-time distribution? chi2 = (O-E)^2 / sum V
      graft.operators.Sessions.logRank(t(s, d, "events"),
        "user_id", "ts", col("event_type") === "purchase",
        when(col("user_id") % 2 === 0, "even").otherwise("odd"),
        horizonDays = 3)),

    "q_rmst" -> ((s, d) =>
      // restricted mean survival time: area under the q_kaplan_meier
      // step curve up to the 3-day horizon — average conversion-free
      // days, the single-number summary robust to crossing hazards
      graft.operators.Sessions.rmst(t(s, d, "events"),
        "user_id", "ts", col("event_type") === "purchase",
        horizonDays = 3)),

    "q_cox_ph" -> ((s, d) =>
      // Cox proportional-hazards hazard ratio for the parity cohorts
      // (binary covariate, Breslow ties): 3 fixed Newton steps from
      // beta=0, hash-checked against the same 3 steps unrolled as
      // scalar CTEs in the oracle (the q_sssp/q_markov_attrib
      // fixed-round protocol); score_chi2 is the beta=0 score test
      graft.operators.Sessions.coxPh(t(s, d, "events"),
        "user_id", "ts", col("event_type") === "purchase",
        when(col("user_id") % 2 === 0, "even").otherwise("odd"),
        treated = "even", horizonDays = 3, iters = 3)),

    "q_multi_touch" -> ((s, d) =>
      // fractional multi-touch attribution: U-shaped position model
      // (40/20/40) + time-decay (2^(-age/7d), normalized per
      // conversion) over purchase journeys — the fractional models
      // q_attribution's winner-take-all last/first pair omits
      graft.operators.Sessions.multiTouchAttribution(
        t(s, d, "events"), "user_id", "ts", "event_type", "purchase",
        tie = "event_id", halfLifeDays = 7.0)),

    "q_diff_in_diff" -> ((s, d) =>
      // 2x2 difference-in-differences on purchase value: parity
      // cohorts x before/after Jan 16 — treatment effect net of the
      // cohort baseline gap and the common time trend
      Aggregates.diffInDiff(
        t(s, d, "events").filter(col("event_type") === "purchase"),
        col("value"), col("user_id") % 2 === 0,
        col("ts").cast("timestamp") >=
          lit("2024-01-16").cast("timestamp"))),

    "q_kmeans" -> ((s, d) =>
      // exact fixed-round Lloyd k-means over the embedding corpus:
      // 2 assign->update sweeps from the 4 smallest-id seeds, every
      // discrete decision engine-reproducible (left-folded distances,
      // cid tie-breaks, centroid coordinates rounded at 6) — the
      // oracle unrolls the identical sweeps over DuckDB list ops
      graft.llm.Similarity.kmeansFit(t(s, d, "embeddings"),
        "vec_id", "embedding", k = 4, rounds = 2)),

    "q_competing_risks" -> ((s, d) =>
      // Aalen-Johansen cumulative incidence: first purchase and first
      // error COMPETE for each user inside the 3-day follow-up (ties
      // go to purchase); CIF_c(t) = sum S(t-)·d_c/n with the
      // all-cause KM left limit — never over-counts like
      // one-minus-KM-per-cause does
      graft.operators.Sessions.competingRisks(t(s, d, "events"),
        "user_id", "ts",
        Seq("purchase" -> (col("event_type") === "purchase"),
          "error" -> (col("event_type") === "error")),
        horizonDays = 3)),

    "q_dedup_profile" -> ((s, d) => {
      // dedup observability: cluster-size histogram of exact duplicate
      // groups with corpus share — sizes the dedup stage before it
      // runs. The corpus plants only NEAR-dups, so a deterministic
      // exact-dup slice (every 5th doc re-ingested under a shifted id)
      // gives the histogram real mass at size 2
      val docs = t(s, d, "documents")
      val reingested = docs.filter(col("doc_id") % 5 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      graft.llm.Dedup.sizeProfile(docs.unionByName(reingested),
        "doc_id", "text")
    }),

    "q_ngram_novelty" -> ((s, d) =>
      // per-doc share of 3-gram shingles unique to the doc — the
      // originality signal pairwise dedup misses (templated text
      // scores low without having an exact duplicate)
      graft.llm.Dedup.ngramNovelty(t(s, d, "documents"),
        "doc_id", "text", shingleN = 3)),

    "q_table_diff" -> ((s, d) => {
      // keyed snapshot reconciliation: deterministic synthetic OLD
      // (drops keys % 97) and NEW (drops % 89, bumps price on % 13)
      // views of orders, diffed into added/removed/changed/unchanged
      // with per-column drift counts — the backfill audit
      val orders = t(s, d, "orders")
      val old = orders.filter(col("o_orderkey") % 97 =!= 0)
      val nw = orders.filter(col("o_orderkey") % 89 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 1000.0)
            .otherwise(col("o_totalprice")))
      graft.etl.Cdc.diffTables(old, nw, Seq("o_orderkey"),
        Seq("o_totalprice", "o_orderstatus"))
    }),

    "q_late_orders" -> ((s, d) =>
      // TPC-H Q4 shape: orders with ANY line shipped 60+ days after
      // the order date, counted per priority — the EXISTS semi-join
      // keeps the probe side unexploded (no per-line fan-out)
      t(s, d, "orders")
        .join(t(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") +
              expr("INTERVAL 60 DAYS"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_late"))),

    "q_blame_supplier" -> ((s, d) => {
      // TPC-H Q21 shape: suppliers who were the SOLE late shipper in
      // a multi-supplier order. Pairs are distinct (order, supplier)
      // frames — the doubly-filtered blame set stays id-width through
      // both the sole-late and multi-supplier reductions; the name
      // join broadcasts the supplier dim
      // r15: ONE pass over lineitem instead of two (the late set and
      // the all-pairs set were separate scans + distincts + joins).
      // (order, supplier) pairs aggregate once with max(l_shipdate);
      // a pair is late iff ANY of its lineitems shipped past
      // o_orderdate + 90d, and max > cutoff <=> exists > cutoff, so
      // the flag computed from the max is the same late set. The
      // fanned repartition on ok pre-shuffles the near-unique-key
      // aggregate off the scan task AND satisfies the per-order
      // rollup (subset clustering): one exchange end to end before
      // the s_name aggregate.
      val pairs = Skew.fanOut(t(s, d, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
            col("l_shipdate").as("__sd")), Seq(col("ok")))
        .groupBy(col("ok"), col("sk"))
        .agg(max(col("__sd")).as("__mx"))
      val flagged = pairs.join(broadcast(t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderdate"))),
          col("ok") === col("o_orderkey"))
        .select(col("ok"), col("sk"),
          (col("__mx") > col("o_orderdate") + expr("INTERVAL 90 DAYS"))
            .as("__late"))
      val sole = flagged.groupBy(col("ok"))
        .agg(count(lit(1)).as("__ns"),
          sum(when(col("__late"), 1L).otherwise(0L)).as("__nl"),
          max(when(col("__late"), col("sk"))).as("sk"))
        .filter(col("__ns") > 1 && col("__nl") === 1)
      Relational.topK(20, Seq(col("numwait").desc, col("s_name")),
        Seq(col("s_name"), col("numwait")))(
        sole.join(broadcast(t(s, d, "supplier")
            .select(col("s_suppkey"), col("s_name"))),
            col("sk") === col("s_suppkey"))
          .groupBy(col("s_name"))
          .agg(count(lit(1)).as("numwait")))
    }),

    "q_pareto_class" -> ((s, d) =>
      // ABC inventory classes over per-part revenue: A holds the
      // first 80% of cumulative revenue, B to 95%, C the tail —
      // cumulative ranks via the gini-style bucketed decomposition
      graft.operators.Aggregates.paretoClasses(
        t(s, d, "lineitem").groupBy(col("l_partkey"))
          .agg(sum(col("l_extendedprice")).as("rev")),
        "l_partkey", "rev")),

    "q_period_over_period" -> ((s, d) =>
      // monthly revenue with MoM and YoY growth — the dashboard page
      graft.operators.Aggregates.periodOverPeriod(
        t(s, d, "orders"), "o_orderdate", "o_totalprice")),

    "q_cusum_shift" -> ((s, d) =>
      // single change-point estimate per event type: the day where
      // the cumulative deviation from the series mean peaks
      graft.operators.Aggregates.cusumChangePoint(t(s, d, "events"),
        Seq("event_type"), "ts", "value")),

    "q_rolling_active" -> ((s, d) =>
      // exact rolling 7-day active users by day, via the distinct
      // (user, day) explode — Spark windows can't COUNT DISTINCT
      graft.operators.Sessions.rollingActive(t(s, d, "events"),
        "user_id", "ts", days = 7)),

    "q_psi_drift" -> ((s, d) => {
      // Population Stability Index: first-fortnight event values as
      // the expected sample, the remainder as actual — the standard
      // model-monitoring drift score with open-ended edge bins
      val e = t(s, d, "events")
      val cutoff = lit("2024-01-15").cast("timestamp_ntz")
      graft.operators.Aggregates.psi(
        e.filter(col("ts") < cutoff), e.filter(col("ts") >= cutoff),
        "value")
    }),

    "q_revenue_gini" -> ((s, d) =>
      // customer revenue concentration: Gini over per-customer order
      // totals via the bucketed-rank decomposition (oracle runs the
      // single global row_number)
      graft.operators.Aggregates.gini(
        t(s, d, "orders").groupBy(col("o_custkey"))
          .agg(sum(col("o_totalprice")).as("rev")), "rev")),

    "q_source_entropy" -> ((s, d) =>
      // language-mix diversity per document source (Shannon entropy,
      // nats) — the one-note-source screen
      graft.operators.Aggregates.entropy(t(s, d, "documents"),
        Seq("source"), "lang")),

    "q_conversion_ci" -> ((s, d) =>
      // per-type rate of above-median-value events with Wilson 95% CI
      // (closed-form arithmetic, engine-identical)
      graft.operators.Aggregates.wilsonInterval(
        t(s, d, "events").withColumn("__hit", col("value") > 10.0),
        Seq("event_type"), "__hit")),

    "q_top_paths" -> ((s, d) =>
      // most common first-3-event sequences per user (bounded path
      // vocabulary: 5^3); deterministic assembly via the rank-sorted
      // struct array
      graft.operators.Sessions.topPaths(t(s, d, "events"),
        "user_id", "ts", "event_type", Seq(col("event_id")))),

    "q_seasonal_baseline" -> ((s, d) => {
      // seasonal-naive backtest: hour-of-day train means predict the
      // final week; per-type MAE (the baseline any forecaster must
      // beat)
      val e = t(s, d, "events")
      val cutoff = lit("2024-01-25").cast("timestamp_ntz")
      graft.operators.Aggregates.seasonalBaseline(
        e.filter(col("ts") < cutoff), e.filter(col("ts") >= cutoff),
        Seq("event_type"), "ts", "value")
    }),

    "q_agg_merge" -> ((s, d) => {
      // materialized-view refresh: per-type daily gold (count/sum/
      // min/max of value) built from the first fortnight, then the
      // remainder folded in as a batch — the contract is row-equality
      // with the full recompute, so the oracle IS the recompute. The
      // cutoff lands MID-day so the boundary day exists on both sides
      // and the fold genuinely merges partial aggregates.
      val e = t(s, d, "events")
      val cutoff = lit("2024-01-15 12:00:00").cast("timestamp_ntz")
      def aggregate(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_v"),
            min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      graft.etl.Cdc.mergeAggregates(
          aggregate(e.filter(col("ts") < cutoff)),
          aggregate(e.filter(col("ts") >= cutoff)),
          Seq("event_type", "day"),
          sumCols = Seq("n_events", "sum_v"),
          minCols = Seq("min_v"), maxCols = Seq("max_v"))
        .select(col("event_type"), col("day"), col("n_events"),
          round(col("sum_v"), 4).as("sum_v"), col("min_v"), col("max_v"))
    }),

    "q_ab_ttest" -> ((s, d) => {
      // A/B summary: Welch t between click and purchase values
      // (identical co-moment arithmetic both engines, rounded 6dp)
      val e = t(s, d, "events")
      graft.operators.Aggregates.welchTTest(
        e.filter(col("event_type") === "click"),
        e.filter(col("event_type") === "purchase"), "value")
    }),

    "q_ks_drift" -> ((s, d) => {
      // distribution-shift screen: KS statistic between click and
      // purchase value samples; two-level prefix sum vs the oracle's
      // single global running sum
      val e = t(s, d, "events")
      graft.operators.Aggregates.ksTwoSample(
        e.filter(col("event_type") === "click"),
        e.filter(col("event_type") === "purchase"), "value")
    }),

    "q_overlap_gate" -> ((s, d) => {
      // audience-overlap estimate: clickers ∩ purchasers by HLL
      // inclusion-exclusion, exact twin + rel_err stamped in-row
      // (measured 0.0/0.007/0.067 at sf0.001/0.01/0.1 vs the 0.15
      // floor — inclusion-exclusion compounds three sketches)
      val e = t(s, d, "events")
      graft.operators.Aggregates.distinctOverlapGate(
          e.filter(col("event_type") === "click"),
          e.filter(col("event_type") === "purchase"), "user_id")
        .filter(col("pass"))
    }),

    "q_basket_lift" -> ((s, d) => {
      // market-basket association over order baskets of part brands:
      // support + lift per co-purchased brand pair (brand vocabulary
      // is bounded, so the pair frame is items^2-bounded). Top-20 by
      // lift with pair tiebreak.
      val bi = t(s, d, "lineitem")
        .join(broadcast(t(s, d, "part").select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_brand"))
      graft.operators.Aggregates.basketLift(bi, "l_orderkey", "p_brand")
        .orderBy(col("lift").desc, col("item_a"), col("item_b"))
        .limit(20)
    }),

    "q_funnel_latency" -> ((s, d) =>
      // time-to-convert per funnel transition (count / mean / exact
      // median seconds among converters)
      graft.operators.Sessions.funnelLatency(t(s, d, "events"),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))),

    "q_peak_concurrency" -> ((s, d) => {
      // peak simultaneous 10-minute-gap sessions per day: two-level
      // prefix sum (day windows + bounded carry frame) — the oracle
      // runs the equivalent single global running sum
      val sess = graft.operators.Sessions.sessionStats(t(s, d, "events"),
        "user_id", "ts", 600, Seq(col("event_id")))
      graft.operators.Sessions.peakConcurrency(sess,
        "sess_start", "sess_end")
    }),

    "q_table_profile" -> ((s, d) =>
      // long-form schema profile of orders: per-column null + exact
      // distinct counts in one pass (the multi-distinct Expand plan is
      // the oracle-duty choice; exact=false flips to HLL++ at scale).
      // fanOut: the Expand multiplies every scanned row 6x and the
      // partial distinct aggregates hash near-unique keys — measured
      // as a 736 ms single task on the single-row-group scan
      Relational.profileColumns(Skew.fanOut(t(s, d, "orders"),
          Seq(col("o_orderkey"))),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"))),

    "q_fuzzy_pairs" -> ((s, d) =>
      // edit-distance near-dup rung: blocked Levenshtein pairs over
      // 40-char prefixes. ASCII-prefix docs only — Spark's levenshtein
      // counts CODEPOINTS, DuckDB's counts BYTES, and the two agree
      // exactly on the ASCII plane (every planted near-dup pair
      // survives the filter at both graded scales). \z not $: Java's
      // $ matches before a trailing newline, RE2's does not — the
      // absolute anchor keeps both engines gating identical docs
      // even if the corpus gains newline-terminated text
      graft.operators.Joins.fuzzyPairs(
        t(s, d, "documents")
          .filter(substring(col("text"), 1, 40).rlike("^[ -~]*\\z")),
        "doc_id", "text")),

    "q_depth_histogram" -> ((s, d) =>
      // 10-bucket equi-depth histogram of order totals: percentile
      // cutpoints (exact, so DuckDB agrees) with strictly-below bucket
      // assignment
      graft.operators.Aggregates.histogramEquiDepth(
        t(s, d, "orders"), "o_totalprice", 10)),

    "q_winsorized_stats" -> ((s, d) =>
      // outlier-robust mean of event values per type, clipped into the
      // [p05, p95] band
      graft.operators.Aggregates.winsorizedStats(t(s, d, "events"),
        Seq("event_type"), "value", 0.05, 0.95)),

    // ---- sequence analytics + robust stats (round 9) ----
    "q_event_transitions" -> ((s, d) =>
      // first-order Markov matrix over per-user event streams:
      // transition counts and row-normalized probabilities. Counts are
      // integers, so p is bit-identical across engines.
      graft.operators.Sessions.transitionMatrix(t(s, d, "events"),
        "user_id", "ts", "event_type", Seq(col("event_id")))),

    "q_mad_outliers" -> ((s, d) =>
      // robust per-type outlier profile: EXACT median/MAD so DuckDB
      // verifies cell-for-cell; threshold 3 x 1.4826 x MAD
      graft.operators.Aggregates.madOutliers(t(s, d, "events"),
        Seq("event_type"), "value", 3.0)),

    "q_scd2_merge" -> ((s, d) => {
      // incremental CDC path: historize the first fortnight, MERGE the
      // remainder as a batch — the contract says the result row-equals
      // the full recompute, so the oracle IS the full recompute.
      // Touched-key rebuild only; untouched history anti-joins through.
      val ev = t(s, d, "events")
      val cutoff = lit("2024-01-15").cast("timestamp_ntz")
      val hist = graft.etl.Cdc.scd2(ev.filter(col("ts") < cutoff),
        "user_id", "ts", Seq("event_type"))
      graft.etl.Cdc.scd2Merge(hist, ev.filter(col("ts") >= cutoff),
          "user_id", "ts", Seq("event_type"))
        .select(col("user_id"), col("event_type"),
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss")
            .as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss")
            .as("valid_to"),
          col("is_current"), col("n_obs"))
    }),

    "q_scd2_history" -> ((s, d) =>
      // SCD2 historization of each user's event_type stream: one row
      // per run of identical values with validity stitching —
      // timestamps formatted at second grain (shared convention with
      // q_sessionize: nanos vs micros readers agree at seconds)
      graft.etl.Cdc.scd2(t(s, d, "events"), "user_id", "ts",
          Seq("event_type"), Seq(col("event_id")))
        .select(col("user_id"), col("event_type"),
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss")
            .as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss")
            .as("valid_to"),
          col("is_current"), col("n_obs"))),

    // ---- text-overlap eval + set-op sketch + streaks (round 9) ----
    "q_rouge_bigram" -> ((s, d) =>
      // generation-eval / symmetric-leak screen: ROUGE-2 P/R/F1 of
      // each doc against the NEXT doc of its source (deterministic
      // lead pairing — near-dup planted docs surface as high-F1 pairs)
      graft.llm.Eval.rougeN(docPairs(s, d), "doc_id", "cand", "ref", 2)),

    "q_bleu" -> ((s, d) =>
      // unsmoothed BLEU-2 over the same pairs: geometric mean of
      // clipped 1/2-gram precisions x brevity penalty
      graft.llm.Eval.bleu(docPairs(s, d), "doc_id", "cand", "ref", 2)),

    "q_theta_sketch_gate" -> ((s, d) => {
      // KMV/theta set-operation sketch vs its exact twin, error bounds
      // pinned IN-ROW (the q_cms_gate protocol): part:supp combos seen
      // under returnflag R vs A (~19k distinct each at sf0.01, ~5%
      // Jaccard). k=4096: per-set RSE 1/sqrt(k-2) ~ 1.6% (0.1 bound =
      // 6 sigma); the intersection is sampled at rate theta ~ k/|A∪B|
      // ~ 0.11 -> ~207 shared samples, SD ~ 7%, so the 0.25 bound is
      // ~3.5 sigma and survives a testdata regeneration that halves
      // the overlap. A drifting sketch fails `pass` and drops the row
      // — the driver's rows check catches it.
      // r15 restructure: ONE grouped pass over the distinct (part,
      // supp) pairs with per-role membership flags replaces the old
      // {full-row checkpoint, two distinct() checkpoints, an
      // intersection join} — three exchanges and a join collapse into
      // one near-unique-key aggregate (pre-shuffled off the
      // single-row-group scan task, see q_pagerank). The KMV sketch
      // keeps the k smallest DISTINCT hash values (KmvAgg), so
      // sketching the distinct key set is value-identical to
      // sketching the raw rows; the ps string materializes once per
      // distinct pair, after the aggregate.
      val g = t(s, d, "lineitem")
        .filter(col("l_returnflag").isin("R", "A"))
        .select(col("l_partkey"), col("l_suppkey"), col("l_returnflag"))
        .repartition(col("l_partkey"), col("l_suppkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(max(col("l_returnflag") === "R").as("in_a"),
          max(col("l_returnflag") === "A").as("in_b"))
        .select(concat_ws(":", col("l_partkey"), col("l_suppkey")).as("ps"),
          col("in_a"), col("in_b"))
        .localCheckpoint(false)
      val a = g.filter(col("in_a")).select("ps")
      val b = g.filter(col("in_b")).select("ps")
      val est = Aggregates.thetaSketchCompare(a, b, "ps", 4096)
      val exact = g.agg(
          sum(when(col("in_a"), 1L).otherwise(0L)).as("exact_a"),
          sum(when(col("in_b"), 1L).otherwise(0L)).as("exact_b"),
          sum(when(col("in_a") && col("in_b"), 1L).otherwise(0L))
            .as("exact_inter"))
        .withColumn("exact_union",
          col("exact_a") + col("exact_b") - col("exact_inter"))
      def rel(e: String, x: String) =
        abs(col(e) - col(x)) / col(x).cast("double")
      est.crossJoin(broadcast(exact))
        .withColumn("rel_a", round(rel("est_a", "exact_a"), 4))
        .withColumn("rel_b", round(rel("est_b", "exact_b"), 4))
        .withColumn("rel_inter", round(rel("est_intersection", "exact_inter"), 4))
        .withColumn("rel_union", round(rel("est_union", "exact_union"), 4))
        .withColumn("pass",
          col("rel_a") <= 0.1 && col("rel_b") <= 0.1 &&
            col("rel_inter") <= 0.25 && col("rel_union") <= 0.1)
        .filter(col("pass"))
        .select(col("exact_a"), round(col("est_a"), 1).as("est_a"),
          col("exact_b"), round(col("est_b"), 1).as("est_b"),
          col("exact_inter"),
          round(col("est_intersection"), 1).as("est_inter"),
          col("exact_union"), round(col("est_union"), 1).as("est_union"),
          col("rel_a"), col("rel_b"), col("rel_inter"), col("rel_union"),
          col("pass"))
    }),

    "q_activity_streaks" -> ((s, d) =>
      // gaps-and-islands: longest consecutive-day activity streak per
      // user, reported as the streak-length distribution
      graft.operators.Sessions.maxStreak(t(s, d, "events"), "user_id", "ts")
        .groupBy(col("max_streak"))
        .agg(count(lit(1)).as("n_users"))),

    "q_compress_ratio" -> ((s, d) =>
      // rows-only + in-row sanity band: DEFLATE compression-ratio
      // quality signal per source (no zlib in the SQL oracle; the
      // kernel's determinism + known-string behavior is CompressSpec's
      // job). Band: synthetic prose must land strictly inside
      // (0.01, 1.2) with per-source means in [0.05, 0.95].
      t(s, d, "documents")
        .select(col("source"),
          graft.plans.CompressExpr.deflateRatio(col("text")).as("r"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("r")), 4).as("avg_ratio"),
          round(min(col("r")), 4).as("min_ratio"),
          round(max(col("r")), 4).as("max_ratio"))
        .withColumn("pass",
          col("min_ratio") > 0.01 && col("max_ratio") < 1.2 &&
            col("avg_ratio").between(0.05, 0.95))
        .filter(col("pass"))),

    "q_pmi_collocations" -> ((s, d) =>
      // phrase mining: top-30 adjacent bigrams by pointwise mutual
      // information (support floor 5) — the collocation ranking that
      // surfaces multi-word expressions raw frequency buries
      graft.llm.Relevance.pmiCollocations(
        t(s, d, "documents"), "doc_id", "text", 5, 30)),

    "q_top_other" -> ((s, d) =>
      // reporting rollup: top-5 customers by revenue per order
      // priority PLUS an Other bucket so group totals survive (a bare
      // top-k drops the tail). Re-rounded after the Other sum so the
      // bucket's float is engine-stable.
      Relational.topNOther(t(s, d, "orders"), "o_orderpriority",
          "o_custkey", round(sum(col("o_totalprice")), 2), 5)
        .withColumn("measure", round(col("measure"), 2))),

    "q_twap" -> ((s, d) =>
      // time-weighted average of each user's stepwise value stream —
      // the irregular-tick mean that doesn't over-count bursts; the
      // plain mean rides along so the correction is visible
      graft.operators.Sessions.twap(t(s, d, "events"), "user_id", "ts",
        "value", Seq(col("event_id")))),

    "q_bootstrap_ci" -> ((s, d) =>
      // error bars on a corpus-scale mean WITHOUT resampling the data:
      // Poisson(1)-weight bootstrap, 200 replicates riding map-side
      // partial aggregation (B rows reach the reducer). Deterministic
      // hash weights -> the DuckDB oracle draws the identical
      // replicates.
      Aggregates.bootstrapCi(t(s, d, "orders"), "o_orderkey",
        "o_totalprice", 200, 0.05)),

    "q_anova" -> ((s, d) =>
      // one-way ANOVA: does order value differ across the five
      // priority classes? One co-moment pass over the data; F and
      // eta^2 vs the mirrored var_samp-form SQL
      Aggregates.anovaF(t(s, d, "orders"), "o_orderpriority",
        "o_totalprice")),

    "q_fdr_screen" -> ((s, d) =>
      // multiplicity-honest segment screen: per-nation one-vs-rest z
      // on customer balances (rest moments by subtraction from
      // broadcast totals — one pass, no self-join), p from the shared
      // A&S erfc polynomial, Benjamini-Hochberg step-up at alpha=0.05
      Aggregates.bhFdr(
        Aggregates.zTestVsRest(t(s, d, "customer"), "c_nationkey",
          "c_acctbal"),
        "p_value", "c_nationkey", 0.05)),

    "q_jw_pairs" -> ((s, d) => {
      // record-linkage candidates: part names blocked by (brand, first
      // name token) — the standard multi-key blocking that keeps the
      // within-block quadratic bounded (brand alone left 8M candidate
      // pairs at sf0.1; the token key cuts that 8x) — scored by the
      // native jaro_winkler codegen kernel, semantics pinned
      // byte-for-byte against the oracle's jaro_winkler_similarity
      val p = t(s, d, "part").select(col("p_brand"),
        split_part(col("p_name"), lit(" "), lit(1)).as("p_tok"),
        col("p_partkey"), col("p_name")).localCheckpoint(false)
      p.select(col("p_brand"), col("p_tok"),
          col("p_partkey").as("id_a"), col("p_name").as("name_a"))
        .join(p.select(col("p_brand"), col("p_tok"),
          col("p_partkey").as("id_b"), col("p_name").as("name_b")),
          Seq("p_brand", "p_tok"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("jw", round(graft.plans.JaroWinklerSim.jaroWinkler(
          col("name_a"), col("name_b")), 6))
        .filter(col("jw") >= 0.88)
        .select(col("id_a"), col("id_b"), col("jw"))
    }),

    "q_geo_radius" -> ((s, d) => {
      // geospatial catchment join: deterministic md5-uniform
      // coordinates in the |lat|<=60 band, customers within 200 km of
      // a supplier via the 3x3 grid-cell EQUI-join (no cross join);
      // exact haversine filter vs the all-pairs oracle
      val c = t(s, d, "customer").select(col("c_custkey"),
        (mdUniform(col("c_custkey"), "lat") * 120.0 - 60.0).as("c_lat"),
        (mdUniform(col("c_custkey"), "lon") * 360.0 - 180.0).as("c_lon"))
      val sup = t(s, d, "supplier").select(col("s_suppkey"),
        (mdUniform(col("s_suppkey"), "slat") * 120.0 - 60.0).as("s_lat"),
        (mdUniform(col("s_suppkey"), "slon") * 360.0 - 180.0).as("s_lon"))
      graft.operators.Geo.radiusJoin(c, sup,
          "c_lat", "c_lon", "s_lat", "s_lon", 200.0)
        .select(col("c_custkey"), col("s_suppkey"),
          round(col("dist_km"), 6).as("dist_km"))
    }),

    "q_flesch" -> ((s, d) =>
      // readability quality axis: Flesch reading ease with its exact
      // count components (letter-run words, vowel-group syllables,
      // terminal-punct sentences) — map-only, no shuffle. The counts
      // array materializes ONCE and everything derives from it:
      // inlining fleschCounts per column tripped a Spark codegen
      // subexpression bug and dropped the stage to interpreted (r13)
      t(s, d, "documents")
        .select(col("doc_id"), Text.fleschCounts(col("text")).as("__c"))
        .select(col("doc_id"),
          element_at(col("__c"), 1).as("n_words"),
          element_at(col("__c"), 2).as("n_sentences"),
          element_at(col("__c"), 3).as("n_syllables"),
          round(Text.fleschFromCounts(col("__c")), 6).as("flesch"))),

    "q_dtw_types" -> ((s, d) => {
      // tempo-tolerant series similarity: daily mean-value curves per
      // event type, pairwise banded DTW (Sakoe-Chiba 3). The DP has no
      // SQL form — in-row gates pin the kernel instead: self-distance
      // exactly 0, symmetry, and the diagonal L1 upper bound (a valid
      // warping path, so DTW can only be <=). Gate failure drops rows.
      import graft.plans.DtwDistance.dtw
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(avg(col("value")).as("m"))
      val ser = daily.groupBy(col("event_type"))
        .agg(transform(array_sort(collect_list(struct(col("day"),
          col("m")))), x => x.getField("m")).as("ser"))
        .localCheckpoint(false) // consumed twice by the pair self-join
      val pairs = ser.select(col("event_type").as("type_a"),
          col("ser").as("sa"))
        .crossJoin(ser.select(col("event_type").as("type_b"),
          col("ser").as("sb")))
        .filter(col("type_a") < col("type_b"))
      val l1 = aggregate(zip_with(col("sa"), col("sb"),
        (x, y) => abs(x - y)), lit(0.0), (acc, v) => acc + v)
      pairs.select(col("type_a"), col("type_b"),
          round(dtw(col("sa"), col("sb"), 3), 6).as("dtw_dist"),
          (dtw(col("sa"), col("sa"), 3) === 0.0 &&
            dtw(col("sb"), col("sb"), 3) === 0.0).as("self_zero"),
          (round(dtw(col("sa"), col("sb"), 3), 6) ===
            round(dtw(col("sb"), col("sa"), 3), 6)).as("symmetric"),
          when(size(col("sa")) === size(col("sb")),
            dtw(col("sa"), col("sb"), 3) <= l1 + lit(1e-9))
            .otherwise(lit(true)).as("l1_bound"))
        .filter(col("self_zero") && col("symmetric") && col("l1_bound"))
    }),

    "q_normal_scores" -> ((s, d) =>
      // rank-based inverse-normal transform (Blom scores): every event
      // type's value distribution forced onto the same standard-normal
      // scale — probit via Acklam's rational approximation, stated
      // IDENTICALLY in the oracle (the zPValue/erfc protocol); sf0.1
      // group sizes push ranks into both tail branches
      Aggregates.normalScores(t(s, d, "events"), "event_type", "value",
          "event_id")
        .select(col("event_id"), col("event_type"), col("nscore"))),

    "q_policy_value" -> ((s, d) =>
      // off-policy eval from logged feedback: clipped IPS + SNIPS +
      // effective sample size for a purchase-heavy target policy,
      // behavior propensities = empirical (cohort, action) shares
      Aggregates.offPolicyValue(
        t(s, d, "events").withColumn("cohort",
          pmod(col("user_id"), lit(4L))),
        "cohort", "event_type", "value",
        Seq("view" -> 0.05, "click" -> 0.2, "purchase" -> 0.6,
          "signup" -> 0.15, "error" -> 0.0),
        10.0)),

    "q_map_k" -> ((s, d) => {
      // MAP@10 over per-source rankings (docs ranked by length within
      // source, relevance = English) — the set-retrieval companion to
      // q_ndcg's graded single-ranking metrics
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val ranked = docs.select(col("source").as("qid"),
        col("doc_id").as("id"), row_number().over(w).as("rank"))
      val rels = docs.select(col("source").as("qid"),
        col("doc_id").as("id"),
        when(col("lang") === "en", 1).otherwise(0).as("rel"))
      graft.llm.Relevance.mapAtK(ranked, rels, 10)
    }),

    "q_hilbert_gate" -> ((s, d) => {
      // Hilbert vs linear layout, measured (the q_zorder_gate
      // protocol): per-slice min/max pruning for a predicate on the
      // NON-leading dimension. Hilbert's strict locality (consecutive
      // positions are grid neighbors — spec-pinned) keeps per-file
      // ranges tight in both dims; gate: hilbert prunes strictly
      // below linear. Z fraction rides along for the record.
      import graft.etl.Layout
      val li = t(s, d, "lineitem").select("l_partkey", "l_suppkey")
      val parts = 32
      val hil = Layout.hilbertSlices(li, Seq("l_partkey", "l_suppkey"),
        parts, bits = 8)
      val zed = Layout.zorderSlices(li, Seq("l_partkey", "l_suppkey"),
        parts, bits = 8)
      val lin = Layout.zorderSlices(li, Seq("l_partkey"), parts, bits = 8)
      val (qlo, qhi) = (40, 49) // middle 10% of l_suppkey's [0,99]
      def stats(laid: DataFrame, slice: String) =
        Layout.partitionStats(laid, Seq("l_suppkey"), Some(col(slice)))
          .agg(count(lit(1)).as("n_parts"),
            sum(when(col("mn_l_suppkey") <= qhi &&
              col("mx_l_suppkey") >= qlo, 1L).otherwise(0L)).as("n_hit"))
      val h = stats(hil, "__hslice").select(
        round(col("n_hit").cast("double") / col("n_parts"), 4)
          .as("hilbert_frac"))
      val z = stats(zed, "__zslice").select(
        round(col("n_hit").cast("double") / col("n_parts"), 4)
          .as("z_frac"))
      val l = stats(lin, "__zslice").select(
        round(col("n_hit").cast("double") / col("n_parts"), 4)
          .as("lin_frac"))
      h.crossJoin(z).crossJoin(l)
        .withColumn("pass", col("hilbert_frac") < col("lin_frac"))
        .filter(col("pass"))
    }),

    "q_interval_overlap" -> ((s, d) => {
      // interval x interval overlap join (order week x supplier
      // maintenance window) via the grid-cell equi-join with owner-
      // cell dedup — no cross join, no distinct; exact all-pairs
      // oracle. Day arithmetic from a fixed epoch so both engines
      // state identical integers.
      val o = t(s, d, "orders").select(col("o_orderkey"),
          datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
            .cast("long").as("o_start"))
        .withColumn("o_end", col("o_start") + 7L)
      val sup = t(s, d, "supplier").select(col("s_suppkey"),
          (lit(1096L) + floor(mdUniform(col("s_suppkey"), "mstart") * 2300.0)
            .cast("long")).as("m_start"),
          (lit(1L) + floor(mdUniform(col("s_suppkey"), "mlen") * 29.0)
            .cast("long")).as("m_len"))
        .withColumn("m_end", col("m_start") + col("m_len"))
        .drop("m_len")
      graft.operators.Joins.intervalOverlapJoin(o, sup,
          "o_start", "o_end", "m_start", "m_end", 32L)
        .select(col("o_orderkey"), col("s_suppkey"), col("overlap"))
    }),

    "q_clustering_coeff" -> ((s, d) =>
      // node-level cohesion of the urgent co-purchase graph: local
      // clustering coefficient per part via the degree-orientation
      // triangle enumeration (each triangle explodes to its 3
      // corners); exact a<b<c three-join oracle
      graft.operators.Graph.clusteringCoefficients(
        urgentCopurchasePairs(s, d))),

    "q_fifo_match" -> ((s, d) => {
      // FIFO lot matching as relational algebra: even line numbers
      // supply, odd ones demand, per part in (orderkey, linenumber)
      // order; matched quantity = overlap of the two cumulative-sum
      // intervals — no per-key loop, exact window oracle
      val li = t(s, d, "lineitem").select(col("l_partkey"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("rid"),
        col("l_quantity"), col("l_linenumber"))
      val sup = li.filter(pmod(col("l_linenumber"), lit(2)) === 0)
        .select(col("l_partkey"), col("rid").as("sid"),
          col("l_quantity").as("sq"))
      val dem = li.filter(pmod(col("l_linenumber"), lit(2)) === 1)
        .select(col("l_partkey"), col("rid").as("did"),
          col("l_quantity").as("dq"))
      graft.operators.Joins.fifoMatch(sup, dem, "l_partkey",
        "sid", "did", "sq", "dq", Nil, Nil)
    }),

    "q_business_days" -> ((s, d) => {
      // SLA lead-time arithmetic: business days (Mon-Fri) between each
      // order date and its synthetic promise date — closed-form
      // weekday-prefix arithmetic on epoch days (no dayofweek builtin:
      // the engines disagree on week start; integers don't)
      val o = t(s, d, "orders")
      val od = to_date(col("o_orderdate"))
      val promise = date_add(od, (lit(1L) + pmod(col("o_orderkey"),
        lit(20L))).cast("int"))
      o.select(col("o_orderkey"),
        datediff(promise, od).cast("long").as("cal_days"),
        graft.operators.Sessions.businessDaysBetween(od, promise)
          .as("biz_days"))
    }),

    "q_decayed_counts" -> ((s, d) =>
      // recency-weighted activity: per-type event counts decayed with
      // a 7-day half-life as of the corpus max timestamp — one pass,
      // broadcast anchor, exact exp-weight oracle
      graft.operators.Sessions.decayedCounts(t(s, d, "events"),
        "event_type", "ts", halfLifeDays = 7.0)),

    "q_target_encode" -> ((s, d) =>
      // leakage-safe K-fold target encoding of event_type against
      // value: each row's feature comes from the OTHER folds' mean
      // (smoothed to the global prior); md5 folds make the whole
      // transform reproducible and exactly oracle-checkable
      Aggregates.targetEncode(t(s, d, "events"), "event_id",
        "event_type", "value", folds = 5, smoothing = 20.0)),

    "q_woe_iv" -> ((s, d) => {
      // weight-of-evidence / information value of market segment
      // against urgent-order incidence — the credit-scoring
      // predictiveness screen
      val o = t(s, d, "orders").select(col("o_custkey"),
        (col("o_orderpriority") === "1-URGENT").cast("int").as("urgent"))
      val c = t(s, d, "customer").select(col("c_custkey"),
        col("c_mktsegment"))
      Aggregates.woeIv(
        o.join(broadcast(c), col("o_custkey") === col("c_custkey")),
        "c_mktsegment", "urgent")
    }),

    "q_wordpiece_fertility" -> ((s, d) => {
      // the tokenizer triad's third member: per-doc greedy
      // longest-match WordPiece encode stats under the corpus-seeded
      // vocab (map-only kernel scan). Greedy has no SQL form — the
      // companion gate query pins its invariants.
      val docs = t(s, d, "documents")
      val v = graft.llm.WordPiece.seedVocab(docs, "text", 2000)
      graft.llm.WordPiece.encodeStats(docs, "doc_id", "text", v)
    }),

    "q_wordpiece_gate" -> ((s, d) => {
      // in-row invariants of the greedy encode: zero [UNK] on the
      // training corpus (single chars always retained), total pieces
      // <= the chars-only encoding (every piece covers >= 1 char),
      // fertility >= 1. Gate failure drops the row.
      val docs = t(s, d, "documents")
      val v = graft.llm.WordPiece.seedVocab(docs, "text", 2000)
      // single-char = one CODE POINT (the seedVocab/kernel unit), not
      // one UTF-16 unit — a surrogate-pair char is still one "char"
      def oneCp(s: String) = s.codePointCount(0, s.length) == 1
      val chars = graft.llm.WordPiece.Vocab(
        v.init.filter(oneCp), v.cont.filter(oneCp), v.maxPieceLen)
      val full = graft.llm.WordPiece.encodeStats(docs, "doc_id", "text", v)
        .agg(sum(col("n_words")).as("n_words"),
          sum(col("n_pieces")).as("pieces_full"),
          sum(col("n_unk")).as("unk_full"))
      val base = graft.llm.WordPiece
        .encodeStats(docs, "doc_id", "text", chars)
        .agg(sum(col("n_pieces")).as("pieces_chars"),
          sum(col("n_unk")).as("unk_chars"))
      full.crossJoin(base)
        .withColumn("fertility",
          round(col("pieces_full") / col("n_words"), 6))
        .withColumn("pass",
          col("unk_full") === 0L && col("unk_chars") === 0L &&
            col("pieces_full") <= col("pieces_chars") &&
            col("fertility") >= 1.0)
        .filter(col("pass"))
    }),

    "q_grid_dbscan" -> ((s, d) => {
      // density clustering without a pair join: md5-uniform customer
      // coordinates concentrated into a ±18°/±54° band, 2° cells,
      // minPts 3; core-cell components labeled via
      // connectedComponents, borders take the smallest adjacent
      // cluster, noise stays null — fully deterministic, recursive-CTE
      // oracle
      val pts = t(s, d, "customer").select(col("c_custkey"),
        ((mdUniform(col("c_custkey"), "dlat") * 120.0 - 60.0) * 0.3).as("lat"),
        ((mdUniform(col("c_custkey"), "dlon") * 360.0 - 180.0) * 0.3).as("lon"))
      graft.operators.Geo.gridDbscan(pts, "lat", "lon", "c_custkey",
        cellDeg = 2.0, minPts = 3L)
    }),

    "q_conformal" -> ((s, d) => {
      // distribution-free prediction intervals: per-type mean fit on
      // users 0-1, residual quantile (finite-sample rank) calibrated
      // on users 2, realized coverage reported on users 3
      val e = t(s, d, "events")
      def part(m: Long) = e.filter(pmod(col("user_id"), lit(4L)) === m)
      Aggregates.conformalIntervals(
        e.filter(pmod(col("user_id"), lit(4L)) < 2L), part(2L), part(3L),
        "event_type", "value", alpha = 0.1)
    }),

    "q_k_anonymity" -> ((s, d) =>
      // re-identification release gate: does any (nation, segment,
      // balance-band) combination isolate < 5 customers, or < 2
      // distinct balances (l-diversity)? One hash aggregate over
      // equivalence classes.
      graft.llm.Pii.kAnonymityReport(
        t(s, d, "customer").withColumn("bal_band",
          floor(col("c_acctbal") / 1000.0)),
        Seq("c_nationkey", "c_mktsegment", "bal_band"),
        "c_acctbal", k = 5, l = 2)),

    "q_dp_counts" -> ((s, d) =>
      // DP-style noisy release: per-type event counts + seeded
      // Laplace(1/eps) noise drawn by inverse-CDF from the salted-md5
      // uniform — reproducible across engines, so the whole mechanism
      // is oracle-checked
      graft.llm.Pii.dpNoisyCounts(t(s, d, "events"), "event_type",
        epsilon = 1.0, salt = "dp9")),

    "q_markov_attrib" -> ((s, d) =>
      // path-aware Markov removal-effect attribution over purchase
      // journeys, hash-checked via the graph family's fixed-round
      // protocol: both engines run the SAME 3 absorbing-chain sweeps
      // (the oracle unrolls them as materialized CTEs, like q_sssp),
      // so every cell matches to the 6-digit round. The operator
      // default stays 200 sweeps for converged production use.
      graft.operators.Sessions.markovAttribution(
        t(s, d, "events"), "user_id", "ts", "event_type", "purchase",
        Seq(col("event_id")), iters = 3)),

    "q_naive_bayes" -> ((s, d) => {
      // from-first-principles multinomial naive Bayes: train on even
      // doc_ids, score odd ones — counts + logs only, so the WHOLE
      // train->score->argmax chain is SQL-stateable and hash-checked
      // (the engine's only classifier with an exact cross-engine
      // oracle)
      val docs = t(s, d, "documents")
      graft.llm.NaiveBayes.classify(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 0L),
        docs.filter(pmod(col("doc_id"), lit(2L)) === 1L),
        "doc_id", "text", "lang")
    }),

    "q_sssp" -> ((s, d) => {
      // weighted shortest paths from the Brand#13 seed set over the
      // urgent co-purchase graph: edge cost 1/(shared urgent orders),
      // 3 Bellman-Ford rounds — fixed-round min-plus == the unrolled
      // oracle (the q_bfs_hops protocol, weighted)
      val edges = urgentCopurchasePairs(s, d)
        .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("cnt"))
        .select(col("id_a"), col("id_b"),
          (lit(1.0) / col("cnt")).as("weight"))
      graft.operators.Graph.sssp(edges,
        t(s, d, "part").filter(col("p_brand") === "Brand#13")
          .select(col("p_partkey").as("id")), 3)
    })
  )

  /** Deterministic (candidate, reference) text pairs for the overlap
    * eval queries: each document against the NEXT doc_id of its source
    * (window lead — scale-invariant, no self-pairs, last doc per
    * source unpaired). */
  private def docPairs(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    t(s, d, "documents")
      .select(col("doc_id"), col("source"), col("text").as("cand"),
        lead(col("text"), 1).over(w).as("ref"))
      .filter(col("ref").isNotNull)
  }

  /** Deterministic PII-bearing corpus derived from `events`: each
    * category fires on a fixed id-dependent subset (emails on
    * event_id%3==0, IPs on %5<2, phones on %4==1, 9-digit badge ids on
    * %2==0), so masking and the per-category report are non-trivial
    * and byte-reproducible in both engines. The SQL twin is
    * [[piiCorpusSql]]. */
  private def piiCorpus(s: SparkSession, d: String): DataFrame = {
    val uid = col("user_id").cast("string")
    val eid = col("event_id")
    t(s, d, "events").select(col("event_id"),
      concat(
        lit("user "), uid,
        when(eid % 3 === 0,
          concat(lit(" mail u"), uid, lit("@ex"),
            (eid % 7).cast("string"), lit(".com"))).otherwise(lit("")),
        when(eid % 5 < 2,
          concat(lit(" ip 10."), (eid % 200).cast("string"), lit(".0."),
            (col("user_id") % 250).cast("string"))).otherwise(lit("")),
        when(eid % 4 === 1,
          concat(lit(" call +1-555-"),
            lpad((eid % 1000).cast("string"), 3, "0"), lit("-"),
            lpad((col("user_id") * 13 % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(eid % 2 === 0,
          concat(lit(" badge "),
            lpad((eid * 7919 % 100000000).cast("string"), 9, "0")))
          .otherwise(lit("")),
        when(eid % 7 === 3, lit(" card 4111-1111-1111-1111"))
          .otherwise(lit("")),
        when(eid % 11 === 5, lit(" pan 4111111111111112"))
          .otherwise(lit("")),
        lit(" end")).as("text"))
  }

  private val piiCorpusSql: String =
    """SELECT event_id,
         concat('user ', CAST(user_id AS VARCHAR),
           CASE WHEN event_id % 3 = 0
                THEN concat(' mail u', CAST(user_id AS VARCHAR), '@ex',
                            CAST(event_id % 7 AS VARCHAR), '.com') ELSE '' END,
           CASE WHEN event_id % 5 < 2
                THEN concat(' ip 10.', CAST(event_id % 200 AS VARCHAR), '.0.',
                            CAST(user_id % 250 AS VARCHAR)) ELSE '' END,
           CASE WHEN event_id % 4 = 1
                THEN concat(' call +1-555-', lpad(CAST(event_id % 1000 AS VARCHAR), 3, '0'),
                            '-', lpad(CAST(user_id * 13 % 10000 AS VARCHAR), 4, '0')) ELSE '' END,
           CASE WHEN event_id % 2 = 0
                THEN concat(' badge ', lpad(CAST(event_id * 7919 % 100000000 AS VARCHAR), 9, '0')) ELSE '' END,
           CASE WHEN event_id % 7 = 3 THEN ' card 4111-1111-1111-1111' ELSE '' END,
           CASE WHEN event_id % 11 = 5 THEN ' pan 4111111111111112' ELSE '' END,
           ' end') AS text
       FROM events"""

  /** Shared by q_pagerank and its oracle: iteration count is graded
    * behavior, so it lives in ONE constant. 6 rounds keep the query's
    * wall proportionate in the sweep (each round is a full
    * join+checkpoint job locally) while exercising every semantic —
    * dangling redistribution fires each round on the bipartite graph. */
  private val pagerankIters = 6

  /** Shared by q_hits and its oracle, same rationale as
    * [[pagerankIters]]; HITS converges geometrically on this graph —
    * 4 rounds are past rank stability at 6 dp. */
  private val hitsIters = 4

  /** Unrolled HITS iterations as MATERIALIZED CTEs (see
    * [[pagerankSql]] for why the hint is load-bearing): each round is
    * a RAW authority update from the previous hubs and a raw hub
    * update from the fresh authorities; the single L2 normalization
    * happens at the end, mirroring [[graft.operators.Graph.hits]]
    * term-for-term. */
  private val hitsSql: String = {
    val prefix =
      """WITH edges AS MATERIALIZED (
           SELECT concat('s', CAST(l_suppkey AS VARCHAR)) AS src,
                  concat('p', CAST(l_partkey AS VARCHAR)) AS dst,
                  CAST(count(*) AS DOUBLE) AS w
           FROM lineitem GROUP BY 1, 2),
         nodes AS MATERIALIZED (SELECT DISTINCT node FROM
           (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
         h0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) AS h FROM nodes)"""
    val steps = (1 to hitsIters).map { i =>
      s""",
         a$i AS MATERIALIZED (
           SELECT nodes.node, coalesce(r.v, 0) AS a
           FROM nodes LEFT JOIN
             (SELECT e.dst AS node, sum(e.w * p.h) AS v
              FROM edges e JOIN h${i - 1} p ON e.src = p.node
              GROUP BY e.dst) r ON r.node = nodes.node),
         h$i AS MATERIALIZED (
           SELECT nodes.node, coalesce(r.v, 0) AS h
           FROM nodes LEFT JOIN
             (SELECT e.src AS node, sum(e.w * q.a) AS v
              FROM edges e JOIN a$i q ON e.dst = q.node
              GROUP BY e.src) r ON r.node = nodes.node)"""
    }.mkString
    prefix + steps + s"""
         , na AS (SELECT sqrt(sum(a * a)) AS s FROM a$hitsIters),
         nh AS (SELECT sqrt(sum(h * h)) AS s FROM h$hitsIters),
         scores AS (SELECT h$hitsIters.node,
                           round(CASE WHEN nh.s > 0 THEN h / nh.s ELSE 0 END, 6) AS hub_r,
                           round(CASE WHEN na.s > 0 THEN a / na.s ELSE 0 END, 6) AS auth_r
                    FROM h$hitsIters JOIN a$hitsIters
                      ON h$hitsIters.node = a$hitsIters.node
                    CROSS JOIN na CROSS JOIN nh)
         SELECT * FROM
           (SELECT node, hub_r, auth_r, 'hub' AS role FROM scores
            ORDER BY hub_r DESC, node LIMIT 10)
         UNION ALL
         SELECT * FROM
           (SELECT node, hub_r, auth_r, 'authority' AS role FROM scores
            ORDER BY auth_r DESC, node LIMIT 10)"""
  }

  /** Unrolled power-method iterations as chained CTEs — DuckDB has
    * no iterative construct for fixed-point float computation, but a
    * FIXED iteration count is just pagerankIters copies of the same
    * step (join contributions + dangling mass + teleport), built here
    * by loop. Mirrors [[graft.operators.Graph.pageRank]] term-for-term.
    * Every step is AS MATERIALIZED: each r_i references r_{i-1} TWICE
    * (dangling mass + contributions), so inlined CTEs re-evaluate the
    * whole chain 2^pagerankIters times — measured minutes-not-seconds
    * before the hint. */
  private val pagerankSql: String = {
    val prefix =
      """WITH edges AS MATERIALIZED (
           SELECT concat('s', CAST(l_suppkey AS VARCHAR)) AS src,
                  concat('p', CAST(l_partkey AS VARCHAR)) AS dst,
                  CAST(count(*) AS DOUBLE) AS w
           FROM lineitem GROUP BY 1, 2),
         nodes AS MATERIALIZED (SELECT DISTINCT node FROM
           (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
         outw AS MATERIALIZED (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
         en AS MATERIALIZED (SELECT e.src, e.dst, e.w / o.ow AS p
                FROM edges e JOIN outw o ON e.src = o.src),
         nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         r0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank
                FROM nodes CROSS JOIN nn)"""
    val steps = (1 to pagerankIters).map { i =>
      val p = s"r${i - 1}"
      s""",
         r$i AS MATERIALIZED (
           SELECT nodes.node,
                  CAST(0.15 AS DOUBLE) / nn.n +
                  CAST(0.85 AS DOUBLE) * (coalesce(c.contrib, 0) + dang.mass / nn.n) AS rank
           FROM nodes CROSS JOIN nn
           CROSS JOIN (SELECT coalesce(sum(r.rank), 0) AS mass
                       FROM $p r LEFT JOIN outw o ON r.node = o.src
                       WHERE o.src IS NULL) dang
           LEFT JOIN (SELECT en.dst AS node, sum(en.p * r.rank) AS contrib
                      FROM en JOIN $p r ON en.src = r.node
                      GROUP BY en.dst) c ON c.node = nodes.node)"""
    }.mkString
    prefix + steps + s"""
         SELECT node, round(rank, 6) AS rank_r FROM r$pagerankIters
         ORDER BY rank_r DESC, node LIMIT 20"""
  }

  /** DuckDB-runnable oracle per query (driver compares on sf0.01).
    * Regex note: Spark regexp_replace is global by default; DuckDB needs
    * the explicit 'g' flag — every oracle below passes it. */
  def oracleSql: Map[String, String] = oracleSqlBase +
    // the PPJoin path is spec-proven row-equal to the all-pairs join,
    // so the same DuckDB oracle verifies both — equality makes the
    // oracle free
    ("q_similarity_join" -> oracleSqlBase("q_near_dup_pairs"))

  private def oracleSqlBase: Map[String, String] = Map(
    "q_scan_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
                strftime(l_shipdate, '%Y-%m-%d') AS ship_date
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-07-01' AND l_shipdate < TIMESTAMP '1996-01-01' AND l_quantity > 45""",

    "q_sentinel_repair" ->
      """SELECT event_id,
                CASE WHEN value < 1.0 THEN CAST(json_extract_string(props, '$.k') AS DOUBLE) ELSE value END AS value_repaired
         FROM events""",

    "q_null_profile" ->
      """SELECT count(*) - count(o_orderkey) AS o_orderkey,
                count(*) - count(o_custkey) AS o_custkey,
                count(*) - count(o_orderstatus) AS o_orderstatus,
                count(*) - count(o_totalprice) AS o_totalprice,
                count(*) - count(o_orderdate) AS o_orderdate,
                count(*) - count(o_orderpriority) AS o_orderpriority
         FROM orders""",

    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_base_price,
                round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
                round(avg(l_quantity), 4) AS avg_qty,
                round(avg(l_extendedprice), 4) AS avg_price,
                count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",

    "q_stats_profile" ->
      """SELECT l_returnflag,
                round(min(l_quantity), 2) AS min_l_quantity,
                round(max(l_quantity), 2) AS max_l_quantity,
                round(avg(l_quantity), 2) AS avg_l_quantity,
                round(stddev_samp(l_quantity), 2) AS std_l_quantity,
                round(min(l_extendedprice), 2) AS min_l_extendedprice,
                round(max(l_extendedprice), 2) AS max_l_extendedprice,
                round(avg(l_extendedprice), 2) AS avg_l_extendedprice,
                round(stddev_samp(l_extendedprice), 2) AS std_l_extendedprice
         FROM lineitem GROUP BY l_returnflag""",

    "q_month_agg" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
                count(*) AS n_orders,
                round(sum(o_totalprice), 2) AS revenue
         FROM orders GROUP BY 1""",

    "q_time_shift" ->
      """SELECT event_id,
                strftime(ts - INTERVAL '10 minutes', '%Y-%m-%d %H:%M:%S') AS ts_shifted
         FROM events""",

    "q_time_bucket" ->
      """SELECT event_type,
                round(avg(value), 4) AS avg_value,
                count(*) AS n_events,
                strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start
         FROM events GROUP BY 1, 4""",

    "q_sliding_window" ->
      """SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
                count(*) AS n_events, round(avg(value), 4) AS avg_value
         FROM (
           SELECT unnest([time_bucket(INTERVAL '10 minutes', ts),
                          time_bucket(INTERVAL '10 minutes', ts - INTERVAL 5 MINUTE) + INTERVAL 5 MINUTE]) AS ws,
                  event_type, value
           FROM events)
         GROUP BY 1, 2""",

    "q_session_window" ->
      """WITH marked AS (
           SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS new_session
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         sessions AS (
           SELECT user_id, ts,
                  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) AS session_id
           FROM marked)
         SELECT user_id, count(*) AS n_events,
                strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
         FROM sessions GROUP BY user_id, session_id""",

    "q_near_dup_pairs" ->
      """WITH toks AS (
           SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
           FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)),
         counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id_a, id_b,
                round(CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard
         FROM inter
         JOIN counts ca ON ca.doc_id = id_a
         JOIN counts cb ON cb.doc_id = id_b
         WHERE round(CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter), 6) >= 0.8""",

    "q_dup_components" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
           FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)),
         counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT id_a, id_b FROM inter
           JOIN counts ca ON ca.doc_id = id_a
           JOIN counts cb ON cb.doc_id = id_b
           WHERE round(CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter), 6) >= 0.8),
         edges AS (
           SELECT id_a, id_b FROM pairs
           UNION ALL SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT doc_id AS src, doc_id AS dst FROM documents
           UNION
           SELECT r.src, e.id_b FROM reach r JOIN edges e ON e.id_a = r.dst)
         SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS component_id
         FROM reach GROUP BY src""",

    "q_leakage_split" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
           FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)),
         counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT id_a, id_b FROM inter
           JOIN counts ca ON ca.doc_id = id_a
           JOIN counts cb ON cb.doc_id = id_b
           WHERE round(CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter), 6) >= 0.8),
         edges AS (
           SELECT id_a, id_b FROM pairs
           UNION ALL SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT doc_id AS src, doc_id AS dst FROM documents
           UNION
           SELECT r.src, e.id_b FROM reach r JOIN edges e ON e.id_a = r.dst),
         comp AS (
           SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS component_id
           FROM reach GROUP BY src)
         SELECT doc_id, component_id,
                CAST(('0x' || substr(md5(CAST(component_id AS VARCHAR)), 1, 6)) AS BIGINT) % 10 AS split_bucket
         FROM comp""",

    "q_corr_pearson" ->
      """SELECT l_returnflag, round(corr(l_quantity, l_extendedprice), 6) AS corr
         FROM lineitem GROUP BY l_returnflag""",

    "q_corr_matrix" ->
      """WITH pairs AS (
           SELECT 'l_quantity' AS metric_a, 'l_quantity' AS metric_b, corr(l_quantity, l_quantity) AS c FROM lineitem
           UNION ALL SELECT 'l_quantity', 'l_extendedprice', corr(l_quantity, l_extendedprice) FROM lineitem
           UNION ALL SELECT 'l_quantity', 'l_discount', corr(l_quantity, l_discount) FROM lineitem
           UNION ALL SELECT 'l_extendedprice', 'l_quantity', corr(l_extendedprice, l_quantity) FROM lineitem
           UNION ALL SELECT 'l_extendedprice', 'l_extendedprice', corr(l_extendedprice, l_extendedprice) FROM lineitem
           UNION ALL SELECT 'l_extendedprice', 'l_discount', corr(l_extendedprice, l_discount) FROM lineitem
           UNION ALL SELECT 'l_discount', 'l_quantity', corr(l_discount, l_quantity) FROM lineitem
           UNION ALL SELECT 'l_discount', 'l_extendedprice', corr(l_discount, l_extendedprice) FROM lineitem
           UNION ALL SELECT 'l_discount', 'l_discount', corr(l_discount, l_discount) FROM lineitem)
         SELECT metric_a, metric_b, round(c, 6) AS corr FROM pairs""",

    "q_spearman" ->
      """SELECT round(corr(rx, ry), 6) AS spearman FROM (
           SELECT CAST(rank() OVER (ORDER BY l_quantity) AS DOUBLE) AS rx,
                  CAST(rank() OVER (ORDER BY l_extendedprice) AS DOUBLE) AS ry
           FROM lineitem)""",

    "q_rmse" ->
      """SELECT event_type,
                round(sqrt(avg(pow(value - CAST(json_extract_string(props, '$.k') AS DOUBLE), 2))), 4) AS rmse
         FROM events GROUP BY event_type""",

    "q_percentiles" ->
      """SELECT l_returnflag,
                round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
                round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
                round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
                round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
         FROM lineitem GROUP BY l_returnflag""",

    "q_count_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
         FROM events GROUP BY event_type""",

    "q_top_event_per_type" ->
      """SELECT event_type, event_id, user_id, value FROM (
           SELECT event_type, event_id, user_id, value,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY value DESC, event_id) AS rn
           FROM events) WHERE rn = 1""",

    "q_dedup_exact" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    "q_dedup_keyed" ->
      """SELECT user_id, event_id AS first_event_id, value FROM (
           SELECT user_id, event_id, value,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events) WHERE rn = 1""",

    "q_interpolate" ->
      """WITH marked AS (
           SELECT user_id, event_id,
                  CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v,
                  CAST(event_id AS DOUBLE) AS x
           FROM events),
         scanned AS (
           SELECT user_id, event_id, v, x,
                  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
                  last_value(CASE WHEN v IS NOT NULL THEN x END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS px,
                  first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
                  first_value(CASE WHEN v IS NOT NULL THEN x END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY event_id
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nx
           FROM marked)
         SELECT user_id, event_id,
                round(CASE WHEN v IS NOT NULL THEN v
                           WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                             CASE WHEN nx = px THEN pv
                                  ELSE pv + (nv - pv) * (x - px) / (nx - px) END
                           ELSE NULL END, 6) AS value_interp
         FROM scanned""",

    "q_asof_join" ->
      """WITH r AS (
           SELECT o_custkey AS user_id, o_orderdate,
                  max(o_orderkey) AS last_order_key
           FROM orders GROUP BY 1, 2)
         SELECT e.event_id, e.user_id, r.last_order_key
         FROM events e ASOF JOIN r
           ON e.user_id = r.user_id AND e.ts >= r.o_orderdate""",

    "q_join_region_revenue" ->
      """SELECT r_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""",

    "q_bloom_prune_revenue" ->
      """SELECT p_type, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
                count(*) AS n_items
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         WHERE p_brand = 'Brand#13'
         GROUP BY p_type""",

    "q_local_supplier_revenue" ->
      """SELECT n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1995-01-01'
           AND o_orderdate < TIMESTAMP '1996-01-01'
         GROUP BY n_name""",

    "q_shipping_priority" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
                o_orderpriority,
                round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1995-06-01'
           AND l_shipdate > TIMESTAMP '1995-06-01'
         GROUP BY o_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderkey LIMIT 10""",

    "q_rollup_revenue" ->
      """SELECT o_orderstatus, yr, CAST(GROUPING(o_orderstatus, yr) AS BIGINT) AS lvl,
                count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
         FROM (SELECT o_orderstatus, strftime(o_orderdate, '%Y') AS yr, o_totalprice
               FROM orders)
         GROUP BY ROLLUP(o_orderstatus, yr)""",

    "q_cube_daily" ->
      """SELECT event_type, day, CAST(GROUPING(event_type, day) AS BIGINT) AS lvl,
                count(*) AS n_events, round(avg(value), 4) AS avg_value
         FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, value FROM events)
         GROUP BY CUBE(event_type, day)""",

    "q_pivot_daily" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day,
                round(avg(value) FILTER (WHERE event_type = 'click'), 4) AS click,
                round(avg(value) FILTER (WHERE event_type = 'error'), 4) AS error,
                round(avg(value) FILTER (WHERE event_type = 'purchase'), 4) AS purchase,
                round(avg(value) FILTER (WHERE event_type = 'signup'), 4) AS signup,
                round(avg(value) FILTER (WHERE event_type = 'view'), 4) AS view
         FROM events GROUP BY 1""",

    "q_set_ops" ->
      """SELECT user_id, CAST(ts AS DATE) AS day FROM events WHERE event_type = 'click'
         INTERSECT
         SELECT user_id, CAST(ts AS DATE) FROM events WHERE event_type = 'view'
         EXCEPT
         SELECT user_id, CAST(ts AS DATE) FROM events WHERE event_type = 'error'""",

    "q_range_join" ->
      """WITH err AS (SELECT event_id AS err_id, user_id, ts AS lo,
                             ts + INTERVAL 1 HOUR AS hi
                      FROM events WHERE event_type = 'error'),
              clk AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
         SELECT err_id, count(*) AS n_clicks
         FROM clk JOIN err ON clk.user_id = err.user_id
           AND clk.ts >= err.lo AND clk.ts < err.hi
         GROUP BY err_id""",

    "q_grid_fill" ->
      """WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
            types AS (SELECT DISTINCT event_type FROM events),
            agg AS (SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n_events
                    FROM events GROUP BY 1, 2)
         SELECT d.day, t.event_type, coalesce(a.n_events, 0) AS n_events
         FROM days d CROSS JOIN types t
         LEFT JOIN agg a ON a.day = d.day AND a.event_type = t.event_type""",

    "q_salted_join" ->
      """WITH dim AS (
           SELECT event_type, round(avg(value), 6) AS type_avg
           FROM events GROUP BY event_type)
         SELECT e.event_id, e.event_type, d.type_avg
         FROM events e JOIN dim d USING (event_type)""",

    "q_full_outer_coalesce" ->
      """WITH c AS (SELECT CAST(ts AS DATE) AS day, round(avg(value), 4) AS click_avg
                    FROM events WHERE event_type = 'click' GROUP BY 1),
            v AS (SELECT CAST(ts AS DATE) AS day, round(avg(value), 4) AS view_avg
                  FROM events WHERE event_type = 'view' GROUP BY 1)
         SELECT coalesce(c.day, v.day) AS day, c.click_avg, v.view_avg,
                coalesce(c.click_avg, v.view_avg) AS either_avg
         FROM c FULL OUTER JOIN v ON c.day = v.day""",

    "q_topk_customers" ->
      """SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
         FROM orders GROUP BY o_custkey
         ORDER BY revenue DESC, o_custkey LIMIT 10""",

    "q_union" ->
      """SELECT o_orderstatus, count(*) AS n FROM (
           SELECT * FROM orders WHERE o_orderstatus = 'O'
           UNION ALL
           SELECT * FROM orders WHERE o_orderstatus = 'F')
         GROUP BY o_orderstatus""",

    "q_window_lead" ->
      """SELECT user_id, event_id, value,
                lead(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
         FROM events""",

    "q_word_count" ->
      """SELECT word, count(*) AS n FROM (
           SELECT unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS word
           FROM documents)
         GROUP BY word ORDER BY n DESC, word LIMIT 20""",

    "q_top_ngrams" ->
      """WITH tok AS (
           SELECT string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
           FROM documents),
         sh AS (SELECT array_to_string(t[i:i+2], ' ') AS gram
                FROM tok CROSS JOIN UNNEST(generate_series(1, greatest(len(t) - 2, 0))) AS u(i))
         SELECT gram, count(*) AS n FROM sh
         GROUP BY gram ORDER BY n DESC, gram LIMIT 20""",

    "q_doc_fingerprint" ->
      """SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
         FROM documents""",

    "q_dedup_docs" ->
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint,
                min(doc_id) AS canonical_id, count(*) AS dup_count
         FROM documents GROUP BY 1""",

    "q_dedup_survivor" ->
      """WITH base AS (
           SELECT doc_id,
                  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
                    AS fp,
                  string_split(lower(trim(regexp_replace(text, '\s+', ' ',
                    'g'))), ' ') AS toks,
                  regexp_replace(text, '\s+', '', 'g') AS body,
                  trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm
           FROM documents),
         m AS (
           SELECT doc_id, fp,
                  CASE WHEN len(toks) = 0 THEN 0.0
                       ELSE CAST(len(list_filter(toks, w -> w IN ('the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','that','this'))) AS DOUBLE) / len(toks) END AS stopword_ratio,
                  CASE WHEN length(body) = 0 THEN 0.0
                       ELSE CAST(length(regexp_replace(body, '[\p{L}\p{N}]', '', 'g')) AS DOUBLE) / length(body) END AS punct_ratio,
                  CASE WHEN length(norm) = 0 THEN 0 ELSE len(toks) END
                    AS n_tokens
           FROM base),
         q AS (
           SELECT doc_id, fp,
                  round(0.5 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                        + 0.5 * least(stopword_ratio * 4.0, 1.0)
                        - 0.25 * least(punct_ratio * 2.0, 1.0), 6) AS qs
           FROM m),
         r AS (
           SELECT fp, doc_id, qs,
                  row_number() OVER (PARTITION BY fp
                    ORDER BY qs DESC, doc_id) AS rk,
                  count(*) OVER (PARTITION BY fp) AS dc
           FROM q)
         SELECT fp AS fingerprint, doc_id AS survivor_id,
                qs AS survivor_quality, dc AS dup_count
         FROM r WHERE rk = 1""",

    "q_bfs_hops" ->
      """WITH li AS (
           SELECT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE o_orderpriority = '1-URGENT'),
         e AS MATERIALIZED (
           SELECT DISTINCT x.pk AS a, y.pk AS b
           FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
         und AS MATERIALIZED (
           SELECT a AS src, b AS dst FROM e
           UNION SELECT b AS src, a AS dst FROM e),
         d0 AS MATERIALIZED (
           SELECT DISTINCT p_partkey AS id FROM part
           WHERE p_brand = 'Brand#13'),
         n1 AS MATERIALIZED (
           SELECT DISTINCT u.dst AS id
           FROM und u JOIN d0 ON u.src = d0.id
           WHERE NOT EXISTS (SELECT 1 FROM d0 x WHERE x.id = u.dst)),
         n2 AS MATERIALIZED (
           SELECT DISTINCT u.dst AS id
           FROM und u JOIN n1 ON u.src = n1.id
           WHERE NOT EXISTS (SELECT 1 FROM d0 x WHERE x.id = u.dst)
             AND NOT EXISTS (SELECT 1 FROM n1 y WHERE y.id = u.dst)),
         n3 AS (
           SELECT DISTINCT u.dst AS id
           FROM und u JOIN n2 ON u.src = n2.id
           WHERE NOT EXISTS (SELECT 1 FROM d0 x WHERE x.id = u.dst)
             AND NOT EXISTS (SELECT 1 FROM n1 y WHERE y.id = u.dst)
             AND NOT EXISTS (SELECT 1 FROM n2 z WHERE z.id = u.dst))
         SELECT id, 0 AS hops FROM d0
         UNION ALL SELECT id, 1 FROM n1
         UNION ALL SELECT id, 2 FROM n2
         UNION ALL SELECT id, 3 FROM n3""",

    "q_soft_dedup" ->
      """WITH fp AS (
           SELECT doc_id,
                  count(*) OVER (PARTITION BY
                    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))) AS cluster_size
           FROM documents)
         SELECT doc_id, cluster_size,
                round(1.0::DOUBLE / cluster_size, 6) AS weight
         FROM fp""",

    "q_ngram_jaccard_top" ->
      """WITH toks AS (
           SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
           FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)),
         counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         inter AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT id_a, id_b,
                round(CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard
         FROM inter
         JOIN counts ca ON ca.doc_id = id_a
         JOIN counts cb ON cb.doc_id = id_b
         ORDER BY jaccard DESC, id_a, id_b LIMIT 10""",

    "q_token_stats" ->
      """SELECT doc_id,
                CASE WHEN length(trim(regexp_replace(text, '\s+', ' ', 'g'))) = 0 THEN 0
                     ELSE len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) END AS n_tokens,
                length(text) AS n_chars_raw
         FROM documents""",

    "q_vocab_stats" ->
      """WITH toks AS (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents),
         freq AS (SELECT w, count(*) AS c FROM toks WHERE length(w) > 0 GROUP BY w)
         SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
                count(*) AS vocab_size,
                round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS type_token_ratio,
                round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS hapax_share,
                round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top1_share
         FROM freq""",

    "q_corpus_report" ->
      """WITH base AS (
           SELECT doc_id,
                  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks,
                  regexp_replace(text, '\s+', '', 'g') AS body,
                  trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm,
                  lang, source
           FROM documents),
         m AS (
           SELECT doc_id, lang, source,
                  CASE WHEN len(toks) = 0 THEN 0.0
                       ELSE CAST(len(list_filter(toks, w -> w IN ('the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','that','this'))) AS DOUBLE) / len(toks) END AS stopword_ratio,
                  CASE WHEN length(body) = 0 THEN 0.0
                       ELSE CAST(length(regexp_replace(body, '[\p{L}\p{N}]', '', 'g')) AS DOUBLE) / length(body) END AS punct_ratio,
                  CASE WHEN length(norm) = 0 THEN 0 ELSE len(toks) END AS n_toks
           FROM base),
         q AS (
           SELECT lang, source, CAST(n_toks AS BIGINT) AS n_toks,
                  round(0.5 * least(CAST(n_toks AS DOUBLE) / 100.0, 1.0)
                        + 0.5 * least(stopword_ratio * 4.0, 1.0)
                        - 0.25 * least(punct_ratio * 2.0, 1.0), 6) AS q
           FROM m)
         SELECT count(*) AS n_docs,
                CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                count(DISTINCT lang) AS n_langs,
                count(DISTINCT source) AS n_sources,
                round(avg(q), 6) AS mean_quality,
                round(quantile_cont(n_toks, 0.5), 1) AS median_tokens
         FROM q""",

    "q_temperature_resample" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
         t1 AS (SELECT sum(n) AS tot FROM c),
         w AS (SELECT source, n, tot, pow(n * 1.0 / tot, 0.3) AS pq FROM c, t1),
         z AS (SELECT sum(pq) AS zs FROM w),
         r AS (SELECT source, least(1.0, 0.5 * tot * (pq / zs) / n) AS accept FROM w, z)
         SELECT d.source, count(*) AS n_kept, round(any_value(r.accept), 6) AS accept_rate
         FROM documents d JOIN r ON d.source = r.source
         WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 1000
               < round(r.accept * 1000)
         GROUP BY 1""",

    "q_js_divergence" ->
      """WITH ca AS (SELECT w, count(*) AS cnt FROM (
             SELECT unnest(string_split(text, ' ')) AS w FROM documents WHERE lang = 'en')
           GROUP BY 1),
         cb AS (SELECT w, count(*) AS cnt FROM (
             SELECT unnest(string_split(text, ' ')) AS w FROM documents WHERE lang = 'zh')
           GROUP BY 1),
         pa AS (SELECT w, cnt * 1.0 / (SELECT sum(cnt) FROM ca) AS p FROM ca),
         pb AS (SELECT w, cnt * 1.0 / (SELECT sum(cnt) FROM cb) AS q FROM cb),
         j AS (SELECT coalesce(p, 0.0) AS p, coalesce(q, 0.0) AS q
               FROM pa FULL OUTER JOIN pb USING (w))
         SELECT count(*) AS n_terms,
                round(sum(CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) / 2 ELSE 0 END
                        + CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2)) / 2 ELSE 0 END), 6)
                  AS js_divergence
         FROM j""",

    "q_oov_rate" ->
      """WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
         freq AS (SELECT w, count(*) AS cnt FROM toks GROUP BY 1),
         vocab AS (SELECT w FROM freq ORDER BY cnt DESC, w LIMIT 15)
         SELECT lang, count(*) AS n_tokens,
                round(CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*), 6) AS oov_rate
         FROM toks LEFT JOIN vocab v ON toks.w = v.w
         GROUP BY 1""",

    "q_epoch_plan" ->
      """WITH base AS (
           SELECT source,
                  CASE WHEN length(trim(regexp_replace(text, '\s+', ' ', 'g'))) = 0 THEN 0
                       ELSE len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) END AS n_toks
           FROM documents),
         c AS (SELECT source, count(*) AS n_docs,
                      CAST(sum(n_toks) AS BIGINT) AS n_tokens
               FROM base GROUP BY 1),
         t1 AS (SELECT sum(n_tokens) AS tot FROM c),
         w AS (SELECT source, n_docs, n_tokens,
                      pow(n_tokens * 1.0 / tot, 0.3) AS pq
               FROM c, t1),
         z AS (SELECT sum(pq) AS zs FROM w)
         SELECT source, n_docs, n_tokens,
                round(pq / zs, 6) AS share,
                round(100000.0 * (pq / zs) / n_tokens, 6) AS epochs
         FROM w, z""",

    "q_quality_percentile" ->
      """WITH base AS (
           SELECT doc_id, source,
                  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks,
                  regexp_replace(text, '\s+', '', 'g') AS body,
                  trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm
           FROM documents),
         m AS (
           SELECT doc_id, source,
                  CASE WHEN len(toks) = 0 THEN 0.0
                       ELSE CAST(len(list_filter(toks, w -> w IN ('the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','that','this'))) AS DOUBLE) / len(toks) END AS stopword_ratio,
                  CASE WHEN length(body) = 0 THEN 0.0
                       ELSE CAST(length(regexp_replace(body, '[\p{L}\p{N}]', '', 'g')) AS DOUBLE) / length(body) END AS punct_ratio,
                  CASE WHEN length(norm) = 0 THEN 0 ELSE len(toks) END AS n_tokens
           FROM base),
         q AS (
           SELECT doc_id, source,
                  round(0.5 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                        + 0.5 * least(stopword_ratio * 4.0, 1.0)
                        - 0.25 * least(punct_ratio * 2.0, 1.0), 6) AS quality
           FROM m),
         r AS (
           SELECT doc_id, source, quality,
                  percent_rank() OVER (PARTITION BY source
                                       ORDER BY quality DESC, doc_id) AS pr
           FROM q)
         SELECT doc_id, source, quality FROM r WHERE pr <= 0.5""",

    "q_shuffle_shards" ->
      """WITH h AS (
           SELECT doc_id,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard'), 1, 6)) AS BIGINT) % 8 AS shard,
                  md5(CAST(doc_id AS VARCHAR) || ':pos') AS ph
           FROM documents)
         SELECT doc_id, shard,
                CAST(row_number() OVER (PARTITION BY shard ORDER BY ph, doc_id) AS INT) AS pos
         FROM h""",

    "q_token_budget" ->
      """WITH base AS (
           SELECT doc_id,
                  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks,
                  regexp_replace(text, '\s+', '', 'g') AS body,
                  trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm
           FROM documents),
         m AS (
           SELECT doc_id,
                  CASE WHEN len(toks) = 0 THEN 0.0
                       ELSE CAST(len(list_filter(toks, w -> w IN ('the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','that','this'))) AS DOUBLE) / len(toks) END AS stopword_ratio,
                  CASE WHEN length(body) = 0 THEN 0.0
                       ELSE CAST(length(regexp_replace(body, '[\p{L}\p{N}]', '', 'g')) AS DOUBLE) / length(body) END AS punct_ratio,
                  CASE WHEN length(norm) = 0 THEN 0 ELSE len(toks) END AS n_tokens
           FROM base),
         q AS (
           SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                  round(0.5 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                        + 0.5 * least(stopword_ratio * 4.0, 1.0)
                        - 0.25 * least(punct_ratio * 2.0, 1.0), 6) AS quality
           FROM m),
         c AS (
           SELECT doc_id, quality, n_tokens,
                  sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS cum
           FROM q)
         SELECT doc_id, quality, n_tokens FROM c WHERE cum <= 10000""",

    "q_unigram_logprob" ->
      """WITH toks AS (
           SELECT doc_id, w FROM (
             SELECT doc_id,
                    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
             FROM documents) WHERE length(w) > 0),
         freq AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
         tot AS (SELECT sum(cnt) AS tot FROM freq)
         SELECT doc_id, count(*) AS n_tokens,
                round(avg(ln(cnt::DOUBLE / tot)), 6) AS avg_logp
         FROM toks JOIN freq USING (w) CROSS JOIN tot
         GROUP BY doc_id""",

    "q_bigram_logprob" ->
      """WITH tok AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
           FROM documents),
         bg AS (SELECT doc_id, t[i-1] AS w1, t[i] AS w2
                FROM tok CROSS JOIN UNNEST(generate_series(2, len(t))) AS u(i)),
         bfreq AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
         sfreq AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
         uni AS (SELECT w2, count(*) AS c FROM bg GROUP BY w2),
         tot AS (SELECT sum(c) AS tot FROM uni)
         SELECT doc_id, count(*) AS n_bigrams,
                round(avg(ln(0.75 * c12 / c1 + 0.25 * c / tot)), 6) AS avg_logp
         FROM bg JOIN bfreq USING (w1, w2) JOIN sfreq USING (w1)
                 JOIN uni USING (w2) CROSS JOIN tot
         GROUP BY doc_id""",

    "q_kneser_ney" ->
      """WITH tok AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
           FROM documents),
         bg AS (SELECT doc_id, t[i-1] AS w1, t[i] AS w2
                FROM tok CROSS JOIN UNNEST(generate_series(2, len(t))) AS u(i)),
         bfreq AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
         lft AS (SELECT w1, sum(c12) AS c1, count(*) AS n1f FROM bfreq GROUP BY w1),
         cont AS (SELECT w2, count(*) AS n1b FROM bfreq GROUP BY w2),
         tot AS (SELECT count(*) AS n_types FROM bfreq)
         SELECT doc_id, count(*) AS n_bigrams,
                round(avg(ln(greatest(c12::DOUBLE - 0.75, 0.0) / c1 +
                             0.75 * n1f::DOUBLE / c1 * (n1b::DOUBLE / n_types))), 6) AS avg_logp
         FROM bg JOIN bfreq USING (w1, w2) JOIN lft USING (w1)
                 JOIN cont USING (w2) CROSS JOIN tot
         GROUP BY doc_id""",

    "q_gopher_repetition" ->
      """WITH aug AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 7 = 0 THEN text || ' ' || text
                       WHEN doc_id % 3 = 0 THEN text || ' ' || substr(text, 1, 80)
                       ELSE text END AS text
           FROM documents
         ),
         base AS (
           SELECT doc_id,
                  [w FOR w IN string_split_regex(lower(text), '\s+') IF len(w) > 0] AS toks
           FROM aug
         ),
         b AS (
           SELECT doc_id, toks, len(toks) AS nt,
                  COALESCE(list_sum(list_transform(toks, x -> len(x))), 0) AS tc
           FROM base
         ),
         grams AS (
           SELECT b.doc_id, n.n, i.i,
                  array_to_string(toks[i.i:i.i + n.n - 1], ' ') AS gram,
                  CAST(list_sum(list_transform(toks[i.i:i.i + n.n - 1], x -> len(x))) AS BIGINT) AS gc
           FROM b
           CROSS JOIN UNNEST([2,3,4,5,6,7,8,9,10]) AS n(n)
           CROSS JOIN UNNEST(generate_series(1, b.nt - n.n + 1)) AS i(i)
         ),
         cnt AS (
           SELECT doc_id, n, gram, count(*) AS c, max(gc) AS gc
           FROM grams GROUP BY doc_id, n, gram
         ),
         top AS (
           SELECT doc_id, n, c * gc AS mass
           FROM (SELECT *, row_number() OVER
                   (PARTITION BY doc_id, n ORDER BY c DESC, gram ASC) AS rn
                 FROM cnt WHERE n <= 4)
           WHERE rn = 1
         ),
         cov AS (
           SELECT DISTINCT g.doc_id, g.n, p.p
           FROM grams g
           JOIN cnt ON cnt.doc_id = g.doc_id AND cnt.n = g.n AND cnt.gram = g.gram
           CROSS JOIN UNNEST(generate_series(g.i, g.i + g.n - 1)) AS p(p)
           WHERE g.n >= 5 AND cnt.c >= 2
         ),
         dup AS (
           SELECT cov.doc_id, cov.n,
                  CAST(SUM(len(b.toks[cov.p])) AS BIGINT) AS covc
           FROM cov JOIN b ON b.doc_id = cov.doc_id
           GROUP BY cov.doc_id, cov.n
         ),
         alpha AS (
           SELECT doc_id,
                  CASE WHEN nt = 0 THEN 0.0
                       ELSE len([x FOR x IN toks IF regexp_matches(x, '\p{L}')])::DOUBLE / nt
                  END AS af
           FROM b
         )
         SELECT b.doc_id,
           round(COALESCE(t2.mass::DOUBLE / NULLIF(b.tc, 0), 0.0), 6) AS top2_frac,
           round(COALESCE(t3.mass::DOUBLE / NULLIF(b.tc, 0), 0.0), 6) AS top3_frac,
           round(COALESCE(t4.mass::DOUBLE / NULLIF(b.tc, 0), 0.0), 6) AS top4_frac,
           round(COALESCE(d5.covc::DOUBLE / NULLIF(b.tc, 0), 0.0), 6) AS dup5_frac,
           round(COALESCE(d6.covc::DOUBLE / NULLIF(b.tc, 0), 0.0), 6) AS dup6_frac,
           round(COALESCE(d7.covc::DOUBLE / NULLIF(b.tc, 0), 0.0), 6) AS dup7_frac,
           round(COALESCE(d8.covc::DOUBLE / NULLIF(b.tc, 0), 0.0), 6) AS dup8_frac,
           round(COALESCE(d9.covc::DOUBLE / NULLIF(b.tc, 0), 0.0), 6) AS dup9_frac,
           round(COALESCE(d10.covc::DOUBLE / NULLIF(b.tc, 0), 0.0), 6) AS dup10_frac,
           round(alpha.af, 6) AS alpha_frac
         FROM b
         LEFT JOIN top t2 ON t2.doc_id = b.doc_id AND t2.n = 2
         LEFT JOIN top t3 ON t3.doc_id = b.doc_id AND t3.n = 3
         LEFT JOIN top t4 ON t4.doc_id = b.doc_id AND t4.n = 4
         LEFT JOIN dup d5 ON d5.doc_id = b.doc_id AND d5.n = 5
         LEFT JOIN dup d6 ON d6.doc_id = b.doc_id AND d6.n = 6
         LEFT JOIN dup d7 ON d7.doc_id = b.doc_id AND d7.n = 7
         LEFT JOIN dup d8 ON d8.doc_id = b.doc_id AND d8.n = 8
         LEFT JOIN dup d9 ON d9.doc_id = b.doc_id AND d9.n = 9
         LEFT JOIN dup d10 ON d10.doc_id = b.doc_id AND d10.n = 10
         JOIN alpha ON alpha.doc_id = b.doc_id""",

    "q_token_repetition" ->
      """SELECT doc_id,
                len(string_split(text, ' ')) AS n_tokens,
                len(list_distinct(string_split(text, ' '))) AS n_distinct,
                round(1.0 - len(list_distinct(string_split(text, ' ')))::DOUBLE
                      / len(string_split(text, ' ')), 6) AS rep_ratio
         FROM documents""",

    "q_decontaminate" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS s
                FROM tok CROSS JOIN UNNEST(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)),
         ref AS (SELECT DISTINCT s FROM sh WHERE doc_id >= 50),
         tst AS (SELECT DISTINCT doc_id, s FROM sh WHERE doc_id < 50)
         SELECT doc_id, count(*) AS n_shingles,
                count(*) FILTER (WHERE s IN (SELECT s FROM ref)) AS n_contaminated,
                round(count(*) FILTER (WHERE s IN (SELECT s FROM ref))::DOUBLE
                      / count(*), 6) AS contamination
         FROM tst GROUP BY doc_id""",

    "q_rolling_zscore" ->
      """SELECT event_id,
                round((value - avg(value) OVER w) / stddev_samp(value) OVER w, 4) AS zscore
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)""",

    "q_deterministic_sample" ->
      """SELECT event_type, count(*) AS n_events,
                count(DISTINCT user_id) AS n_users
         FROM events
         WHERE CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 6)) AS BIGINT) % 1000 < 300
         GROUP BY event_type""",

    "q_corpus_diff" ->
      """WITH v1 AS (
           SELECT doc_id,
                  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS f
           FROM documents WHERE doc_id < 400),
         v2 AS (
           SELECT doc_id,
                  md5(lower(trim(regexp_replace(
                    CASE WHEN doc_id BETWEEN 200 AND 299
                         THEN text || ' rewritten' ELSE text END,
                    '\s+', ' ', 'g')))) AS f
           FROM documents WHERE doc_id >= 100),
         d AS (
           SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
                  CASE WHEN v1.f IS NULL THEN 'added'
                       WHEN v2.f IS NULL THEN 'removed'
                       WHEN v1.f = v2.f THEN 'unchanged'
                       ELSE 'changed' END AS status
           FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
         SELECT status, count(*) AS n_docs FROM d GROUP BY 1""",

    "q_deterministic_take" ->
      """WITH sel AS (
           SELECT doc_id, source
           FROM documents
           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':take'), doc_id
           LIMIT 100)
         SELECT source, count(*) AS n_docs,
                CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM sel GROUP BY 1""",

    "q_hash_split" ->
      """SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 10 AS split_bucket,
                count(*) AS n_docs,
                round(avg(len(string_split(text, ' '))), 4) AS mean_tokens
         FROM documents GROUP BY 1""",

    "q_tfidf_top_terms" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
                       FROM documents),
         tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
                WHERE length(w) > 0 GROUP BY 1, 2),
         dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
         n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
         scored AS (
           SELECT doc_id, w,
                  round(tf * (ln((n_docs + 1.0) / (df + 1)) + 1), 6) AS tfidf
           FROM tf JOIN dfq USING (w) CROSS JOIN n)
         SELECT doc_id, w AS term, tfidf,
                CAST(row_number() OVER (PARTITION BY doc_id
                  ORDER BY tfidf DESC, w) AS INT) AS rank
         FROM scored QUALIFY rank <= 3""",

    "q_bm25" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
                       FROM documents),
         dl AS (SELECT doc_id, count(*) AS dl FROM toks WHERE length(w) > 0 GROUP BY 1),
         stats AS (SELECT avg(dl) AS avgdl, CAST(count(*) AS DOUBLE) AS n_docs FROM dl),
         tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
                WHERE w IN ('vector', 'join', 'stream') GROUP BY 1, 2),
         dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w)
         SELECT doc_id, round(sum(
                  ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2 /
                  (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
         FROM tf JOIN dfq USING (w) JOIN dl USING (doc_id) CROSS JOIN stats
         GROUP BY doc_id""",

    "q_ndcg" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
                       FROM documents),
         dl AS (SELECT doc_id, count(*) AS dl FROM toks
                WHERE length(w) > 0 GROUP BY 1),
         stats AS (SELECT avg(dl) AS avgdl,
                          CAST(count(*) AS DOUBLE) AS n_docs FROM dl),
         tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
                WHERE w IN ('vector', 'join', 'stream') GROUP BY 1, 2),
         dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
         bm AS (
           SELECT doc_id, round(sum(
                    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2 /
                    (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6)
                    AS score
           FROM tf JOIN dfq USING (w) JOIN dl USING (doc_id)
           CROSS JOIN stats GROUP BY doc_id),
         ranked AS (
           SELECT doc_id AS id, row_number() OVER (
             ORDER BY score DESC, doc_id) AS rank
           FROM bm),
         qbase AS (
           SELECT doc_id,
                  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks,
                  regexp_replace(text, '\s+', '', 'g') AS body,
                  trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm
           FROM documents),
         qm AS (
           SELECT doc_id,
                  CASE WHEN len(toks) = 0 THEN 0.0
                       ELSE CAST(len(list_filter(toks, w -> w IN ('the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','that','this'))) AS DOUBLE) / len(toks) END AS stopword_ratio,
                  CASE WHEN length(body) = 0 THEN 0.0
                       ELSE CAST(length(regexp_replace(body, '[\p{L}\p{N}]', '', 'g')) AS DOUBLE) / length(body) END AS punct_ratio,
                  CASE WHEN length(norm) = 0 THEN 0 ELSE len(toks) END
                    AS n_tokens
           FROM qbase),
         rels AS (
           SELECT doc_id AS id,
                  CASE WHEN round(0.5 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                         + 0.5 * least(stopword_ratio * 4.0, 1.0)
                         - 0.25 * least(punct_ratio * 2.0, 1.0), 6) >= 0.5
                         THEN 2
                       WHEN round(0.5 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                         + 0.5 * least(stopword_ratio * 4.0, 1.0)
                         - 0.25 * least(punct_ratio * 2.0, 1.0), 6) >= 0.35
                         THEN 1
                       ELSE 0 END AS rel
           FROM qm),
         topk AS (
           SELECT r.rank, coalesce(rels.rel, 0) AS rel
           FROM ranked r LEFT JOIN rels ON r.id = rels.id
           WHERE r.rank <= 10),
         d AS (
           SELECT sum((pow(2, rel) - 1) / log2(rank + 1)) AS dcg,
                  min(CASE WHEN rel > 0 THEN rank END) AS fr
           FROM topk),
         ideal AS (
           SELECT rel, row_number() OVER (ORDER BY rel DESC, id) AS rr
           FROM rels WHERE rel > 0),
         i AS (
           SELECT coalesce(sum((pow(2, rel) - 1) / log2(rr + 1)),
                    CAST(0.0 AS DOUBLE)) AS idcg
           FROM ideal WHERE rr <= 10),
         nr AS (SELECT count(*) AS n_relevant FROM rels WHERE rel > 0)
         SELECT 10 AS k, n_relevant, round(dcg, 6) AS dcg,
                round(idcg, 6) AS idcg,
                round(dcg / (CASE WHEN idcg <> 0 THEN idcg END), 6)
                  AS ndcg,
                round(CAST(1.0 AS DOUBLE) / fr, 6) AS mrr
         FROM d CROSS JOIN i CROSS JOIN nr""",

    "q_char_entropy" ->
      """WITH ch AS (SELECT doc_id, substr(text, i, 1) AS c
                     FROM documents
                     CROSS JOIN UNNEST(generate_series(1, length(text))) AS u(i)),
         cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_chars,
                round(ln(CAST(sum(k) AS DOUBLE)) -
                      sum(k * ln(CAST(k AS DOUBLE))) / sum(k), 6) AS entropy
         FROM cnt GROUP BY doc_id""",

    "q_pii_redact" ->
      """WITH aug AS (SELECT doc_id,
                text || ' contact user' || doc_id || '@example.com or 555-123-4567' AS aug
              FROM documents)
         SELECT doc_id,
                CAST(len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                   + len(regexp_extract_all(aug, '\b\d{3}-\d{2}-\d{4}\b'))
                   + len(regexp_extract_all(aug, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS INT) AS n_pii,
                regexp_replace(regexp_replace(regexp_replace(aug,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
                  '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS redacted
         FROM aug""",

    "q_pack_sequences" ->
      """WITH base AS (
           SELECT doc_id,
                  len(string_split(text, ' ')) AS n_tokens,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 10 AS shard
           FROM documents)
         SELECT doc_id, n_tokens, shard,
                CAST(floor(coalesce(sum(n_tokens) OVER (PARTITION BY shard
                  ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  / 2048.0) AS BIGINT) AS pack_id
         FROM base""",

    "q_chunk_docs" ->
      """WITH t AS (
           SELECT doc_id,
                  string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
           FROM documents),
         s AS (
           SELECT doc_id, toks, len(toks) AS n,
                  unnest(range(1, len(toks) + 1, 24)) AS start
           FROM t
           WHERE len(toks) > 0 AND toks[1] <> '')
         SELECT doc_id,
                CAST((start - 1) / 24 AS INT) AS chunk_index,
                CAST(least(32, n - start + 1) AS INT) AS chunk_tokens,
                array_to_string(list_slice(toks, start, least(start + 31, n)), ' ') AS chunk_text
         FROM s""",

    "q_line_doc_freq" ->
      """WITH toks AS (
           SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS t
           FROM documents),
         ml AS (
           SELECT doc_id,
                  array_to_string(list_transform(range(1, len(t) + 1, 12),
                    st -> array_to_string(t[st:st+11], ' ')), chr(10)) AS text
           FROM toks)
         SELECT line, count(DISTINCT doc_id) AS n_docs
         FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM ml)
         GROUP BY line""",

    "q_boilerplate_strip" ->
      """WITH toks AS (
           SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS t
           FROM documents),
         ml AS (
           SELECT doc_id,
                  array_to_string(list_transform(range(1, len(t) + 1, 12),
                    st -> array_to_string(t[st:st+11], ' ')), chr(10)) AS text
           FROM toks),
         freq AS (
           SELECT line
           FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM ml)
           GROUP BY line HAVING count(DISTINCT doc_id) >= 2),
         fl AS (SELECT coalesce(list(line), []) AS ls FROM freq)
         SELECT ml.doc_id,
                coalesce(array_to_string(list_filter(string_split(ml.text, chr(10)),
                  l -> NOT list_contains(fl.ls, l)), chr(10)), '') AS clean_text,
                len(list_filter(string_split(ml.text, chr(10)),
                  l -> NOT list_contains(fl.ls, l))) AS n_lines_kept,
                len(string_split(ml.text, chr(10))) -
                  len(list_filter(string_split(ml.text, chr(10)),
                    l -> NOT list_contains(fl.ls, l))) AS n_lines_dropped
         FROM ml, fl""",

    "q_c4_line_filter" ->
      """WITH toks AS (
           SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS t
           FROM documents),
         ml AS (
           SELECT doc_id,
                  array_to_string(list_transform(range(1, len(t) + 1, 12),
                    st -> array_to_string(t[st:st+11], ' ')), chr(10)) AS text
           FROM toks),
         f AS (
           SELECT doc_id, text,
                  list_filter(string_split(text, chr(10)),
                    l -> len(regexp_split_to_array(trim(l), '\s+')) >= 3
                         AND length(trim(l)) > 0
                         AND NOT contains(lower(l), 'spark')) AS keep
           FROM ml)
         SELECT doc_id, coalesce(array_to_string(keep, chr(10)), '') AS clean_text,
                len(keep) AS n_lines_kept,
                len(string_split(text, chr(10))) - len(keep) AS n_lines_dropped
         FROM f""",

    "q_ppl_bucket" ->
      """WITH toks AS (
           SELECT doc_id, w FROM (
             SELECT doc_id,
                    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
             FROM documents) WHERE length(w) > 0),
         freq AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
         tot AS (SELECT sum(cnt) AS tot FROM freq),
         sc AS (
           SELECT doc_id, round(avg(ln(cnt::DOUBLE / tot)), 6) AS avg_logp
           FROM toks JOIN freq USING (w) CROSS JOIN tot
           GROUP BY doc_id),
         pr AS (
           SELECT d.doc_id, d.lang, s.avg_logp,
                  percent_rank() OVER (PARTITION BY d.lang
                    ORDER BY s.avg_logp DESC, d.doc_id) AS p
           FROM documents d JOIN sc s USING (doc_id))
         SELECT doc_id, lang, avg_logp,
                CASE WHEN p < 1.0/3 THEN 'head'
                     WHEN p > 1 - 1.0/3 THEN 'tail'
                     ELSE 'middle' END AS ppl_bucket
         FROM pr""",

    "q_para_dedup" ->
      """WITH toks AS (
           SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS t
           FROM documents),
         ml AS (
           SELECT doc_id,
                  array_to_string(list_transform(range(1, len(t) + 1, 12),
                    st -> array_to_string(t[st:st+11], ' ')), chr(10)) AS text
           FROM toks),
         rows_ AS (
           SELECT doc_id, unnest(string_split(text, chr(10))) AS para,
                  unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
           FROM ml),
         canon AS (
           SELECT doc_id, pos FROM (
             SELECT doc_id, pos,
                    row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
             FROM rows_) WHERE rn = 1),
         kept AS (
           SELECT r.doc_id, string_agg(r.para, chr(10) ORDER BY r.pos) AS clean_text,
                  count(*) AS n_kept
           FROM rows_ r JOIN canon c ON r.doc_id = c.doc_id AND r.pos = c.pos
           GROUP BY r.doc_id),
         tot AS (SELECT doc_id, count(*) AS n FROM rows_ GROUP BY doc_id)
         SELECT t.doc_id,
                coalesce(k.clean_text, '') AS clean_text,
                CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_paras_kept,
                CAST(t.n - coalesce(k.n_kept, 0) AS BIGINT) AS n_paras_dropped
         FROM tot t LEFT JOIN kept k ON t.doc_id = k.doc_id""",

    "q_repeated_spans" ->
      """WITH toks AS (
           SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS t
           FROM documents),
         wins AS (
           SELECT doc_id, i AS pos, array_to_string(t[i:i+14], ' ') AS w
           FROM toks, unnest(range(1, len(t) - 13)) AS u(i)),
         dup AS (SELECT w FROM wins GROUP BY w HAVING count(*) >= 2),
         fl AS (SELECT doc_id, pos FROM wins WHERE w IN (SELECT w FROM dup)),
         isl AS (
           SELECT doc_id, pos,
                  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) = 1
                       THEN 0 ELSE 1 END AS brk
           FROM fl),
         grp AS (
           SELECT doc_id, pos,
                  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
           FROM isl)
         SELECT doc_id, min(pos) AS start_tok, max(pos) + 14 AS end_tok,
                max(pos) + 14 - min(pos) + 1 AS n_tokens
         FROM grp GROUP BY doc_id, g""",

    "q_nfc_normalize" ->
      """SELECT doc_id, nfc_normalize(text) AS norm_text FROM documents""",

    "q_mean_pool" ->
      """WITH e AS (
           SELECT CAST(vec_id // 10 AS BIGINT) AS group_id,
                  unnest(embedding) AS x,
                  unnest(range(0, len(embedding))) AS dim
           FROM embeddings),
         pd AS (
           SELECT group_id, dim, avg(CAST(x AS DOUBLE)) AS m, count(*) AS n
           FROM e GROUP BY 1, 2),
         v AS (
           SELECT group_id, list(m ORDER BY dim) AS vec,
                  max(CASE WHEN dim = 0 THEN n END) AS n_chunks
           FROM pd GROUP BY 1),
         nrm AS (
           SELECT group_id, n_chunks, vec,
                  sqrt(list_sum(list_transform(vec, x -> x * x))) AS l2
           FROM v)
         SELECT group_id, CAST(n_chunks AS BIGINT) AS n_chunks, dim,
                round(val / CASE WHEN l2 = 0 THEN 1 ELSE l2 END, 6) AS value
         FROM (SELECT group_id, n_chunks, l2, unnest(vec) AS val,
                      unnest(range(0, len(vec))) AS dim
               FROM nrm)""",

    "q_term_proximity" ->
      """WITH toks AS (
           SELECT doc_id, w, i AS p FROM (
             SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
             unnest(range(1, len(t) + 1)) AS u(i), LATERAL (SELECT t[i] AS w)
           WHERE w IN ('vector', 'join')),
         lagged AS (
           SELECT doc_id, p, w = 'vector' AS isA,
                  lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS pp,
                  lag(w = 'vector') OVER (PARTITION BY doc_id ORDER BY p) AS pa
           FROM toks)
         SELECT doc_id, CAST(min(p - pp) AS BIGINT) AS min_distance
         FROM lagged WHERE pa IS NOT NULL AND pa <> isA
         GROUP BY doc_id""",

    "q_rrf_fuse" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
                       FROM documents),
         dl AS (SELECT doc_id, count(*) AS dl FROM toks WHERE length(w) > 0 GROUP BY 1),
         stats AS (SELECT avg(dl) AS avgdl, CAST(count(*) AS DOUBLE) AS n_docs FROM dl),
         tf AS (SELECT doc_id, w, count(*) AS tf FROM toks
                WHERE w IN ('vector', 'join', 'stream') GROUP BY 1, 2),
         dfq AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
         bm AS (
           SELECT doc_id, round(sum(
                    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2 /
                    (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 6) AS score
           FROM tf JOIN dfq USING (w) JOIN dl USING (doc_id) CROSS JOIN stats
           GROUP BY doc_id),
         bmrank AS (
           SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
           FROM bm),
         qbase AS (
           SELECT doc_id,
                  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks,
                  regexp_replace(text, '\s+', '', 'g') AS body,
                  trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm
           FROM documents),
         qm AS (
           SELECT doc_id,
                  CASE WHEN len(toks) = 0 THEN 0.0
                       ELSE CAST(len(list_filter(toks, w -> w IN ('the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','that','this'))) AS DOUBLE) / len(toks) END AS stopword_ratio,
                  CASE WHEN length(body) = 0 THEN 0.0
                       ELSE CAST(length(regexp_replace(body, '[\p{L}\p{N}]', '', 'g')) AS DOUBLE) / length(body) END AS punct_ratio,
                  CASE WHEN length(norm) = 0 THEN 0 ELSE len(toks) END AS n_tokens
           FROM qbase),
         q AS (
           SELECT doc_id,
                  round(0.5 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                        + 0.5 * least(stopword_ratio * 4.0, 1.0)
                        - 0.25 * least(punct_ratio * 2.0, 1.0), 6) AS quality
           FROM qm),
         qrank AS (
           SELECT doc_id, row_number() OVER (ORDER BY quality DESC, doc_id) AS rank
           FROM q),
         contrib AS (
           SELECT doc_id, 1.0 / (60 + rank) AS c FROM bmrank
           UNION ALL SELECT doc_id, 1.0 / (60 + rank) AS c FROM qrank),
         fused AS (
           SELECT doc_id, round(sum(c), 6) AS rrf_score,
                  CAST(count(*) AS BIGINT) AS n_lists
           FROM contrib GROUP BY doc_id)
         SELECT doc_id, rrf_score, n_lists
         FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 50""",

    "q_decontaminate_spans" ->
      """WITH toks AS (
           SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS t
           FROM documents),
         tr AS (SELECT * FROM toks WHERE doc_id >= 50),
         te AS (SELECT * FROM toks WHERE doc_id < 50),
         twins AS (
           SELECT DISTINCT array_to_string(t[i:i+12], ' ') AS w
           FROM te, unnest(range(1, len(t) - 11)) AS u(i)),
         wins AS (
           SELECT doc_id, i AS pos, array_to_string(t[i:i+12], ' ') AS w
           FROM tr, unnest(range(1, len(t) - 11)) AS u(i)),
         covered AS (
           SELECT DISTINCT doc_id, u.tp
           FROM wins, unnest(range(pos, pos + 13)) AS u(tp)
           WHERE w IN (SELECT w FROM twins)),
         tokpos AS (
           SELECT doc_id, i AS tp, t[i] AS tok
           FROM tr, unnest(range(1, len(t) + 1)) AS u(i)),
         kept AS (
           SELECT doc_id, tp, tok FROM tokpos ANTI JOIN covered USING (doc_id, tp))
         SELECT t.doc_id,
                coalesce(string_agg(k.tok, ' ' ORDER BY k.tp), '') AS clean_text,
                count(k.tok) AS n_tokens,
                any_value(len(t.t)) - count(k.tok) AS n_tokens_removed
         FROM tr t LEFT JOIN kept k ON t.doc_id = k.doc_id
         GROUP BY t.doc_id""",

    "q_span_dedup" ->
      """WITH toks AS (
           SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS t
           FROM documents),
         wins AS (
           SELECT doc_id, i AS pos, array_to_string(t[i:i+14], ' ') AS w
           FROM toks, unnest(range(1, len(t) - 13)) AS u(i)),
         x AS (
           SELECT doc_id, pos,
                  row_number() OVER (PARTITION BY w ORDER BY doc_id, pos) AS rn,
                  count(*) OVER (PARTITION BY w) AS occ
           FROM wins),
         covered AS (
           SELECT DISTINCT doc_id, u.tp
           FROM x, unnest(range(pos, pos + 15)) AS u(tp)
           WHERE occ >= 2 AND rn > 1),
         tokpos AS (
           SELECT doc_id, i AS tp, t[i] AS tok
           FROM toks, unnest(range(1, len(t) + 1)) AS u(i)),
         kept AS (
           SELECT doc_id, tp, tok FROM tokpos ANTI JOIN covered USING (doc_id, tp))
         SELECT t.doc_id,
                coalesce(string_agg(k.tok, ' ' ORDER BY k.tp), '') AS clean_text,
                count(k.tok) AS n_tokens,
                any_value(len(t.t)) - count(k.tok) AS n_tokens_removed
         FROM toks t LEFT JOIN kept k ON t.doc_id = k.doc_id
         GROUP BY t.doc_id""",

    "q_bpe_pairs" ->
      """WITH wf AS (
           SELECT word, count(*) AS freq
           FROM (SELECT unnest(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ')) AS word
                 FROM documents)
           WHERE length(word) > 0 GROUP BY word),
         sy AS (
           SELECT freq, list_append(string_split(word, ''), '</w>') AS s
           FROM wf)
         SELECT s[i] AS lhs, s[i+1] AS rhs, CAST(sum(freq) AS BIGINT) AS cnt
         FROM sy, unnest(range(1, len(s))) AS u(i)
         GROUP BY 1, 2""",

    "q_dsir_weights" ->
      """WITH toks AS (
           SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
           FROM documents),
         rawg AS (
           SELECT doc_id,
                  CAST(('0x' || substr(md5(array_to_string(t[i:i+1], ' ')), 1, 6)) AS BIGINT) % 10000 AS bucket
           FROM toks, unnest(range(1, len(t))) AS u(i)),
         tgtg AS (
           SELECT r.bucket FROM rawg r JOIN documents d ON d.doc_id = r.doc_id
           WHERE d.lang = 'en'),
         rc AS (SELECT bucket, count(*) AS c_raw FROM rawg GROUP BY 1),
         tc AS (SELECT bucket, count(*) AS c_tgt FROM tgtg GROUP BY 1),
         tot AS (SELECT (SELECT sum(c_raw) FROM rc) AS t_raw,
                        (SELECT sum(c_tgt) FROM tc) AS t_tgt)
         SELECT r.doc_id, count(*) AS n_ngrams,
                round(avg(ln((coalesce(tc.c_tgt, 0) + 1) / (tot.t_tgt + 10000.0)) -
                          ln((coalesce(rc.c_raw, 0) + 1) / (tot.t_raw + 10000.0))), 6) AS weight
         FROM rawg r
         LEFT JOIN rc ON rc.bucket = r.bucket
         LEFT JOIN tc ON tc.bucket = r.bucket
         CROSS JOIN tot
         GROUP BY r.doc_id""",

    "q_dsir_select" ->
      """WITH toks AS (
           SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
           FROM documents),
         rawg AS (
           SELECT doc_id,
                  CAST(('0x' || substr(md5(array_to_string(t[i:i+1], ' ')), 1, 6)) AS BIGINT) % 10000 AS bucket
           FROM toks, unnest(range(1, len(t))) AS u(i)),
         tgtg AS (
           SELECT r.bucket FROM rawg r JOIN documents d ON d.doc_id = r.doc_id
           WHERE d.lang = 'en'),
         rc AS (SELECT bucket, count(*) AS c_raw FROM rawg GROUP BY 1),
         tc AS (SELECT bucket, count(*) AS c_tgt FROM tgtg GROUP BY 1),
         tot AS (SELECT (SELECT sum(c_raw) FROM rc) AS t_raw,
                        (SELECT sum(c_tgt) FROM tc) AS t_tgt)
         SELECT doc_id, n_ngrams, weight FROM (
           SELECT r.doc_id, count(*) AS n_ngrams,
                  round(avg(ln((coalesce(tc.c_tgt, 0) + 1) / (tot.t_tgt + 10000.0)) -
                            ln((coalesce(rc.c_raw, 0) + 1) / (tot.t_raw + 10000.0))), 6) AS weight
           FROM rawg r
           LEFT JOIN rc ON rc.bucket = r.bucket
           LEFT JOIN tc ON tc.bucket = r.bucket
           CROSS JOIN tot
           GROUP BY r.doc_id)
         ORDER BY weight DESC, doc_id LIMIT 50""",

    "q_stratified_take" ->
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':take'), doc_id) AS rn
           FROM documents)
         WHERE rn <= 20""",

    "q_stratified_sample" ->
      """SELECT lang, count(*) AS n_docs, round(avg(length(text)), 4) AS avg_chars
         FROM documents
         WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 1000 <
               CASE lang WHEN 'en' THEN 300 WHEN 'zh' THEN 500 ELSE 1000 END
         GROUP BY lang""",

    "q_gopher_quality" ->
      """WITH base AS (
           SELECT doc_id, text,
                  trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm,
                  regexp_replace(text, '\s+', '', 'g') AS body
           FROM documents),
         m AS (
           SELECT doc_id, text, norm,
                  CASE WHEN len(norm) = 0 THEN 0
                       ELSE len(string_split(norm, ' ')) END AS n_words,
                  CASE WHEN len(norm) = 0 THEN 0.0
                       ELSE len(body)::DOUBLE / len(string_split(norm, ' ')) END AS mwl,
                  CASE WHEN len(norm) = 0 THEN 0.0
                       ELSE len([w FOR w IN string_split(lower(norm), ' ') IF regexp_matches(w, '\p{L}')])::DOUBLE
                            / len(string_split(norm, ' ')) END AS alpha_frac,
                  len(regexp_extract_all(text, '#')) AS hash_n,
                  len(regexp_extract_all(text, '\.\.\.')) + len(regexp_extract_all(text, '…')) AS ell_n,
                  CASE WHEN len(norm) = 0 THEN 0
                       ELSE len(list_intersect(list_distinct(string_split(lower(norm), ' ')),
                            ['the','be','to','of','and','that','have','with'])) END AS stop_hits
           FROM base),
         r AS (
           SELECT doc_id, n_words, mwl, alpha_frac, stop_hits,
                  CASE WHEN n_words = 0 THEN 0.0
                       ELSE round(hash_n::DOUBLE / n_words, 6) END AS hash_ratio,
                  CASE WHEN n_words = 0 THEN 0.0
                       ELSE round(ell_n::DOUBLE / n_words, 6) END AS ellipsis_ratio
           FROM m)
         SELECT doc_id, n_words,
                round(mwl, 6) AS mean_word_len,
                round(alpha_frac, 6) AS alpha_frac,
                hash_ratio, ellipsis_ratio, stop_hits,
                CASE WHEN n_words >= 50 THEN 1 ELSE 0 END AS r_words,
                CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS r_stop,
                CASE WHEN n_words >= 50 AND n_words <= 100000
                      AND mwl >= 3.0 AND mwl <= 10.0
                      AND alpha_frac >= 0.8
                      AND hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1
                      AND stop_hits >= 2 THEN 1 ELSE 0 END AS keep
         FROM r""",

    "q_quality_score" ->
      """WITH base AS (
           SELECT doc_id,
                  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks,
                  regexp_replace(text, '\s+', '', 'g') AS body,
                  trim(regexp_replace(text, '\s+', ' ', 'g')) AS norm
           FROM documents),
         m AS (
           SELECT doc_id,
                  CASE WHEN len(toks) = 0 THEN 0.0
                       ELSE CAST(len(list_filter(toks, w -> w IN ('the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','that','this'))) AS DOUBLE) / len(toks) END AS stopword_ratio,
                  CASE WHEN length(body) = 0 THEN 0.0
                       ELSE CAST(length(regexp_replace(body, '[\p{L}\p{N}]', '', 'g')) AS DOUBLE) / length(body) END AS punct_ratio,
                  CASE WHEN length(norm) = 0 THEN 0.0
                       ELSE CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(toks) END AS mean_token_len,
                  CASE WHEN length(norm) = 0 THEN 0 ELSE len(toks) END AS n_tokens
           FROM base)
         SELECT doc_id,
                round(stopword_ratio, 6) AS stopword_ratio,
                round(punct_ratio, 6) AS punct_ratio,
                round(mean_token_len, 6) AS mean_token_len,
                round(0.5 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                      + 0.5 * least(stopword_ratio * 4.0, 1.0)
                      - 0.25 * least(punct_ratio * 2.0, 1.0), 6) AS quality
         FROM m""",

    "q_lang_mismatch" ->
      """WITH s AS (
           SELECT doc_id, lang,
                  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           FROM documents),
         sc AS (
           SELECT doc_id, lang,
                  len(list_filter(toks, w -> w IN ('the','and','of','is','a'))) AS s_en,
                  len(list_filter(toks, w -> w IN ('el','la','de','que','y'))) AS s_es,
                  len(list_filter(toks, w -> w IN ('le','la','et','les','des'))) AS s_fr,
                  len(list_filter(toks, w -> w IN ('der','die','und','das','ist'))) AS s_de
           FROM s),
         p AS (
           SELECT doc_id, lang,
                  CASE WHEN s_en = greatest(s_en, s_es, s_fr, s_de) AND s_en > 0 THEN 'en'
                       WHEN s_es = greatest(s_en, s_es, s_fr, s_de) AND s_es > 0 THEN 'es'
                       WHEN s_fr = greatest(s_en, s_es, s_fr, s_de) AND s_fr > 0 THEN 'fr'
                       WHEN s_de = greatest(s_en, s_es, s_fr, s_de) AND s_de > 0 THEN 'de'
                       ELSE 'und' END AS lang_pred
           FROM sc)
         SELECT doc_id, lang, lang_pred
         FROM p WHERE lang_pred <> lang AND lang_pred <> 'und'""",

    "q_lang_id" ->
      """WITH s AS (
           SELECT doc_id,
                  string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
           FROM documents),
         sc AS (
           SELECT doc_id,
                  len(list_filter(toks, w -> w IN ('the','and','of','is','a'))) AS s_en,
                  len(list_filter(toks, w -> w IN ('el','la','de','que','y'))) AS s_es,
                  len(list_filter(toks, w -> w IN ('le','la','et','les','des'))) AS s_fr,
                  len(list_filter(toks, w -> w IN ('der','die','und','das','ist'))) AS s_de
           FROM s)
         SELECT doc_id,
                CASE WHEN s_en = greatest(s_en, s_es, s_fr, s_de) AND s_en > 0 THEN 'en'
                     WHEN s_es = greatest(s_en, s_es, s_fr, s_de) AND s_es > 0 THEN 'es'
                     WHEN s_fr = greatest(s_en, s_es, s_fr, s_de) AND s_fr > 0 THEN 'fr'
                     WHEN s_de = greatest(s_en, s_es, s_fr, s_de) AND s_de > 0 THEN 'de'
                     ELSE 'und' END AS lang_pred
         FROM sc""",

    "q_ann_cosine" ->
      """SELECT query_id, neighbor_id, rank FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
           FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
           WHERE q.vec_id < 10)
         WHERE rank <= 5""",

    "q_knn_label_agreement" ->
      """WITH knn AS (
           SELECT query_id, neighbor_id FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
             FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
             WHERE q.vec_id < 50)
           WHERE rank <= 5)
         SELECT query_id,
                CAST(sum(CASE WHEN ql.label = nl.label THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
         FROM knn
         JOIN embeddings ql ON ql.vec_id = knn.query_id
         JOIN embeddings nl ON nl.vec_id = knn.neighbor_id
         GROUP BY query_id""",

    "q_pii_mask" ->
      s"""WITH corpus AS ($piiCorpusSql)
         SELECT event_id,
                regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
                  '\\b(([0-9]{4}[- ]){3}[0-9]{4}|[0-9]{13,19})\\b', '<CARD>', 'g'),
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g'),
                  '\\+?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3}[- ][0-9]{4}', '<PHONE>', 'g'),
                  '[0-9]{6,}', '<ID>', 'g') AS masked_text
         FROM corpus""",

    "q_pii_report" ->
      s"""WITH corpus AS ($piiCorpusSql),
         c AS (SELECT
                 len(regexp_extract_all(text, '\\b(([0-9]{4}[- ]){3}[0-9]{4}|[0-9]{13,19})\\b')) AS n_ccard,
                 len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
                 len(regexp_extract_all(text, '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b')) AS n_ipv4,
                 len(regexp_extract_all(text, '\\+?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3}[- ][0-9]{4}')) AS n_phone,
                 len(regexp_extract_all(text, '[0-9]{6,}')) AS n_id
               FROM corpus)
         SELECT 'ccard' AS category,
                CAST(sum(CASE WHEN n_ccard > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
                CAST(sum(n_ccard) AS BIGINT) AS n_matches FROM c
         UNION ALL
         SELECT 'email', CAST(sum(CASE WHEN n_email > 0 THEN 1 ELSE 0 END) AS BIGINT),
                CAST(sum(n_email) AS BIGINT) FROM c
         UNION ALL
         SELECT 'ipv4', CAST(sum(CASE WHEN n_ipv4 > 0 THEN 1 ELSE 0 END) AS BIGINT),
                CAST(sum(n_ipv4) AS BIGINT) FROM c
         UNION ALL
         SELECT 'phone', CAST(sum(CASE WHEN n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT),
                CAST(sum(n_phone) AS BIGINT) FROM c
         UNION ALL
         SELECT 'id_number', CAST(sum(CASE WHEN n_id > 0 THEN 1 ELSE 0 END) AS BIGINT),
                CAST(sum(n_id) AS BIGINT) FROM c""",

    "q_luhn_audit" ->
      s"""WITH corpus AS ($piiCorpusSql),
         a AS (SELECT
                 regexp_extract_all(text, '\\b(([0-9]{4}[- ]){3}[0-9]{4}|[0-9]{13,19})\\b') AS cands
               FROM corpus),
         v AS (SELECT len(cands) AS n_shaped,
                 len(list_filter(cands, c ->
                   list_sum(list_transform(
                     list_reverse(string_split_regex(regexp_replace(c, '[^0-9]', '', 'g'), '')),
                     (x, i) -> CASE WHEN i % 2 = 1 THEN CAST(x AS INT)
                                    WHEN CAST(x AS INT) * 2 > 9 THEN CAST(x AS INT) * 2 - 9
                                    ELSE CAST(x AS INT) * 2 END)) % 10 = 0)) AS n_valid
               FROM a)
         SELECT CAST(sum(CASE WHEN n_shaped > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_cards,
                CAST(sum(n_shaped) AS BIGINT) AS n_card_shaped,
                CAST(sum(n_valid) AS BIGINT) AS n_luhn_valid FROM v""",

    "q_sessionize" ->
      """WITH brk AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 21600
                       THEN 1 ELSE 0 END AS is_brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT user_id, ts,
                  sum(is_brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
           FROM brk)
         SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
                count(*) AS n_events,
                strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
                strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS sess_end,
                CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT) AS duration_s
         FROM sess GROUP BY user_id, session_seq""",

    "q_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                     WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
                JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
                JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id),
         n AS (SELECT (SELECT count(*) FROM s1) AS n1,
                      (SELECT count(*) FROM s2) AS n2,
                      (SELECT count(*) FROM s3) AS n3)
         SELECT 'view' AS step, CAST(1 AS INTEGER) AS step_idx,
                n1 AS n_keys, CAST(1.0 AS DOUBLE) AS conv_from_prev FROM n
         UNION ALL
         SELECT 'click', CAST(2 AS INTEGER), n2,
                round(n2 / CAST(nullif(n1, 0) AS DOUBLE), 6) FROM n
         UNION ALL
         SELECT 'purchase', CAST(3 AS INTEGER), n3,
                round(n3 / CAST(nullif(n2, 0) AS DOUBLE), 6) FROM n""",

    "q_retention" ->
      """WITH f AS (SELECT user_id, date_trunc('week', min(ts)) AS cw
                    FROM events GROUP BY user_id),
         a AS (SELECT DISTINCT e.user_id,
                 strftime(f.cw, '%Y-%m-%d') AS cohort,
                 CAST(date_diff('day', CAST(f.cw AS DATE),
                   CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS BIGINT) AS period_offset
               FROM events e JOIN f USING (user_id)),
         c AS (SELECT cohort, period_offset, count(*) AS n_active
               FROM a GROUP BY cohort, period_offset)
         SELECT cohort, period_offset, n_active,
                max(CASE WHEN period_offset = 0 THEN n_active END)
                  OVER (PARTITION BY cohort) AS cohort_size,
                round(n_active / CAST(max(CASE WHEN period_offset = 0 THEN n_active END)
                  OVER (PARTITION BY cohort) AS DOUBLE), 6) AS retention
         FROM c""",

    "q_accent_fold" ->
      """SELECT doc_id,
                strip_accents(translate(text, 'aeioucsnk', 'áéíóüçøñ한')) AS folded
         FROM documents""",

    // the kernel's regex-chain-statable contract, replayed literally:
    // script/style w/ content -> ' ', comments -> ' ', block tags ->
    // newline, other tags -> ' ', entities decoded (amp LAST), then
    // spaces collapse / trim around newlines / newline runs collapse
    "q_html_extract" ->
      """WITH h AS (
           SELECT doc_id,
             '<!DOCTYPE html><html lang="en"><head><title>doc</title>'
             || '<style type="text/css">p { color: red; }</style>'
             || '<script>if (1 < 2) { alert("x&y"); }</script></head>'
             || '<body><!-- header --><h1>Doc '
             || CAST(doc_id AS VARCHAR)
             || '</h1><P CLASS="main">'
             || regexp_replace(text, '[<>&\r\x{00A0}]', ' ', 'g')
             || '</P><div><span>source: </span>'
             || regexp_replace(source, '[<>&\r\x{00A0}]', ' ', 'g')
             || '&nbsp;&amp; lang &lt;'
             || regexp_replace(lang, '[<>&\r\x{00A0}]', ' ', 'g')
             || '&gt; caf&#233; &#x21; fin</div><table><tr><td>n_chars'
             || '</td><td>' || CAST(n_chars AS VARCHAR)
             || '</td></tr></table></body></html>' AS html
           FROM documents),
         s1 AS (SELECT doc_id, regexp_replace(regexp_replace(html,
             '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
             '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g') AS x
           FROM h),
         s2 AS (SELECT doc_id,
             regexp_replace(x, '(?s)<!--.*?-->', ' ', 'g') AS x
           FROM s1),
         s3 AS (SELECT doc_id, regexp_replace(x,
             '(?i)</?(blockquote|article|section|header|footer|table|pre|h[1-6]|hr|br|td|th|tr|ul|ol|li|p|div)\b[^>]*>',
             chr(10), 'g') AS x FROM s2),
         s4 AS (SELECT doc_id,
             regexp_replace(x, '<[^>]*>', ' ', 'g') AS x FROM s3),
         s5 AS (SELECT doc_id,
             replace(replace(replace(replace(replace(replace(x,
               '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
               '&#233;', chr(233)), '&#x21;', '!'), '&amp;', '&') AS x
           FROM s4),
         s6 AS (SELECT doc_id,
             regexp_replace(x, '[ \t]+', ' ', 'g') AS x FROM s5),
         s7 AS (SELECT doc_id,
             regexp_replace(x, ' ?\n ?', chr(10), 'g') AS x FROM s6),
         s8 AS (SELECT doc_id,
             regexp_replace(x, '\n+', chr(10), 'g') AS x FROM s7)
         SELECT doc_id, trim(x, ' ' || chr(10) || chr(9)) AS text
         FROM s8""",

    "q_html_meta" ->
      """WITH h AS (
           SELECT doc_id,
             '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
             || ' &amp; co</title><meta name="viewport" content="w=1">'
             || '<meta content="'
             || CASE WHEN doc_id % 2 = 0 THEN 'noindex, nofollow'
                     ELSE 'index, follow' END
             || '" name="robots"></head><body>'
             || '<time class="pub" datetime="2024-01-'
             || lpad(CAST(n_chars % 28 + 1 AS VARCHAR), 2, '0')
             || '">January</time><h1>Lang '
             || regexp_replace(lang, '[<>&\r\x{00A0}]', ' ', 'g')
             || '</h1><p>body</p><H1>Source <b>'
             || regexp_replace(source, '[<>&\r\x{00A0}]', ' ', 'g')
             || '</b></H1></body></html>' AS html
           FROM documents)
         SELECT doc_id,
           trim(regexp_replace(replace(
             regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1),
             '&amp;', '&'), '[ \t]+', ' ', 'g')) AS title,
           nullif(regexp_extract(html,
             '(?is)<time[^>]*?datetime="([^"]*)"', 1), '')
             AS published_at,
           array_to_string(list_transform(
             regexp_extract_all(html, '(?is)<h1[^>]*>(.*?)</h1>', 1),
             x -> trim(regexp_replace(regexp_replace(x,
               '<[^>]*>', ' ', 'g'), '[ \t]+', ' ', 'g'))), chr(10))
             AS headlines,
           nullif(regexp_extract(html,
             '(?is)<meta\s[^>]*?content="([^"]*)"[^>]*?name="robots"',
             1), '') AS robots
         FROM h""",

    "q_html_links" ->
      """WITH h AS (
           SELECT doc_id,
             '<html><body><p>intro</p><a class="x" href="https://'
             || regexp_replace(source, '["''<>\r\x{00A0}]', ' ', 'g')
             || '.example.com/doc/' || CAST(doc_id AS VARCHAR)
             || '">first</a><div><A HREF="HTTP://Track.Example.COM:80/p?utm_source=feed&id='
             || CAST(doc_id AS VARCHAR)
             || '#frag"></A></div><a name="no-href"></a><a hreflang="en" href="/relative/'
             || regexp_replace(lang, '["''<>\r\x{00A0}]', ' ', 'g')
             || '">rel</a></body></html>' AS html
           FROM documents)
         SELECT doc_id, nullif(array_to_string(
             regexp_extract_all(html,
               '(?is)<a\s[^>]*?href\s*=\s*"([^"]*)"', 1),
             chr(10)), '') AS links
         FROM h""",

    "q_sitemap_locs" ->
      """WITH h AS (
           SELECT doc_id,
             '<?xml version="1.0" encoding="UTF-8"?><urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"><url><loc>https://'
             || regexp_replace(source, '[<>&\r\x{00A0}]', ' ', 'g')
             || '.example.com/doc/' || CAST(doc_id AS VARCHAR)
             || '?a=1&amp;b=2</loc><lastmod>2024-01-02</lastmod></url><url><loc>  https://example.com/lang/'
             || regexp_replace(lang, '[<>&\r\x{00A0}]', ' ', 'g')
             || '/' || CAST(doc_id AS VARCHAR)
             || ' </loc></url></urlset>' AS xml
           FROM documents)
         SELECT doc_id, nullif(array_to_string(list_transform(
             regexp_extract_all(xml, '(?is)<loc[^>]*>(.*?)</loc>', 1),
             x -> replace(trim(x), '&amp;', '&')), chr(10)), '') AS locs
         FROM h""",

    "q_robots_gate" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'GraftBot'
                ELSE 'otherbot' END AS user_agent,
           CASE doc_id % 5
             WHEN 0 THEN '/private/x' || CAST(doc_id AS VARCHAR)
             WHEN 1 THEN '/private/public/y' || CAST(doc_id AS VARCHAR)
             WHEN 2 THEN '/tmp'
             WHEN 3 THEN '/tmpfile' || CAST(doc_id AS VARCHAR)
             ELSE '/open/z' || CAST(doc_id AS VARCHAR)
           END AS path,
           CASE WHEN doc_id % 2 = 0 THEN
             -- graftbot group: Disallow /private/ (9), Allow
             -- /private/public/ (16), Disallow /tmp$ (anchored)
             CASE doc_id % 5
               WHEN 0 THEN false  -- /private/ matches
               WHEN 1 THEN true   -- longer Allow wins
               WHEN 2 THEN false  -- /tmp$ anchored match
               WHEN 3 THEN true   -- anchor means no prefix match
               ELSE true          -- no rule matches /open/
             END
           ELSE
             -- star group: Disallow / (1), Allow /open/ (6)
             CASE doc_id % 5 WHEN 4 THEN true ELSE false END
           END AS allowed,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1.5 ELSE 10.0
           END AS DOUBLE) AS crawl_delay
         FROM documents""",

    // q_outlink_hosts oracle: the three fixture links resolve BY
    // CONSTRUCTION — the absolute https one and the (now-resolved)
    // relative one both land on the page's host, the HTTP:80 one on
    // track.example.com; per doc: page-host x2, track x1
    "q_outlink_hosts" ->
      """WITH h AS (
           SELECT lower(regexp_replace(source,
               '["''<>\r\x{00A0}:?#%/]', ' ', 'g')) || '.example.com'
             AS shost
           FROM documents),
         u AS (
           SELECT shost AS host FROM h
           UNION ALL SELECT 'track.example.com' FROM h
           UNION ALL SELECT shost FROM h)
         SELECT host, CAST(count(*) AS BIGINT) AS n_links
         FROM u GROUP BY 1""",

    "q_warc_extract" ->
      """WITH h AS (
           SELECT doc_id,
             regexp_replace(regexp_replace(coalesce(text, ''),
               '[^\x{20}-\x{7E}]', ' ', 'g'), '[<>&]', ' ', 'g') AS clean,
             regexp_replace(source, '[^\x{20}-\x{7E}]', ' ', 'g') AS src
           FROM documents),
         x AS (
           SELECT doc_id,
             'https://' || src || '.example.com/doc/'
               || CAST(doc_id AS VARCHAR) AS target_uri,
             '<html><body><h1>Doc ' || CAST(doc_id AS VARCHAR)
               || '</h1><p>' || clean || '</p></body></html>' AS html
           FROM h),
         s3 AS (SELECT doc_id, target_uri, regexp_replace(html,
             '(?i)</?(h[1-6]|p)\b[^>]*>', chr(10), 'g') AS t FROM x),
         s4 AS (SELECT doc_id, target_uri,
             regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s3),
         s6 AS (SELECT doc_id, target_uri,
             regexp_replace(t, '[ \t]+', ' ', 'g') AS t FROM s4),
         s7 AS (SELECT doc_id, target_uri,
             regexp_replace(t, ' ?\n ?', chr(10), 'g') AS t FROM s6),
         s8 AS (SELECT doc_id, target_uri,
             regexp_replace(t, '\n+', chr(10), 'g') AS t FROM s7)
         SELECT doc_id, target_uri,
           trim(t, ' ' || chr(10) || chr(9)) AS text
         FROM s8""",

    "q_url_canon" ->
      """WITH u AS (SELECT doc_id,
           CASE doc_id % 8
             WHEN 0 THEN 'HTTP://WWW.Site.COM:80/Doc/' || CAST(doc_id AS VARCHAR)
               || '?utm_source=x&utm_medium=y&id=' || CAST(doc_id AS VARCHAR) || '#sec'
             WHEN 1 THEN 'https://Example.com:443'
             WHEN 2 THEN 'http://host.com:8080/p/' || CAST(doc_id AS VARCHAR)
               || '?gclid=abc&q=1&fbclid=z'
             WHEN 3 THEN 'ftp://Files.EXAMPLE.com/pub/' || CAST(doc_id AS VARCHAR)
             WHEN 4 THEN 'not a url ' || CAST(doc_id AS VARCHAR)
             WHEN 5 THEN 'https://example.com/path/?UTM_CAMPAIGN=c&&x=2'
             WHEN 6 THEN 'https://example.com/%7Euser/doc%2f' || CAST(doc_id AS VARCHAR)
               || '?id=%41a&%75tm_source=x'
             ELSE 'http://h.com/a%G1b%4/' || CAST(doc_id AS VARCHAR)
           END AS url
           FROM documents),
         p AS (SELECT doc_id, url,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS auth,
             regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
             CASE WHEN regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^#?]*\?')
                  THEN regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^#?]*\?([^#]*)', 1)
                  ELSE '' END AS query,
             regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*://') AS is_abs
           FROM u),
         q AS (SELECT doc_id, url, scheme, path0, query, is_abs,
             CASE WHEN auth LIKE '%:%' THEN
               CASE WHEN regexp_matches(auth, ':[0-9]*$')
                    THEN lower(regexp_replace(auth, ':[0-9]*$', ''))
                    ELSE NULL END
             ELSE lower(auth) END AS host,
             regexp_extract(auth, ':([0-9]*)$', 1) AS port
           FROM p),
         r AS (SELECT doc_id, url, scheme, host, port, is_abs,
             CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
             array_to_string(list_filter(string_split(query, '&'),
               x -> len(x) > 0
                 AND NOT starts_with(lower(CASE WHEN instr(x, '=') > 0
                   THEN substr(x, 1, instr(x, '=') - 1) ELSE x END), 'utm_')
                 AND lower(CASE WHEN instr(x, '=') > 0
                   THEN substr(x, 1, instr(x, '=') - 1) ELSE x END)
                   NOT IN ('gclid', 'fbclid', 'msclkid', 'mc_eid')), '&') AS kept
           FROM q)
         SELECT doc_id, url,
           -- r14 pct-norm arms state their expected canon BY
           -- CONSTRUCTION (the generic chain has no escape
           -- normalizer); the legacy arms carry no '%' so the chain
           -- still covers them generically
           CASE doc_id % 8
             WHEN 6 THEN 'https://example.com/~user/doc%2F'
               || CAST(doc_id AS VARCHAR) || '?id=Aa'
             WHEN 7 THEN 'http://h.com/a%G1b%4/' || CAST(doc_id AS VARCHAR)
             ELSE
           CASE WHEN NOT is_abs OR host IS NULL OR host = '' THEN NULL
             ELSE scheme || '://' || host ||
               CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
                 OR (scheme = 'https' AND port = '443'))
                 THEN ':' || port ELSE '' END
               || path ||
               CASE WHEN kept <> '' THEN '?' || kept ELSE '' END
           END END AS canon_url
         FROM r""",

    "q_resolve_url" ->
      """WITH h AS (SELECT doc_id,
           lower(regexp_replace(source, '[^A-Za-z0-9]', 'x', 'g'))
             || '.example.com' AS host,
           CAST(doc_id AS VARCHAR) AS id
           FROM documents)
         SELECT doc_id,
           CASE doc_id % 8
             WHEN 0 THEN 'g' || id
             WHEN 1 THEN './g/' || id
             WHEN 2 THEN '../g' || id
             WHEN 3 THEN '../../../g'
             WHEN 4 THEN '//h' || id || '.example.org/p'
             WHEN 5 THEN '?y=' || id
             WHEN 6 THEN '#f' || id
             ELSE 'https://abs.example.net/z/' || id
           END AS href,
           CASE doc_id % 8
             WHEN 0 THEN 'http://' || host || '/b/c/g' || id
             WHEN 1 THEN 'http://' || host || '/b/c/g/' || id
             WHEN 2 THEN 'http://' || host || '/b/g' || id
             WHEN 3 THEN 'http://' || host || '/g'
             WHEN 4 THEN 'http://h' || id || '.example.org/p'
             WHEN 5 THEN 'http://' || host || '/b/c/d;p?y=' || id
             WHEN 6 THEN 'http://' || host || '/b/c/d;p?q#f' || id
             ELSE 'https://abs.example.net/z/' || id
           END AS resolved
         FROM h""",

    // q_decode_body oracle: DuckDB works in Unicode directly (the
    // charset decode happens only on the Spark side), then replays
    // the html_to_text regex chain from q_warc_extract
    "q_decode_body" ->
      """WITH h AS (SELECT doc_id,
           regexp_replace(regexp_replace(coalesce(text, ''),
             '[^\x{20}-\x{7E}]', ' ', 'g'), '[<>&]', ' ', 'g') AS clean
           FROM documents),
         x AS (SELECT doc_id,
             '<html><head>'
             || CASE WHEN doc_id % 3 = 1
                THEN '<meta charset=ISO-8859-1>' ELSE '' END
             || '</head><body><p>' || clean || ' '
             || CASE doc_id % 3 WHEN 0 THEN 'Żółć gęślą jaźń'
                WHEN 1 THEN 'één beurs café' ELSE 'Żółć ☃' END
             || '</p></body></html>' AS html
           FROM h),
         s3 AS (SELECT doc_id, regexp_replace(html,
             '(?i)</?(h[1-6]|p)\b[^>]*>', chr(10), 'g') AS t FROM x),
         s4 AS (SELECT doc_id,
             regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s3),
         s6 AS (SELECT doc_id,
             regexp_replace(t, '[ \t]+', ' ', 'g') AS t FROM s4),
         s7 AS (SELECT doc_id,
             regexp_replace(t, ' ?\n ?', chr(10), 'g') AS t FROM s6),
         s8 AS (SELECT doc_id,
             regexp_replace(t, '\n+', chr(10), 'g') AS t FROM s7)
         SELECT doc_id,
           trim(t, ' ' || chr(10) || chr(9)) AS text
         FROM s8""",

    // q_sitemap_warc oracle: gzip round-trips exactly inside the
    // Spark plan, so the expected locs are the q_sitemap_locs chain
    // over the (double-sanitized) constructed XML
    "q_sitemap_warc" ->
      """WITH h AS (SELECT doc_id,
           regexp_replace(regexp_replace(source,
             '[^\x{20}-\x{7E}]', ' ', 'g'), '[<>&]', ' ', 'g') AS src,
           regexp_replace(regexp_replace(lang,
             '[^\x{20}-\x{7E}]', ' ', 'g'), '[<>&]', ' ', 'g') AS lng
           FROM documents),
         x AS (SELECT doc_id,
             '<?xml version="1.0" encoding="UTF-8"?><urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"><url><loc>https://'
             || src || '.example.com/doc/' || CAST(doc_id AS VARCHAR)
             || '?a=1&amp;b=2</loc><lastmod>2024-01-02</lastmod></url><url><loc>  https://example.com/lang/'
             || lng || '/' || CAST(doc_id AS VARCHAR)
             || ' </loc></url></urlset>' AS xml
           FROM h)
         SELECT doc_id, nullif(array_to_string(list_transform(
             regexp_extract_all(xml, '(?is)<loc[^>]*>(.*?)</loc>', 1),
             x -> replace(trim(x), '&amp;', '&')), chr(10)), '') AS locs
         FROM x""",

    // q_frontier oracle: per doc, the page host carries 4 links of
    // which /private/x{id} is the one graftbot disallow; the
    // other{k}.example.net host carries 1 allowed link; Crawl-delay
    // is the pinned host-length derivation
    "q_frontier" ->
      """WITH h AS (SELECT doc_id,
           lower(regexp_replace(source,
               '["''<>\r\x{00A0}:?#%/]', ' ', 'g'))
             || '.example.com' AS shost,
           'other' || CAST(doc_id % 7 AS VARCHAR) || '.example.net'
             AS ohost
           FROM documents),
         u AS (
           SELECT shost AS host, 4 AS n, 3 AS a FROM h
           UNION ALL
           SELECT ohost AS host, 1 AS n, 1 AS a FROM h)
         SELECT host, CAST(sum(n) AS BIGINT) AS n_links,
           CAST(sum(a) AS BIGINT) AS n_allowed,
           CAST(length(host) % 5 + 1 AS DOUBLE) AS crawl_delay
         FROM u GROUP BY host""",

    "q_exif_meta" ->
      """SELECT doc_id,
           doc_id % 4 <> 3 AS probe_ok,
           CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 6
             WHEN 2 THEN 3 END AS orientation,
           CASE doc_id % 4 WHEN 0 THEN 'GraftCam0'
             WHEN 1 THEN 'GraftCam1' WHEN 2 THEN 'GraftCam2'
           END AS make,
           CASE doc_id % 4 WHEN 0 THEN 'GraftM0' WHEN 1 THEN 'GraftM1'
             WHEN 2 THEN 'GraftM2' END AS model,
           CASE doc_id % 4 WHEN 0 THEN '2024:01:02 03:04:05'
             WHEN 1 THEN '2023:12:31 23:59:58'
             WHEN 2 THEN '2022:06:15 12:00:00'
           END AS date_time_original
         FROM documents""",

    // q_warc_gzip_body oracle: the gzip encoding round-trips exactly
    // inside the Spark plan, so the expected text is the
    // q_warc_extract html_to_text chain over the constructed page
    "q_warc_gzip_body" ->
      """WITH h AS (SELECT doc_id,
           regexp_replace(regexp_replace(coalesce(text, ''),
             '[^\x{20}-\x{7E}]', ' ', 'g'), '[<>&]', ' ', 'g') AS clean
           FROM documents),
         x AS (SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'gzip' END
               AS http_content_encoding,
             '<html><body><h1>Doc ' || CAST(doc_id AS VARCHAR)
               || '</h1><p>' || clean || '</p></body></html>' AS html
           FROM h),
         s3 AS (SELECT doc_id, http_content_encoding,
             regexp_replace(html,
             '(?i)</?(h[1-6]|p)\b[^>]*>', chr(10), 'g') AS t FROM x),
         s4 AS (SELECT doc_id, http_content_encoding,
             regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s3),
         s6 AS (SELECT doc_id, http_content_encoding,
             regexp_replace(t, '[ \t]+', ' ', 'g') AS t FROM s4),
         s7 AS (SELECT doc_id, http_content_encoding,
             regexp_replace(t, ' ?\n ?', chr(10), 'g') AS t FROM s6),
         s8 AS (SELECT doc_id, http_content_encoding,
             regexp_replace(t, '\n+', chr(10), 'g') AS t FROM s7)
         SELECT doc_id, http_content_encoding,
           trim(t, ' ' || chr(10) || chr(9)) AS text
         FROM s8""",

    "q_warc_digest_dedup" ->
      """SELECT 'sha1:GRAFT' || CAST(doc_id % 50 AS VARCHAR)
             AS payload_digest,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
           CAST(count(*) AS BIGINT) AS n_copies
         FROM documents
         GROUP BY 1""",

    // q_warc_files oracle: the file path must agree with the byte
    // path record for record — this is q_warc_extract's
    // by-construction chain verbatim
    "q_warc_files" ->
      """WITH h AS (
           SELECT doc_id,
             regexp_replace(regexp_replace(coalesce(text, ''),
               '[^\x{20}-\x{7E}]', ' ', 'g'), '[<>&]', ' ', 'g') AS clean,
             regexp_replace(source, '[^\x{20}-\x{7E}]', ' ', 'g') AS src
           FROM documents),
         x AS (
           SELECT doc_id,
             'https://' || src || '.example.com/doc/'
               || CAST(doc_id AS VARCHAR) AS target_uri,
             '<html><body><h1>Doc ' || CAST(doc_id AS VARCHAR)
               || '</h1><p>' || clean || '</p></body></html>' AS html
           FROM h),
         s3 AS (SELECT doc_id, target_uri, regexp_replace(html,
             '(?i)</?(h[1-6]|p)\b[^>]*>', chr(10), 'g') AS t FROM x),
         s4 AS (SELECT doc_id, target_uri,
             regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s3),
         s6 AS (SELECT doc_id, target_uri,
             regexp_replace(t, '[ \t]+', ' ', 'g') AS t FROM s4),
         s7 AS (SELECT doc_id, target_uri,
             regexp_replace(t, ' ?\n ?', chr(10), 'g') AS t FROM s6),
         s8 AS (SELECT doc_id, target_uri,
             regexp_replace(t, '\n+', chr(10), 'g') AS t FROM s7)
         SELECT doc_id, target_uri,
           trim(t, ' ' || chr(10) || chr(9)) AS text
         FROM s8""",

    // q_wet_export oracle: the conversion record's text payload is
    // the html_to_text chain over the constructed page (the
    // windows-1250 arm decodes back to its literal suffix BY
    // construction), refers_to is the response record id verbatim
    "q_wet_export" ->
      """WITH h AS (SELECT doc_id,
           regexp_replace(regexp_replace(coalesce(text, ''),
             '[^\x{20}-\x{7E}]', ' ', 'g'), '[<>&]', ' ', 'g') AS clean,
           regexp_replace(source, '[^\x{20}-\x{7E}]', ' ', 'g') AS src,
           CAST(doc_id AS VARCHAR) AS id
           FROM documents),
         x AS (SELECT doc_id,
             'https://' || src || '.example.com/doc/' || id
               AS target_uri,
             '<urn:uuid:resp-' || id || '>' AS refers_to,
             '<html><body><h1>Doc ' || id || '</h1><p>' || clean
               || ' '
               || CASE WHEN doc_id % 2 = 0 THEN 'Żółć gęślą jaźń'
                  ELSE 'café ☃' END
               || '</p></body></html>' AS html
           FROM h),
         s3 AS (SELECT doc_id, target_uri, refers_to,
             regexp_replace(html,
             '(?i)</?(h[1-6]|p)\b[^>]*>', chr(10), 'g') AS t FROM x),
         s4 AS (SELECT doc_id, target_uri, refers_to,
             regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s3),
         s6 AS (SELECT doc_id, target_uri, refers_to,
             regexp_replace(t, '[ \t]+', ' ', 'g') AS t FROM s4),
         s7 AS (SELECT doc_id, target_uri, refers_to,
             regexp_replace(t, ' ?\n ?', chr(10), 'g') AS t FROM s6),
         s8 AS (SELECT doc_id, target_uri, refers_to,
             regexp_replace(t, '\n+', chr(10), 'g') AS t FROM s7)
         SELECT doc_id, target_uri, refers_to,
           trim(t, ' ' || chr(10) || chr(9)) AS wet_text
         FROM s8""",

    // q_pub_date oracle: each arm's extracted date is statable BY
    // CONSTRUCTION — og beats the decoy <time>, meta-date survives
    // the decoy author meta, the URL arm converts its path segs
    "q_pub_date" ->
      """WITH h AS (SELECT doc_id, doc_id % 5 AS m,
           lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0') AS dd
           FROM documents)
         SELECT doc_id,
           CASE m
             WHEN 0 THEN '2024-03-' || dd || 'T08:00:00Z'
             WHEN 1 THEN '2023-11-' || dd
             WHEN 2 THEN '2022-05-' || dd || 'T12:00:00+01:00'
             WHEN 3 THEN '2023-07-' || dd
           END AS pub_date,
           CASE WHEN m IN (0, 1, 2) THEN 'markup'
             WHEN m = 3 THEN 'url' END AS pub_src
         FROM h""",

    // q_recrawl_schedule oracle: the digest advances on exactly the
    // first X = doc_id % 4 intervals, so the lag-detected change
    // count IS x and the Cho-Garcia-Molina estimator is statable in
    // closed form per arm (rounded on both sides)
    "q_recrawl_schedule" ->
      """WITH h AS (SELECT doc_id, doc_id % 4 AS x,
           'https://' || lower(regexp_replace(source,
             '[^A-Za-z0-9]', 'x', 'g')) || '.example.com/doc/'
             || CAST(doc_id AS VARCHAR) AS url
           FROM documents)
         SELECT doc_id, url, CAST(x AS BIGINT) AS n_changes,
           round(-ln((3 - x + 0.5) / 3.5), 6) + 0.0 AS lambda_day,
           CASE WHEN x > 0
             THEN round(1.0 / (-ln((3 - x + 0.5) / 3.5)), 4)
           END AS revisit_days
         FROM h""",

    // q_crawl_traps oracle: the same exploded capture frame built in
    // SQL — the trap arm's 4 URLs per doc share one digest per host,
    // the content arms mint one digest per capture
    "q_crawl_traps" ->
      """WITH h AS (SELECT doc_id, doc_id % 3 AS m,
           lower(regexp_replace(source, '[^A-Za-z0-9]', 'x', 'g'))
             AS src
           FROM documents),
         caps AS (SELECT doc_id, m, src, src || '.example.com' AS host,
             u.k
           FROM h CROSS JOIN UNNEST(range(0, 4)) AS u(k)),
         urls AS (SELECT host,
             CASE WHEN m = 0 THEN 'cal' ELSE 'page' END AS seg,
             CASE WHEN m = 0 THEN 'https://' || host || '/cal/'
                 || CAST(doc_id * 4 + k AS VARCHAR)
               ELSE 'https://' || host || '/page/'
                 || CAST(doc_id AS VARCHAR) || '-'
                 || CAST(k AS VARCHAR) END AS url,
             CASE WHEN m = 0 THEN 'sha1:HOME-' || src
               ELSE 'sha1:' || CAST(doc_id AS VARCHAR) || '-'
                 || CAST(k AS VARCHAR) END AS digest
           FROM caps)
         SELECT host, seg,
           count(DISTINCT url) AS n_urls,
           count(DISTINCT digest) AS n_digests,
           round(count(DISTINCT url)::DOUBLE
             / count(DISTINCT digest), 4) AS dup_ratio,
           count(DISTINCT url) >= 12 AND
             round(count(DISTINCT url)::DOUBLE
               / count(DISTINCT digest), 4) >= 8.0 AS is_trap
         FROM urls GROUP BY host, seg""",

    // q_mojibake oracle: damage counts are statable BY CONSTRUCTION
    // — the lying-charset arm's suffix holds exactly 6 non-ASCII
    // chars whose UTF-8 lead bytes read as Ã/Å/Ä under latin1, the
    // truncation arm yields exactly one U+FFFD, the rest of the
    // page is ASCII-sanitized on both sides
    "q_mojibake" ->
      """SELECT doc_id,
           CAST(CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END
             AS BIGINT) AS fffd_n,
           CAST(CASE WHEN doc_id % 3 = 1 THEN 6 ELSE 0 END
             AS BIGINT) AS moj_n,
           CASE WHEN doc_id % 3 IN (1, 2) THEN 'damaged'
             ELSE 'clean' END AS verdict
         FROM documents""",

    // q_cache_headers oracle: every lifted header and the derived
    // policy are statable BY CONSTRUCTION per arm
    "q_cache_headers" ->
      """WITH h AS (SELECT doc_id, doc_id % 4 AS m,
           CAST(doc_id AS VARCHAR) AS id,
           600 + (doc_id % 10) * 60 AS ma
           FROM documents)
         SELECT doc_id,
           CASE WHEN m = 0 THEN CAST(ma AS BIGINT) END AS max_age,
           CASE WHEN m IN (0, 1)
             THEN 'Tue, 02 Jan 2024 00:00:00 GMT' END
             AS last_modified,
           CASE WHEN m = 1 THEN '"v' || id || '"'
             WHEN m = 2 THEN 'W/"' || id || '"' END AS etag,
           CASE WHEN m = 0 THEN 'ttl'
             WHEN m IN (1, 2) THEN 'conditional'
             ELSE 'unconditional' END AS refetch_policy
         FROM h""",

    // q_digest_verify oracle: the verdicts are statable BY
    // CONSTRUCTION — the correct and chunked arms carry the digest
    // the Spark side recomputes, the tampered arm cannot match, the
    // absent arm has nothing to check
    "q_digest_verify" ->
      """SELECT doc_id,
           doc_id % 4 <> 2 AS has_digest,
           CASE WHEN doc_id % 4 IN (0, 3) THEN TRUE
             WHEN doc_id % 4 = 1 THEN FALSE END AS digest_ok
         FROM documents""",

    // q_fetch_plan oracle: the whole decision is statable BY
    // CONSTRUCTION — X changes detected, the estimator's due horizon
    // in closed form (never-due arm pinned at last+30), freshness
    // only on the max-age arm, validators on the ETag/Last-Modified
    // arms; precedence skip_fresh > due(conditional|full) > wait
    "q_fetch_plan" ->
      """WITH h AS (SELECT doc_id, doc_id % 3 AS x, doc_id % 4 AS c,
           'https://' || lower(regexp_replace(source,
             '[^A-Za-z0-9]', 'x', 'g')) || '.example.com/doc/'
             || CAST(doc_id AS VARCHAR) AS url
           FROM documents)
         SELECT doc_id, url, CAST(x AS BIGINT) AS n_changes,
           CASE WHEN x = 0 THEN 132.0
             ELSE round(102 + least(30.0,
               1.0 / (-ln((2 - x + 0.5) / 2.5))), 4) END AS due_day,
           CASE WHEN c = 0 THEN 'skip_fresh'
             WHEN x = 0 THEN 'wait'
             WHEN c IN (1, 2) THEN 'refetch_conditional'
             ELSE 'refetch_full' END AS action
         FROM h""",

    // q_outlink_base oracle: all three base arms state their
    // expected resolution BY CONSTRUCTION (absolute base ->
    // cross-host edge, relative base -> §5.1.3 two-step, commented
    // decoy -> page URL stays the base)
    "q_outlink_base" ->
      """WITH h AS (SELECT doc_id,
           lower(regexp_replace(source, '[^A-Za-z0-9]', 'x', 'g'))
             || '.example.com' AS host,
           CAST(doc_id AS VARCHAR) AS id
           FROM documents)
         SELECT doc_id,
           CASE doc_id % 3
             WHEN 0 THEN 'https://cdn' || CAST(doc_id % 5 AS VARCHAR)
               || '.example.org/assets/'
             WHEN 1 THEN '/b2/'
           END AS base_href,
           CASE doc_id % 3
             WHEN 0 THEN 'https://cdn' || CAST(doc_id % 5 AS VARCHAR)
               || '.example.org/assets/img/' || id
             WHEN 1 THEN 'https://' || host || '/b2/img/' || id
             ELSE 'https://' || host || '/dir/img/' || id
           END AS resolved
         FROM h""",

    // q_decode_bom oracle: the decoded page is the SAME string in
    // all three arms (they differ only in wire encoding + BOM), so
    // the expected text is one unconditional html_to_text chain
    "q_decode_bom" ->
      """WITH h AS (SELECT doc_id,
           regexp_replace(regexp_replace(coalesce(text, ''),
             '[^\x{20}-\x{7E}]', ' ', 'g'), '[<>&]', ' ', 'g') AS clean
           FROM documents),
         x AS (SELECT doc_id,
             '<html><body><p>' || clean || ' Żółć ☃</p></body></html>'
               AS html
           FROM h),
         s3 AS (SELECT doc_id, regexp_replace(html,
             '(?i)</?(h[1-6]|p)\b[^>]*>', chr(10), 'g') AS t FROM x),
         s4 AS (SELECT doc_id,
             regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s3),
         s6 AS (SELECT doc_id,
             regexp_replace(t, '[ \t]+', ' ', 'g') AS t FROM s4),
         s7 AS (SELECT doc_id,
             regexp_replace(t, ' ?\n ?', chr(10), 'g') AS t FROM s6),
         s8 AS (SELECT doc_id,
             regexp_replace(t, '\n+', chr(10), 'g') AS t FROM s7)
         SELECT doc_id,
           trim(t, ' ' || chr(10) || chr(9)) AS text
         FROM s8""",

    // q_warc_revisit oracle: keeper per digest group = min doc_id
    // over the group (every doc emits a response with digest
    // GRAFTR{doc_id % 50}); a revisit resolves iff doc_id % 3 == 0,
    // orphans report null keepers
    "q_warc_revisit" ->
      """WITH k AS (SELECT doc_id % 50 AS g,
             CAST(min(doc_id) AS BIGINT) AS keeper
           FROM documents GROUP BY 1)
         SELECT d.doc_id,
           'https://mirror.example.com/doc/'
             || CAST(d.doc_id AS VARCHAR) AS revisit_uri,
           CASE WHEN d.doc_id % 3 = 0 THEN k.keeper END
             AS keeper_doc_id,
           CASE WHEN d.doc_id % 3 = 0
             THEN 'https://example.com/doc/' || CAST(k.keeper AS VARCHAR)
           END AS keeper_uri,
           d.doc_id % 3 = 0 AS resolved
         FROM documents d JOIN k ON d.doc_id % 50 = k.g""",

    // q_surt_key oracle: every arm's key is statable by construction
    // (reversal, kept port, www kept, empty path, reject, pct-norm
    // riding the canon composition)
    "q_surt_key" ->
      """WITH h AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS id
           FROM documents)
         SELECT doc_id,
           CASE doc_id % 5
             WHEN 0 THEN 'https://www.Site.COM/Path/' || id
             WHEN 1 THEN 'http://a.b.example.org:8080/p?x=' || id || '&y=2'
             WHEN 2 THEN 'https://example.com'
             WHEN 3 THEN 'not a url ' || id
             ELSE 'http://h.com/%7Ea/' || id
           END AS url,
           CASE doc_id % 5
             WHEN 0 THEN 'com,site,www)/Path/' || id
             WHEN 1 THEN 'org,example,b,a:8080)/p?x=' || id || '&y=2'
             WHEN 2 THEN 'com,example)/'
             WHEN 3 THEN NULL
             ELSE 'com,h)/~a/' || id
           END AS surt_key
         FROM h""",

    // q_warc_cdx oracle: the capture's index row by construction —
    // canon drops the utm param, keeps the non-default port; surt
    // reverses the host labels
    "q_warc_cdx" ->
      """WITH h AS (SELECT doc_id,
           lower(regexp_replace(source, '[^A-Za-z0-9]', 'x', 'g')) AS src,
           CAST(doc_id AS VARCHAR) AS id
           FROM documents)
         SELECT doc_id,
           CASE doc_id % 2
             WHEN 0 THEN 'com,example,' || src || ':8443)/Doc/' || id
             ELSE 'com,example,' || src || ')/doc/' || id || '?b=2&a=1'
           END AS surt_key,
           '20240102000000' AS ts14,
           'text/html' AS mime,
           200 AS http_status,
           'sha1:CDX' || id AS payload_digest
         FROM h""",

    // q_archive_e2e oracle: every routed field is statable BY
    // CONSTRUCTION — kind from doc_id%3, the SURT key from the
    // capture host, the redirect edge from §5 resolution of the
    // relative Location, the sniffed MIME from the %PDF magic, and
    // the page main_text from the one surviving boilerpipe block
    // (the link-only nav div is dropped; the windows-1250 bytes
    // decode back to the literal)
    "q_archive_e2e" ->
      """WITH h AS (SELECT doc_id,
           lower(regexp_replace(source, '[^A-Za-z0-9]', 'x', 'g')) AS src,
           CAST(doc_id AS VARCHAR) AS id, doc_id % 3 AS m
           FROM documents)
         SELECT doc_id,
           CASE m WHEN 0 THEN 'page' WHEN 1 THEN 'redirect'
             ELSE 'binary' END AS kind,
           'com,example,' || src || ')/doc/' || id AS surt_key,
           CASE WHEN m = 1 THEN 'https://' || src
             || '.example.com/moved/' || id END AS redirect_to,
           CASE WHEN m = 2 THEN 'application/pdf' END AS sniffed_mime,
           CASE WHEN m = 0 THEN 'Doc ' || id
             || ' carries this perfectly ordinary content paragraph '
             || 'Żółć' END AS main_text
         FROM h""",

    // q_warc_fetch_pairs oracle: every response matches its request
    // via Concurrent-To except the doc_id%4==3 arm, which omits the
    // header and must report unmatched with null request fields
    "q_warc_fetch_pairs" ->
      """WITH h AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS id
           FROM documents)
         SELECT doc_id,
           '<urn:uuid:resp-' || id || '>' AS record_id,
           CASE WHEN doc_id % 4 = 3 THEN NULL
             ELSE '<urn:uuid:req-' || id || '>' END AS concurrent_to,
           200 AS http_status,
           CASE WHEN doc_id % 4 = 3 THEN NULL
             ELSE 'https://example.com/doc/' || id END AS req_uri,
           doc_id % 4 <> 3 AS matched
         FROM h""",

    // q_warc_redirects oracle: the hop is statable by construction —
    // relative Location resolves against the capture URI, absolute
    // passes through canon, the 200 arm has no edge
    "q_warc_redirects" ->
      """WITH h AS (SELECT doc_id,
           lower(regexp_replace(source, '[^A-Za-z0-9]', 'x', 'g')) AS src,
           CAST(doc_id AS VARCHAR) AS id
           FROM documents)
         SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 301 WHEN 1 THEN 302
             ELSE 200 END AS http_status,
           CASE doc_id % 3
             WHEN 0 THEN '/new/' || id
             WHEN 1 THEN 'https://moved' || CAST(doc_id % 7 AS VARCHAR)
               || '.example.net/x/' || id
           END AS http_location,
           CASE doc_id % 3
             WHEN 0 THEN 'https://' || src || '.example.com/new/' || id
             WHEN 1 THEN 'https://moved' || CAST(doc_id % 7 AS VARCHAR)
               || '.example.net/x/' || id
           END AS redirect_to
         FROM h""",

    // q_anchor_text oracle: four surviving anchors per doc (inline
    // markup collapses to spaces, entities decode, the dangling
    // anchor implicitly closes at the next <a> and keeps its span
    // text, the no-href and EOF-dangling anchors drop)
    "q_anchor_text" ->
      """WITH h AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS id,
           regexp_replace(lang, '[^A-Za-z0-9]', 'x', 'g') AS lng
           FROM documents)
         SELECT doc_id, href, anchor_text FROM (
           SELECT doc_id, '/a/' || id AS href,
             'read more now' AS anchor_text FROM h
           UNION ALL
           SELECT doc_id, '/b/' || id, 'Tom & Jerry' FROM h
           UNION ALL
           SELECT doc_id, '/dangling', 'never closed filler' FROM h
           UNION ALL
           SELECT doc_id, '/c/' || lng, 'in ' || lng FROM h)""",

    // q_sniff_mime oracle: each arm's magic is known by construction;
    // the junk arm is null (unknown is never a guess)
    "q_sniff_mime" ->
      """SELECT doc_id,
           CASE doc_id % 6
             WHEN 0 THEN 'image/jpeg'
             WHEN 1 THEN 'image/png'
             WHEN 2 THEN 'application/gzip'
             WHEN 3 THEN 'application/pdf'
             WHEN 4 THEN 'text/html'
           END AS mime
         FROM documents""",

    "q_robots_sitemaps" ->
      """SELECT doc_id,
           'https://'
             || lower(regexp_replace(source, '[^A-Za-z0-9]', 'x', 'g'))
             || '.example.com/sitemap-' || CAST(doc_id AS VARCHAR)
             || '.xml' || chr(10)
             || 'https://example.com/news/sitemap.xml.gz'
             AS sitemap_urls
         FROM documents""",

    // q_warc_chunked oracle: the chunk framing reassembles exactly
    // inside the Spark plan, so the expected text is the
    // q_warc_extract html_to_text chain over the unsplit page
    "q_warc_chunked" ->
      """WITH h AS (SELECT doc_id,
           regexp_replace(regexp_replace(coalesce(text, ''),
             '[^\x{20}-\x{7E}]', ' ', 'g'), '[<>&]', ' ', 'g') AS clean
           FROM documents),
         x AS (SELECT doc_id,
             '<html><body><h1>Doc ' || CAST(doc_id AS VARCHAR)
               || '</h1><p>' || clean || '</p></body></html>' AS html
           FROM h),
         s3 AS (SELECT doc_id, regexp_replace(html,
             '(?i)</?(h[1-6]|p)\b[^>]*>', chr(10), 'g') AS t FROM x),
         s4 AS (SELECT doc_id,
             regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM s3),
         s6 AS (SELECT doc_id,
             regexp_replace(t, '[ \t]+', ' ', 'g') AS t FROM s4),
         s7 AS (SELECT doc_id,
             regexp_replace(t, ' ?\n ?', chr(10), 'g') AS t FROM s6),
         s8 AS (SELECT doc_id,
             regexp_replace(t, '\n+', chr(10), 'g') AS t FROM s7)
         SELECT doc_id, trim(t, ' ' || chr(10) || chr(9)) AS text
         FROM s8""",

    // q_main_text oracle: the fixture's nav/teaser/copyright/footer
    // blocks drop BY CONSTRUCTION (link-dense or under the length
    // floor in both engines); the two content paragraphs reproduce
    // exactly, with the body paragraph subject to the same 25-char
    // floor the kernel applies after whitespace collapse
    "q_main_text" ->
      """WITH h AS (SELECT doc_id,
           regexp_replace(regexp_replace(coalesce(text, ''),
             '[^\x{20}-\x{7E}]', ' ', 'g'), '[<>&]', ' ', 'g') AS clean,
           regexp_replace(regexp_replace(source,
             '[^\x{20}-\x{7E}]', ' ', 'g'), '[<>&]', ' ', 'g') AS src
           FROM documents),
         c AS (SELECT doc_id,
             trim(regexp_replace('Doc ' || CAST(doc_id AS VARCHAR)
               || ' body: ' || clean, ' +', ' ', 'g')) AS c1,
             trim(regexp_replace('Published by ' || src
               || ' newsroom desk team', ' +', ' ', 'g')) AS c2
           FROM h)
         SELECT doc_id,
           CASE WHEN length(c1) >= 25 THEN c1 || chr(10) || c2
                ELSE c2 END AS main_text
         FROM c""",

    "q_pagerank" -> pagerankSql,

    "q_hits" -> hitsSql,

    "q_skew_report" ->
      """WITH c AS (SELECT l_suppkey AS k, count(*) AS cnt FROM lineitem GROUP BY 1),
         t AS (SELECT sum(cnt) AS total, count(*) AS n_keys, max(cnt) AS mx FROM c),
         tk AS (SELECT sum(cnt) AS topk FROM
                 (SELECT cnt FROM c ORDER BY cnt DESC, k LIMIT 5))
         SELECT 'l_suppkey' AS key_col,
                CAST(t.total AS BIGINT) AS n_rows,
                CAST(t.n_keys AS BIGINT) AS n_keys,
                round(CAST(t.total AS DOUBLE) / t.n_keys, 2) AS avg_rows_per_key,
                round(CAST(t.mx AS DOUBLE) / t.total, 6) AS max_share,
                round(CAST(tk.topk AS DOUBLE) / t.total, 6) AS top5_share
         FROM t CROSS JOIN tk""",

    "q_pseudonymize" ->
      """WITH ev AS (SELECT sha256(concat('graft-release-1:', CAST(user_id AS VARCHAR))) AS token
                     FROM events),
         ord AS (SELECT sha256(concat('graft-release-1:', CAST(o_custkey AS VARCHAR))) AS token
                 FROM orders)
         SELECT e.token, e.n_events, o.n_orders
         FROM (SELECT token, count(*) AS n_events FROM ev GROUP BY token) e
         JOIN (SELECT token, count(*) AS n_orders FROM ord GROUP BY token) o
           USING (token)""",

    "q_quality_rules" ->
      """WITH m AS (SELECT
           round(CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS m0,
           round(CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS m1,
           round(CAST(sum(CASE WHEN o_totalprice >= 0 AND o_totalprice <= 10000000.0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS m2,
           round(CAST(sum(CASE WHEN o_totalprice >= 0 AND o_totalprice <= 100000.0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS m3,
           round(CAST(sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS m4,
           round(CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(*), 6) AS m5
           FROM orders),
         r AS (SELECT round(CAST(sum(CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS m6
               FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
                 ON o.o_custkey = c.c_custkey
               WHERE o.o_custkey IS NOT NULL)
         SELECT CAST(0 AS INTEGER) AS rule_idx, 'not_null' AS rule, 'o_custkey' AS col_name,
                m0 AS metric, CAST(0.0 AS DOUBLE) AS threshold, '<=' AS direction, m0 <= 0.0 AS pass FROM m
         UNION ALL
         SELECT CAST(1 AS INTEGER), 'not_null', 'o_orderdate', m1, CAST(0.0 AS DOUBLE), '<=', m1 <= 0.0 FROM m
         UNION ALL
         SELECT CAST(2 AS INTEGER), 'in_range', 'o_totalprice', m2, CAST(1.0 AS DOUBLE), '>=', m2 >= 1.0 FROM m
         UNION ALL
         SELECT CAST(3 AS INTEGER), 'in_range', 'o_totalprice', m3, CAST(0.9 AS DOUBLE), '>=', m3 >= 0.9 FROM m
         UNION ALL
         SELECT CAST(4 AS INTEGER), 'matches', 'o_orderpriority', m4, CAST(1.0 AS DOUBLE), '>=', m4 >= 1.0 FROM m
         UNION ALL
         SELECT CAST(5 AS INTEGER), 'unique', 'o_orderkey', m5, CAST(1.0 AS DOUBLE), '>=', m5 >= 1.0 FROM m
         UNION ALL
         SELECT CAST(6 AS INTEGER), 'ref_integrity', 'o_custkey', m6, CAST(1.0 AS DOUBLE), '>=', m6 >= 1.0 FROM r""",

    "q_stratified_weighted_take" ->
      """WITH scored AS (
           SELECT doc_id, source, n_chars,
                  ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':wtake'), 1, 13)) AS BIGINT)
                      + 1.0) / (4503599627370498.0))
                    / CAST(n_chars AS DOUBLE) AS ws
           FROM documents),
         sel AS (SELECT doc_id, source, n_chars FROM
                  (SELECT *, row_number() OVER (PARTITION BY source
                     ORDER BY ws DESC, doc_id) AS rn FROM scored)
                 WHERE rn <= 5)
         SELECT source, count(*) AS n_docs,
                CAST(sum(doc_id) AS BIGINT) AS id_sum,
                CAST(sum(n_chars) AS BIGINT) AS chars_sum
         FROM sel GROUP BY source""",

    "q_weighted_take" ->
      """WITH scored AS (
           SELECT doc_id, source, n_chars,
                  ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':wtake'), 1, 13)) AS BIGINT)
                      + 1.0) / (4503599627370498.0))
                    / CAST(n_chars AS DOUBLE) AS ws
           FROM documents),
         sel AS (SELECT doc_id, source, n_chars FROM scored
                 ORDER BY ws DESC, doc_id LIMIT 100)
         SELECT source, count(*) AS n_docs,
                CAST(sum(doc_id) AS BIGINT) AS id_sum,
                CAST(sum(n_chars) AS BIGINT) AS chars_sum
         FROM sel GROUP BY source""",

    // ---- OLAP multi-join suite (round 9) ----
    "q_market_share" ->
      """SELECT CAST(date_part('year', o_orderdate) AS INT) AS yr,
                round(sum(CASE WHEN sn.n_name = 'NATION_3'
                               THEN l_extendedprice * (1.0 - l_discount)
                               ELSE 0.0 END)
                      / sum(l_extendedprice * (1.0 - l_discount)), 6)
                  AS mkt_share
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         JOIN region ON cn.n_regionkey = r_regionkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         WHERE r_name = 'EUROPE'
         GROUP BY 1""",

    "q_product_profit" ->
      """SELECT n_name AS supp_nation,
                CAST(date_part('year', o_orderdate) AS INT) AS yr,
                round(sum(l_extendedprice * (1.0 - l_discount)), 2)
                  AS profit
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         WHERE p_name LIKE '%red%'
         GROUP BY 1, 2""",

    "q_promo_share" ->
      """SELECT round(sum(CASE WHEN p_type = 'PROMO'
                               THEN l_extendedprice * (1.0 - l_discount)
                               ELSE 0.0 END) * 100.0
                      / sum(l_extendedprice * (1.0 - l_discount)), 6)
                  AS promo_share
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1996-03-01'
           AND l_shipdate < TIMESTAMP '1996-04-01'""",

    "q_cust_distribution" ->
      """SELECT n_orders, count(*) AS n_custs
         FROM (SELECT c_custkey, count(o_orderkey) AS n_orders
               FROM customer
               LEFT JOIN orders ON c_custkey = o_custkey
               GROUP BY c_custkey)
         GROUP BY n_orders""",

    "q_avg_yearly" ->
      """WITH caps AS (
           SELECT l_partkey AS ck, avg(l_quantity) * 0.2 AS cap
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_brand = 'Brand#13'
           GROUP BY 1)
         SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN caps ON l_partkey = ck
         WHERE p_brand = 'Brand#13' AND l_quantity < cap""",

    "q_large_orders" ->
      """WITH big AS (
           SELECT l_orderkey, sum(l_quantity) AS total_qty
           FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 200.0)
         SELECT c_name, o_orderkey,
                strftime(o_orderdate, '%Y-%m-%d') AS order_date,
                o_totalprice, total_qty
         FROM orders
         JOIN big ON o_orderkey = l_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""",

    "q_idle_customers" ->
      """SELECT c_mktsegment, count(*) AS n_custs,
                round(sum(c_acctbal), 2) AS total_bal
         FROM customer
         WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                            WHERE c_acctbal > 0)
           AND NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderdate >= TIMESTAMP '1995-01-01'
                             AND o_orderdate < TIMESTAMP '1996-01-01')
         GROUP BY c_mktsegment""",

    // ---- association / trend / distribution profiling (round 9) ----
    "q_chi2_assoc" ->
      """WITH counts AS (SELECT lang AS a, source AS b, count(*) AS n
                         FROM documents GROUP BY 1, 2),
              la AS (SELECT a, sum(n) AS na FROM counts GROUP BY 1),
              lb AS (SELECT b, sum(n) AS nb FROM counts GROUP BY 1),
              grid AS (SELECT la.a AS a, lb.b AS b, la.na AS na,
                              lb.nb AS nb, coalesce(c.n, 0) AS n
                       FROM la CROSS JOIN lb
                       LEFT JOIN counts c ON c.a = la.a AND c.b = lb.b),
              tot AS (SELECT sum(n) AS t FROM grid)
         SELECT CAST(max(t) AS BIGINT) AS n,
                CAST((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1)
                  AS BIGINT) AS dof,
                round(sum(pow(n - CAST(na AS DOUBLE) * nb / t, 2)
                      / (CAST(na AS DOUBLE) * nb / t)), 6) AS chi2,
                round(sum(CASE WHEN n > 0
                               THEN (n / t) * ln(n * t /
                                 (CAST(na AS DOUBLE) * nb))
                               ELSE 0.0 END), 6) AS mutual_info
         FROM grid CROSS JOIN tot""",

    "q_value_trend" ->
      """SELECT event_type,
                round(covar_pop(x, value) /
                  (CASE WHEN var_pop(x) <> 0 THEN var_pop(x) END), 6)
                  AS slope,
                round(avg(value) - (covar_pop(x, value) /
                  (CASE WHEN var_pop(x) <> 0 THEN var_pop(x) END))
                  * avg(x), 6) AS intercept,
                round(pow(covar_pop(x, value), 2) /
                  (CASE WHEN var_pop(x) <> 0 AND var_pop(value) <> 0
                        THEN var_pop(x) * var_pop(value) END), 6) AS r2,
                count(*) AS n
         FROM (SELECT event_type, value,
                      (epoch(ts) - 1704067200.0) / 3600.0 AS x
               FROM events)
         GROUP BY event_type""",

    "q_value_histogram" ->
      """WITH mm AS (SELECT min(value) AS mn, max(value) AS mx
                     FROM events),
              b AS (SELECT CASE WHEN (mx - mn) / 20.0 = 0 THEN 0
                           ELSE least(CAST(floor((value - mn) /
                             ((mx - mn) / 20.0)) AS BIGINT), 19) END
                             AS bin, mn, mx
                    FROM events CROSS JOIN mm)
         SELECT bin,
                round(min(mn + bin * ((mx - mn) / 20.0)), 6) AS lo,
                round(min(mn + (bin + 1) * ((mx - mn) / 20.0)), 6) AS hi,
                count(*) AS n
         FROM b GROUP BY bin""",

    "q_benford" ->
      """WITH counts AS (
           SELECT CAST(floor(o_totalprice /
                    pow(10.0, floor(log10(o_totalprice)))) AS INT)
                    AS digit,
                  count(*) AS n
           FROM orders WHERE o_totalprice > 0.0
           GROUP BY 1),
         tot AS (SELECT sum(n) AS t FROM counts)
         SELECT digit, n,
                round(n / CAST(t AS DOUBLE), 6) AS observed,
                round(log10(1.0 + 1.0 / digit), 6) AS expected,
                round(abs(n / CAST(t AS DOUBLE)
                  - log10(1.0 + 1.0 / digit)), 6) AS abs_dev
         FROM counts CROSS JOIN tot""",

    "q_top_share" ->
      """WITH pc AS (SELECT o_custkey, sum(o_totalprice) AS rev
                     FROM orders GROUP BY 1),
         thr AS (SELECT quantile_cont(rev, 0.9) AS q FROM pc)
         SELECT round(max(q), 6) AS threshold,
                round(sum(CASE WHEN rev >= q THEN rev ELSE 0.0 END)
                  / sum(rev), 6) AS top_share,
                CAST(sum(CASE WHEN rev >= q THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_top,
                count(*) AS n
         FROM pc CROSS JOIN thr""",

    "q_topk_per_group" ->
      """WITH pr AS (
           SELECT l_suppkey, l_partkey,
                  round(sum(l_extendedprice), 2) AS revenue
           FROM lineitem GROUP BY 1, 2),
         r AS (
           SELECT l_suppkey, l_partkey, revenue,
                  row_number() OVER (PARTITION BY l_suppkey
                    ORDER BY revenue DESC, l_partkey) AS rk
           FROM pr QUALIFY rk <= 3)
         SELECT l_suppkey, CAST(rk AS INT) AS rank, l_partkey, revenue
         FROM r""",

    "q_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                year(l_shipdate) AS l_year,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
         WHERE l_shipdate >= TIMESTAMP '1995-01-01'
           AND l_shipdate <  TIMESTAMP '1997-01-01'
           AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
             OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
         GROUP BY 1, 2, 3""",

    "q_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
                round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation   ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1995-10-01'
           AND o_orderdate <  TIMESTAMP '1996-01-01'
         GROUP BY 1, 2, 3, 4
         ORDER BY revenue DESC, c_custkey
         LIMIT 20""",

    "q_top_supplier" ->
      """WITH rev AS (
           SELECT l_suppkey,
                  round(sum(l_extendedprice * (1 - l_discount)), 2)
                    AS total_revenue
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate <  TIMESTAMP '1996-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, total_revenue
         FROM supplier JOIN rev ON s_suppkey = l_suppkey
         WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
         ORDER BY s_suppkey""",

    "q_disjunctive_revenue" ->
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 20 AND 30)""",

    "q_priority_split" ->
      """SELECT l_returnflag,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate <  TIMESTAMP '1997-01-01'
         GROUP BY 1""",

    "q_auc" ->
      """WITH s AS (
           SELECT value AS v,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
           FROM events),
         g AS (SELECT v, count(*) AS cnt, sum(y) AS pos FROM s GROUP BY 1),
         r AS (
           SELECT v, cnt, pos,
                  coalesce(sum(cnt) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS cumb
           FROM g),
         t AS (
           SELECT sum(pos * (2 * cumb + cnt + 1)) AS r2,
                  sum(pos) AS np, sum(cnt) AS n
           FROM r)
         SELECT round((r2 - np * (np + 1)) / (2.0 * np * (n - np)), 6)
                  AS auc,
                CAST(np AS BIGINT) AS n_pos,
                CAST(n - np AS BIGINT) AS n_neg
         FROM t""",

    "q_calibration" ->
      """WITH s AS (
           SELECT value AS v,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
           FROM events),
         c AS (
           SELECT quantile_cont(v,
             [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cuts
           FROM s),
         b AS (
           SELECT v, y,
                  len(list_filter(c.cuts, x -> x < v)) AS bin
           FROM s CROSS JOIN c)
         SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n,
                round(avg(v), 6) AS mean_score,
                round(avg(y), 6) AS pos_rate
         FROM b GROUP BY 1""",

    "q_pr_curve" ->
      """WITH s AS (
           SELECT value AS v,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
           FROM events),
         q AS (
           SELECT unnest([0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS prob,
                  unnest(quantile_cont(v,
                    [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])) AS thr
           FROM s),
         tot AS (SELECT sum(y) AS np, count(*) AS n FROM s),
         c AS (
           SELECT prob, thr,
                  sum(CASE WHEN v >= thr THEN y ELSE 0 END) AS tp,
                  sum(CASE WHEN v >= thr THEN 1 - y ELSE 0 END) AS fp
           FROM q CROSS JOIN s GROUP BY 1, 2)
         SELECT CAST(prob AS DOUBLE) AS prob, round(thr, 4) AS threshold,
                CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
                CAST(np - tp AS BIGINT) AS fn,
                CAST(n - np - fp AS BIGINT) AS tn,
                round(tp / NULLIF(tp + fp, 0), 6) AS prec,
                round(tp / NULLIF(np, 0), 6) AS recall,
                round(2.0 * tp / NULLIF(2 * tp + fp + (np - tp), 0), 6)
                  AS f1
         FROM c CROSS JOIN tot""",

    "q_seasonal_decompose" ->
      """WITH daily AS (
           SELECT CAST(ts AS DATE) AS day, round(sum(value), 6) AS y
           FROM events GROUP BY 1),
         d0 AS (SELECT min(day) AS a FROM daily),
         detr AS (
           SELECT day, y,
                  avg(y) OVER (ORDER BY day
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
                  y - avg(y) OVER (ORDER BY day
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS dd,
                  CAST(day - (SELECT a FROM d0) AS INT) % 7 AS phase
           FROM daily),
         pm AS (SELECT phase, avg(dd) AS praw FROM detr GROUP BY 1),
         ctr AS (SELECT avg(praw) AS c FROM pm)
         SELECT strftime(day, '%Y-%m-%d') AS day, y,
                round(trend, 6) AS trend,
                round(praw - c, 6) AS seasonal,
                round(dd - (praw - c), 6) AS remainder
         FROM detr JOIN pm USING (phase) CROSS JOIN ctr""",

    "q_nelson_aalen" ->
      """WITH u AS (
           SELECT user_id, min(ts) AS f,
                  min(CASE WHEN event_type = 'purchase' THEN ts END)
                    AS fp
           FROM events GROUP BY 1),
         lab AS (
           SELECT CASE WHEN fp IS NOT NULL AND
                    CAST(CAST(fp AS DATE) - CAST(f AS DATE) AS INT) <= 3
                  THEN CAST(CAST(fp AS DATE) - CAST(f AS DATE) AS INT)
                  ELSE 3 END AS t,
                  CASE WHEN fp IS NOT NULL AND
                    CAST(CAST(fp AS DATE) - CAST(f AS DATE) AS INT) <= 3
                  THEN 1 ELSE 0 END AS churn
           FROM u),
         g AS (
           SELECT t, CAST(sum(churn) AS BIGINT) AS n_events,
                  CAST(sum(1 - churn) AS BIGINT) AS n_censored
           FROM lab GROUP BY 1),
         r AS (
           SELECT t, n_events, n_censored,
                  CAST((SELECT count(*) FROM lab) -
                    coalesce(sum(n_events + n_censored) OVER (ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS n_risk
           FROM g)
         SELECT t AS lifetime_days, n_risk, n_events, n_censored,
                round(sum(CAST(n_events AS DOUBLE) / n_risk) OVER w, 6)
                  AS cum_hazard,
                round(exp(-sum(CAST(n_events AS DOUBLE) / n_risk)
                  OVER w), 6) AS na_survival
         FROM r WINDOW w AS (ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",

    // fixed-round protocol (see q_sssp): both engines run the SAME 3
    // absorbing-chain sweeps; the sweeps unroll as materialized CTEs
    "q_markov_attrib" ->
      """WITH tr0 AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN event_type = 'purchase' THEN '__CONV'
                       ELSE event_type END AS state,
                  min(CASE WHEN event_type = 'purchase' THEN ts END)
                    OVER (PARTITION BY user_id) AS cts
           FROM events),
         steps AS (
           SELECT user_id, state,
                  lead(state) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS nxt,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS rn
           FROM tr0 WHERE cts IS NULL OR ts <= cts),
         trans AS MATERIALIZED (
           SELECT src, dst, count(*) AS n FROM (
             SELECT state AS src,
                    coalesce(nxt, CASE WHEN state = '__CONV'
                      THEN '__CONV' ELSE '__NULL' END) AS dst
             FROM steps
             UNION ALL
             SELECT '__START', state FROM steps WHERE rn = 1)
           WHERE src <> '__CONV'
           GROUP BY 1, 2),
         pm AS MATERIALIZED (
           SELECT src, dst,
                  CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY src)
                    AS pr
           FROM trans),
         ch AS MATERIALIZED (
           SELECT DISTINCT src AS c FROM trans WHERE src <> '__START'),
         scen AS MATERIALIZED (
           SELECT c AS removed FROM ch
           UNION ALL SELECT CAST(NULL AS VARCHAR)),
         st AS MATERIALIZED (
           SELECT '__START' AS s UNION ALL SELECT c FROM ch),
         v0 AS MATERIALIZED (
           SELECT removed, s, CAST(0.0 AS DOUBLE) AS v
           FROM scen CROSS JOIN st),
         v1 AS MATERIALIZED (
           SELECT x.removed, t.s,
                  coalesce(sum(CASE
                    WHEN x.removed IS NOT NULL AND t.s = x.removed
                      THEN 0.0
                    WHEN e.dst = '__CONV' THEN e.pr
                    WHEN e.dst = '__NULL' THEN 0.0
                    WHEN x.removed IS NOT NULL AND e.dst = x.removed
                      THEN 0.0
                    ELSE e.pr * v.v END), 0.0) AS v
           FROM scen x CROSS JOIN st t
           LEFT JOIN pm e ON e.src = t.s
           LEFT JOIN v0 v ON v.removed IS NOT DISTINCT FROM x.removed
             AND v.s = e.dst
           GROUP BY 1, 2),
         v2 AS MATERIALIZED (
           SELECT x.removed, t.s,
                  coalesce(sum(CASE
                    WHEN x.removed IS NOT NULL AND t.s = x.removed
                      THEN 0.0
                    WHEN e.dst = '__CONV' THEN e.pr
                    WHEN e.dst = '__NULL' THEN 0.0
                    WHEN x.removed IS NOT NULL AND e.dst = x.removed
                      THEN 0.0
                    ELSE e.pr * v.v END), 0.0) AS v
           FROM scen x CROSS JOIN st t
           LEFT JOIN pm e ON e.src = t.s
           LEFT JOIN v1 v ON v.removed IS NOT DISTINCT FROM x.removed
             AND v.s = e.dst
           GROUP BY 1, 2),
         v3 AS MATERIALIZED (
           SELECT x.removed, t.s,
                  coalesce(sum(CASE
                    WHEN x.removed IS NOT NULL AND t.s = x.removed
                      THEN 0.0
                    WHEN e.dst = '__CONV' THEN e.pr
                    WHEN e.dst = '__NULL' THEN 0.0
                    WHEN x.removed IS NOT NULL AND e.dst = x.removed
                      THEN 0.0
                    ELSE e.pr * v.v END), 0.0) AS v
           FROM scen x CROSS JOIN st t
           LEFT JOIN pm e ON e.src = t.s
           LEFT JOIN v2 v ON v.removed IS NOT DISTINCT FROM x.removed
             AND v.s = e.dst
           GROUP BY 1, 2),
         pf AS (SELECT v AS vfull FROM v3
                WHERE removed IS NULL AND s = '__START'),
         eff AS (
           SELECT removed AS channel,
                  CASE WHEN (SELECT vfull FROM pf) > 0
                    THEN greatest(0.0,
                      ((SELECT vfull FROM pf) - v) /
                        (SELECT vfull FROM pf))
                    ELSE 0.0 END AS e
           FROM v3 WHERE removed IS NOT NULL AND s = '__START'),
         tot AS (SELECT sum(e) AS te FROM eff)
         SELECT channel,
                round((SELECT vfull FROM pf), 6) AS conv_prob_full,
                round(e, 6) AS removal_effect,
                round(CASE WHEN te > 0 THEN e / te ELSE 0.0 END, 6)
                  AS share
         FROM eff CROSS JOIN tot""",

    "q_theil_sen" ->
      """WITH daily AS (
           SELECT CAST(o_orderdate AS DATE) AS d,
                  round(sum(o_totalprice), 6) AS v
           FROM orders GROUP BY 1),
         dd AS (
           SELECT CAST(date_diff('day', DATE '1970-01-01', d) AS DOUBLE)
                    AS x, v
           FROM daily),
         p AS (
           SELECT (b.v - a.v) / (b.x - a.x) AS s
           FROM dd a JOIN dd b ON b.x > a.x),
         m AS (SELECT median(s) AS m, count(*) AS n_pairs FROM p)
         SELECT round(m.m, 6) AS slope_per_day,
                round((SELECT median(v - m.m * x) FROM dd), 6)
                  AS intercept,
                (SELECT count(*) FROM dd) AS n_days,
                m.n_pairs AS n_pairs
         FROM m""",

    "q_mann_kendall" ->
      """WITH daily AS (
           SELECT CAST(o_orderdate AS DATE) AS d,
                  round(sum(o_totalprice), 6) AS v
           FROM orders GROUP BY 1),
         dd AS (
           SELECT date_diff('day', DATE '1970-01-01', d) AS x, v
           FROM daily),
         s AS (
           SELECT CAST(sum(CASE WHEN b.v > a.v THEN 1
                                WHEN b.v < a.v THEN -1
                                ELSE 0 END) AS BIGINT) AS s_stat
           FROM dd a JOIN dd b ON b.x > a.x),
         tg AS (SELECT v, count(*) AS t FROM daily GROUP BY 1),
         tc AS (
           SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
             AS BIGINT) AS tc
           FROM tg),
         n AS (SELECT count(*) AS n FROM daily),
         vs AS (
           SELECT CAST(n.n * (n.n - 1) * (2 * n.n + 5) - tc.tc
                    AS DOUBLE) / 18.0 AS vs,
                  n.n AS n
           FROM n CROSS JOIN tc),
         z AS (
           SELECT s.s_stat, vs.n, vs.vs,
                  CASE WHEN vs.vs <= 0 THEN 0.0
                       WHEN s.s_stat > 0
                         THEN CAST(s.s_stat - 1 AS DOUBLE) / sqrt(vs.vs)
                       WHEN s.s_stat < 0
                         THEN CAST(s.s_stat + 1 AS DOUBLE) / sqrt(vs.vs)
                       ELSE 0.0 END AS z
           FROM s CROSS JOIN vs)
         SELECT s_stat, n AS n_days, round(vs, 6) AS var_s,
                round(z, 6) AS z,
                CASE WHEN vs > 0 AND z > 1.96 THEN 'increasing'
                     WHEN vs > 0 AND z < -1.96 THEN 'decreasing'
                     ELSE 'none' END AS trend
         FROM z""",

    "q_price_elasticity" ->
      """WITH j AS (
           SELECT p_brand,
                  ln(l_extendedprice / l_quantity) AS x,
                  ln(l_quantity) AS y
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE l_extendedprice / l_quantity > 0 AND l_quantity > 0)
         SELECT p_brand, count(*) AS n,
                round(covar_pop(y, x) /
                  (CASE WHEN var_pop(x) <> 0 THEN var_pop(x) END), 6)
                  AS slope,
                round(avg(y) - (covar_pop(y, x) /
                  (CASE WHEN var_pop(x) <> 0 THEN var_pop(x) END))
                  * avg(x), 6) AS intercept,
                round((covar_pop(y, x) * covar_pop(y, x)) /
                  (CASE WHEN var_pop(x) * var_pop(y) <> 0
                     THEN var_pop(x) * var_pop(y) END), 6) AS r2
         FROM j GROUP BY 1""",

    "q_demand_classes" ->
      """WITH w AS (
           SELECT l_partkey AS k, date_trunc('week', l_shipdate) AS wk,
                  sum(l_quantity) AS q
           FROM lineitem GROUP BY 1, 2),
         pk AS (
           SELECT k, count(*) AS nw, avg(q) AS mu,
                  stddev_samp(q) AS sd, sum(q) AS tot
           FROM w GROUP BY 1),
         cl AS (
           SELECT CASE WHEN sd / mu <= 0.5 THEN 'X'
                       WHEN sd / mu <= 1.0 THEN 'Y'
                       ELSE 'Z' END AS xyz_class,
                  sd / mu AS cv, tot
           FROM pk WHERE nw >= 2 AND mu <> 0)
         SELECT xyz_class, count(*) AS n_keys,
                round(avg(cv), 6) AS avg_cv,
                round(sum(tot), 2) AS total_qty
         FROM cl GROUP BY 1""",

    "q_rfm_segments" ->
      """WITH mx AS (SELECT CAST(max(o_orderdate) AS DATE) AS md
                     FROM orders),
         pc AS (
           SELECT o_custkey AS c,
                  date_diff('day', CAST(max(o_orderdate) AS DATE),
                    (SELECT md FROM mx)) AS recency,
                  count(*) AS frequency,
                  round(sum(o_totalprice), 2) AS monetary
           FROM orders GROUP BY 1),
         sc AS (
           SELECT recency, frequency, monetary,
                  ntile(5) OVER (ORDER BY recency DESC, c) AS r,
                  ntile(5) OVER (ORDER BY frequency, c) AS f,
                  ntile(5) OVER (ORDER BY monetary, c) AS m
           FROM pc),
         seg AS (
           SELECT CASE
               WHEN r >= 4 AND f >= 4 AND m >= 4 THEN 'champion'
               WHEN f >= 4 THEN 'loyal'
               WHEN m >= 4 THEN 'big_spender'
               WHEN r <= 2 AND f <= 2 THEN 'hibernating'
               WHEN r <= 2 THEN 'at_risk'
               ELSE 'regular' END AS segment,
             recency, frequency, monetary
           FROM sc)
         SELECT segment, count(*) AS n_customers,
                round(avg(recency), 6) AS avg_recency_days,
                round(avg(frequency), 6) AS avg_orders,
                round(sum(monetary), 2) AS total_spend
         FROM seg GROUP BY 1""",

    "q_interarrival" ->
      """WITH g AS (
           SELECT o_custkey,
                  CAST(date_diff('day',
                    lag(CAST(o_orderdate AS DATE)) OVER (
                      PARTITION BY o_custkey
                      ORDER BY CAST(o_orderdate AS DATE)),
                    CAST(o_orderdate AS DATE)) AS DOUBLE) AS gap
           FROM orders),
         pk AS (
           SELECT o_custkey, count(*) AS n_events, avg(gap) AS mu,
                  stddev_samp(gap) AS sd
           FROM g GROUP BY 1)
         SELECT o_custkey, n_events,
                round(mu, 6) AS mean_gap_days,
                round(sd / (CASE WHEN mu <> 0 THEN mu END), 6) AS cv,
                round((sd - mu) /
                  (CASE WHEN sd + mu <> 0 THEN sd + mu END), 6)
                  AS burstiness
         FROM pk WHERE n_events >= 3""",

    "q_cohort_ltv" ->
      """WITH f AS (
           SELECT o_custkey AS c, min(CAST(o_orderdate AS DATE)) AS fd
           FROM orders GROUP BY 1),
         fc AS (
           SELECT c, year(fd) * 12 + month(fd) AS cm,
                  strftime(fd, '%Y-%m') AS cohort
           FROM f),
         sz AS (SELECT cohort, count(*) AS sz FROM fc GROUP BY 1),
         a AS (
           SELECT cohort,
                  (year(CAST(o_orderdate AS DATE)) * 12 +
                   month(CAST(o_orderdate AS DATE))) - cm AS age_months,
                  count(DISTINCT c) AS n_active,
                  sum(o_totalprice) AS rev
           FROM orders JOIN fc ON o_custkey = c
           GROUP BY 1, 2),
         cw AS (
           SELECT cohort, age_months, n_active, rev,
                  round(sum(rev) OVER (PARTITION BY cohort
                    ORDER BY age_months ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW), 2) AS cum
           FROM a)
         SELECT cohort, age_months, sz AS cohort_size, n_active,
                round(rev, 2) AS revenue, cum AS cum_revenue,
                round(cum / sz, 6) AS ltv_per_user
         FROM cw JOIN sz USING (cohort)""",

    "q_lead_lag" ->
      """WITH a AS (
           SELECT date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS x,
                  round(sum(o_totalprice), 6) AS va
           FROM orders GROUP BY 1),
         b AS (
           SELECT date_diff('day', DATE '1970-01-01',
                    CAST(l_shipdate AS DATE)) AS x,
                  round(sum(l_extendedprice), 6) AS vb
           FROM lineitem GROUP BY 1),
         l AS (
           SELECT a.va, b.vb, lag
           FROM a CROSS JOIN unnest(generate_series(-10, 10)) AS t(lag)
           JOIN b ON b.x = a.x + lag)
         SELECT lag, count(*) AS n_days,
                round(covar_pop(va, vb) /
                  (CASE WHEN sqrt(var_pop(va) * var_pop(vb)) <> 0
                     THEN sqrt(var_pop(va) * var_pop(vb)) END), 6) AS r
         FROM l GROUP BY 1""",

    "q_kcore" ->
      """WITH li AS (
           SELECT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE o_orderpriority = '1-URGENT'),
         e AS MATERIALIZED (
           SELECT DISTINCT x.pk AS a, y.pk AS b
           FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
         e0 AS MATERIALIZED (
           SELECT a AS src, b AS dst FROM e
           UNION SELECT b AS src, a AS dst FROM e),
         k1 AS MATERIALIZED (SELECT src FROM e0 GROUP BY src
           HAVING count(*) >= 12),
         e1 AS MATERIALIZED (SELECT e0.src, e0.dst FROM e0
           JOIN k1 x ON e0.src = x.src JOIN k1 y ON e0.dst = y.src),
         k2 AS MATERIALIZED (SELECT src FROM e1 GROUP BY src
           HAVING count(*) >= 12),
         e2 AS MATERIALIZED (SELECT e1.src, e1.dst FROM e1
           JOIN k2 x ON e1.src = x.src JOIN k2 y ON e1.dst = y.src),
         k3 AS MATERIALIZED (SELECT src FROM e2 GROUP BY src
           HAVING count(*) >= 12),
         e3 AS MATERIALIZED (SELECT e2.src, e2.dst FROM e2
           JOIN k3 x ON e2.src = x.src JOIN k3 y ON e2.dst = y.src),
         k4 AS MATERIALIZED (SELECT src FROM e3 GROUP BY src
           HAVING count(*) >= 12),
         e4 AS MATERIALIZED (SELECT e3.src, e3.dst FROM e3
           JOIN k4 x ON e3.src = x.src JOIN k4 y ON e3.dst = y.src),
         k5 AS MATERIALIZED (SELECT src FROM e4 GROUP BY src
           HAVING count(*) >= 12),
         e5 AS MATERIALIZED (SELECT e4.src, e4.dst FROM e4
           JOIN k5 x ON e4.src = x.src JOIN k5 y ON e4.dst = y.src),
         k6 AS MATERIALIZED (SELECT src FROM e5 GROUP BY src
           HAVING count(*) >= 12),
         e6 AS MATERIALIZED (SELECT e5.src, e5.dst FROM e5
           JOIN k6 x ON e5.src = x.src JOIN k6 y ON e5.dst = y.src),
         k7 AS MATERIALIZED (SELECT src FROM e6 GROUP BY src
           HAVING count(*) >= 12),
         e7 AS MATERIALIZED (SELECT e6.src, e6.dst FROM e6
           JOIN k7 x ON e6.src = x.src JOIN k7 y ON e6.dst = y.src),
         k8 AS MATERIALIZED (SELECT src FROM e7 GROUP BY src
           HAVING count(*) >= 12),
         e8 AS MATERIALIZED (SELECT e7.src, e7.dst FROM e7
           JOIN k8 x ON e7.src = x.src JOIN k8 y ON e7.dst = y.src)
         SELECT src AS id, count(*) AS core_degree
         FROM e8 GROUP BY 1""",

    "q_seasonal_outliers" ->
      """WITH daily AS (
           SELECT CAST(o_orderdate AS DATE) AS d,
                  round(sum(o_totalprice), 6) AS y
           FROM orders GROUP BY 1),
         d0 AS (SELECT min(d) AS a FROM daily),
         detr AS (
           SELECT d, y,
                  avg(y) OVER (ORDER BY d
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
                  y - avg(y) OVER (ORDER BY d
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS dd,
                  CAST(d - (SELECT a FROM d0) AS INT) % 7 AS phase
           FROM daily),
         pm AS (SELECT phase, avg(dd) AS praw FROM detr GROUP BY 1),
         ctr AS (SELECT avg(praw) AS c FROM pm),
         rem AS (
           SELECT strftime(d, '%Y-%m-%d') AS day, y,
                  round(trend, 6) AS trend,
                  round(dd - (praw - c), 6) AS remainder
           FROM detr JOIN pm USING (phase) CROSS JOIN ctr),
         m AS (SELECT median(remainder) AS med FROM rem),
         md AS (
           SELECT median(abs(remainder - med)) AS mad, min(med) AS med
           FROM rem CROSS JOIN m)
         SELECT day, y, trend, remainder,
                round(med, 6) AS med, round(mad, 6) AS mad
         FROM rem CROSS JOIN md
         WHERE abs(remainder - med) > (3 * 1.4826) * mad""",

    "q_ohlc_bars" ->
      """WITH b AS (
           SELECT event_type, CAST(ts AS DATE) AS day, value,
                  first_value(value) OVER (
                    PARTITION BY event_type, CAST(ts AS DATE)
                    ORDER BY ts, event_id) AS o,
                  first_value(value) OVER (
                    PARTITION BY event_type, CAST(ts AS DATE)
                    ORDER BY ts DESC, event_id DESC) AS c
           FROM events)
         SELECT event_type, day,
                round(min(o), 6) AS open,
                round(max(value), 6) AS high,
                round(min(value), 6) AS low,
                round(min(c), 6) AS close,
                count(*) AS n,
                round(sum(value), 6) AS total
         FROM b GROUP BY 1, 2""",

    "q_forecast_eval" ->
      """WITH daily AS (
           SELECT CAST(o_orderdate AS DATE) AS d,
                  round(sum(o_totalprice), 6) AS v
           FROM orders GROUP BY 1),
         dd AS (
           SELECT date_diff('day', DATE '1970-01-01', d) AS x, v
           FROM daily),
         mx AS (SELECT max(x) AS mx FROM dd),
         j AS (
           SELECT a.x, a.v, f.v AS fc, p.v AS pv,
                  a.x > (SELECT mx FROM mx) - 28 AS test
           FROM dd a
           LEFT JOIN dd f ON a.x = f.x + 7
           LEFT JOIN dd p ON a.x = p.x + 1),
         den AS (
           SELECT avg(abs(v - pv)) AS nmae
           FROM j WHERE NOT test AND pv IS NOT NULL),
         t AS (SELECT * FROM j WHERE test AND fc IS NOT NULL)
         SELECT count(*) AS n_test,
                round(avg(abs(v - fc)), 4) AS mae,
                round(sqrt(avg(pow(v - fc, 2))), 4) AS rmse,
                round(avg(2.0 * abs(v - fc) /
                  (CASE WHEN abs(v) + abs(fc) <> 0
                     THEN abs(v) + abs(fc) END)), 6) AS smape,
                round(avg(abs(v - fc)) /
                  (CASE WHEN den.nmae <> 0 THEN den.nmae END), 6)
                  AS mase
         FROM t CROSS JOIN den GROUP BY den.nmae""",

    "q_weighted_median" ->
      """WITH c AS (
           SELECT l_returnflag, l_extendedprice AS v, l_quantity AS w,
                  sum(l_quantity) OVER (PARTITION BY l_returnflag
                    ORDER BY l_extendedprice ROWS BETWEEN UNBOUNDED
                    PRECEDING AND CURRENT ROW) AS cum,
                  sum(l_quantity) OVER (PARTITION BY l_returnflag)
                    AS tot
           FROM lineitem)
         SELECT l_returnflag,
                min(CASE WHEN cum >= 0.25 * tot THEN v END) AS p25,
                min(CASE WHEN cum >= 0.5 * tot THEN v END) AS p50,
                min(CASE WHEN cum >= 0.75 * tot THEN v END) AS p75,
                sum(w) AS total_weight
         FROM c GROUP BY 1""",

    "q_entity_resolution" ->
      """WITH RECURSIVE base AS (
           SELECT doc_id AS id, substr(text, 1, 40) AS pfx,
                  substr(text, 1, 6) AS blk,
                  CAST(floor(length(text) / 16) AS BIGINT) AS lb,
                  n_chars
           FROM documents
           WHERE regexp_matches(substr(text, 1, 40), '^[ -~]*$')),
         pairs AS (
           SELECT a.id AS id_a, b.id AS id_b
           FROM base a JOIN base b ON a.blk = b.blk AND a.lb = b.lb
             AND a.id < b.id
           WHERE levenshtein(a.pfx, b.pfx) <= 5),
         edges AS (
           SELECT id_a, id_b FROM pairs
           UNION ALL SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT id AS src, id AS dst FROM base
           UNION
           SELECT r.src, e.id_b FROM reach r JOIN edges e
             ON e.id_a = r.dst),
         comp AS (
           SELECT src AS id, min(dst) AS entity_id FROM reach GROUP BY 1),
         m AS (
           SELECT c.entity_id, b.id, b.n_chars,
                  row_number() OVER (PARTITION BY c.entity_id
                    ORDER BY b.n_chars DESC, b.id) AS rk
           FROM comp c JOIN base b ON b.id = c.id)
         SELECT CAST(entity_id AS BIGINT) AS entity_id,
                count(*) AS n_members,
                CAST(min(CASE WHEN rk = 1 THEN id END) AS BIGINT)
                  AS golden_doc,
                CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM m GROUP BY 1
         HAVING count(*) >= 2""",

    "q_cuped" ->
      """WITH units AS (
           SELECT user_id,
                  coalesce(sum(CASE WHEN CAST(ts AS TIMESTAMP)
                    < TIMESTAMP '2024-01-16' THEN value END), 0.0) AS x,
                  coalesce(sum(CASE WHEN CAST(ts AS TIMESTAMP)
                    >= TIMESTAMP '2024-01-16' THEN value END), 0.0) AS y,
                  CAST(user_id % 2 AS INT) AS arm
           FROM events GROUP BY 1),
         mom AS (
           SELECT covar_pop(x, y) AS cxy, var_pop(x) AS vx,
                  avg(x) AS mx
           FROM units),
         adj AS (
           SELECT arm, y,
                  CASE WHEN vx > 0 THEN cxy / vx END AS theta,
                  CASE WHEN vx > 0 THEN y - (cxy / vx) * (x - mx)
                       ELSE y END AS yadj
           FROM units CROSS JOIN mom)
         SELECT count(*) AS n_units,
                round(any_value(theta), 6) AS theta,
                round(var_pop(y), 2) AS var_y,
                round(var_pop(yadj), 2) AS var_adj,
                round(1.0 - var_pop(yadj) / var_pop(y), 6)
                  AS var_reduction,
                round(avg(CASE WHEN arm = 1 THEN y END) -
                      avg(CASE WHEN arm = 0 THEN y END), 6) AS diff_raw,
                round(avg(CASE WHEN arm = 1 THEN yadj END) -
                      avg(CASE WHEN arm = 0 THEN yadj END), 6)
                  AS diff_cuped
         FROM adj""",

    "q_frequent_triples" ->
      """WITH bi AS (
           SELECT DISTINCT l_orderkey AS b, p_brand AS i
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         thr AS (
           SELECT CAST(ceil(count(DISTINCT b) * 0.0035) AS BIGINT) AS t
           FROM bi)
         SELECT a.i AS item_a, b.i AS item_b, c.i AS item_c,
                count(*) AS support
         FROM bi a
         JOIN bi b ON a.b = b.b AND a.i < b.i
         JOIN bi c ON a.b = c.b AND b.i < c.i
         CROSS JOIN thr
         GROUP BY 1, 2, 3, t
         HAVING count(*) >= t""",

    "q_day_allocation" ->
      """WITH ev AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
           FROM events),
         brk AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w))
                            > 21600
                       THEN 1 ELSE 0 END AS is_brk
           FROM ev
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess0 AS (
           SELECT user_id, ts,
                  sum(is_brk) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS session_seq
           FROM brk),
         sess AS (
           SELECT user_id, session_seq, min(ts) AS vf, max(ts) AS vt
           FROM sess0 GROUP BY 1, 2),
         ser AS (
           SELECT vf, vt,
                  unnest(generate_series(date_trunc('day', vf),
                    date_trunc('day', vt), INTERVAL 1 DAY)) AS day
           FROM sess)
         SELECT strftime(day, '%Y-%m-%d') AS day,
                CAST(sum(epoch_us(least(vt, day + INTERVAL 1 DAY)) -
                         epoch_us(greatest(vf, day))) AS BIGINT)
                  AS total_us,
                count(*) AS n_sessions
         FROM ser GROUP BY 1""",

    "q_distinctive_terms" ->
      """WITH toks AS (
           SELECT source, unnest(string_split(lower(text), ' ')) AS w
           FROM documents),
         ctf AS (
           SELECT source, w, count(*) AS tf
           FROM toks WHERE length(w) > 0 GROUP BY 1, 2),
         fw AS (SELECT w, sum(tf) AS fwc FROM ctf GROUP BY 1),
         a AS (
           SELECT sum(tf) / (1.0 * count(DISTINCT source)) AS avg_class
           FROM ctf)
         SELECT source, w AS term,
                round(tf * ln(1.0 + avg_class / fwc), 6) AS ctfidf,
                CAST(rank AS INT) AS rank
         FROM (
           SELECT source, w, tf, fwc, avg_class,
                  row_number() OVER (PARTITION BY source
                    ORDER BY round(tf * ln(1.0 + avg_class / fwc), 6)
                      DESC, w) AS rank
           FROM ctf JOIN fw USING (w) CROSS JOIN a)
         WHERE rank <= 3""",

    "q_gains" ->
      """WITH s AS (
           SELECT value AS v,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
           FROM events),
         c AS (
           SELECT quantile_cont(v,
             [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS cuts
           FROM s),
         b AS (
           SELECT CAST(len(list_filter(c.cuts, x -> x < v)) AS BIGINT)
                    AS bin, count(*) AS n, sum(y) AS pos
           FROM s CROSS JOIN c
           GROUP BY 1),
         t AS (SELECT sum(n) AS nn, sum(pos) AS pp FROM b)
         SELECT bin, n, CAST(pos AS BIGINT) AS pos,
                round(sum(n) OVER w / (1.0 * nn), 6) AS cum_share,
                round(sum(pos) OVER w / (1.0 * pp), 6) AS cum_capture,
                round((sum(pos) OVER w / (1.0 * pp)) /
                      (sum(n) OVER w / (1.0 * nn)), 6) AS lift
         FROM b CROSS JOIN t
         WINDOW w AS (ORDER BY bin DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",

    "q_holt" ->
      """WITH RECURSIVE base AS (
           SELECT user_id, event_id, value,
                  row_number() OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         r AS (
           SELECT user_id, event_id, value, rn,
                  value AS level, CAST(0.0 AS DOUBLE) AS trend
           FROM base WHERE rn = 1
           UNION ALL
           SELECT b.user_id, b.event_id, b.value, b.rn,
                  0.25 * b.value + 0.75 * (r.level + r.trend) AS level,
                  0.125 * ((0.25 * b.value + 0.75 * (r.level + r.trend))
                      - r.level)
                    + 0.875 * r.trend AS trend
           FROM r JOIN base b
             ON b.user_id = r.user_id AND b.rn = r.rn + 1)
         SELECT user_id, event_id, value, level, trend,
                level + trend AS forecast
         FROM r""",

    "q_holt_winters" ->
      """WITH RECURSIVE daily AS (
           SELECT event_type, CAST(ts AS DATE) AS day,
                  round(sum(value), 6) AS y
           FROM events GROUP BY 1, 2),
         base AS (
           SELECT event_type, day, y, row_number() OVER (
             PARTITION BY event_type ORDER BY day) AS rn
           FROM daily),
         r AS (
           SELECT event_type, day, y, rn,
                  y AS level, CAST(0.0 AS DOUBLE) AS trend,
                  [CAST(0.0 AS DOUBLE) for i in range(7)] AS seas
           FROM base WHERE rn = 1
           UNION ALL
           SELECT b.event_type, b.day, b.y, b.rn,
                  0.5 * (b.y - r.seas[((b.rn - 1) % 7) + 1])
                    + 0.5 * (r.level + r.trend) AS level,
                  0.25 * ((0.5 * (b.y - r.seas[((b.rn - 1) % 7) + 1])
                      + 0.5 * (r.level + r.trend)) - r.level)
                    + 0.75 * r.trend AS trend,
                  [CASE WHEN i = ((b.rn - 1) % 7) + 1
                     THEN 0.125 * (b.y -
                            (0.5 * (b.y - r.seas[((b.rn - 1) % 7) + 1])
                             + 0.5 * (r.level + r.trend)))
                          + 0.875 * r.seas[i]
                     ELSE r.seas[i] END
                   for i in generate_series(1, 7)] AS seas
           FROM r JOIN base b
             ON b.event_type = r.event_type AND b.rn = r.rn + 1)
         SELECT event_type, strftime(day, '%Y-%m-%d') AS day, y,
                level, trend,
                level + trend + seas[(rn % 7) + 1] AS forecast
         FROM r""",

    "q_ewma" ->
      """WITH RECURSIVE base AS (
           SELECT user_id, event_id, value,
                  row_number() OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) AS rn
           FROM events),
         r AS (
           SELECT user_id, event_id, value, rn, value AS ewma
           FROM base WHERE rn = 1
           UNION ALL
           SELECT b.user_id, b.event_id, b.value, b.rn,
                  0.25 * b.value + 0.75 * r.ewma
           FROM r JOIN base b
             ON b.user_id = r.user_id AND b.rn = r.rn + 1)
         SELECT user_id, event_id, value, ewma FROM r""",

    "q_rank_suite" ->
      """WITH m AS (
           SELECT l_returnflag, strftime(l_shipdate, '%Y-%m') AS month,
                  round(sum(l_extendedprice), 2) AS revenue
           FROM lineitem GROUP BY 1, 2)
         SELECT l_returnflag, month, revenue,
                rank() OVER w AS rnk,
                dense_rank() OVER w AS drnk,
                percent_rank() OVER w AS prnk,
                cume_dist() OVER w AS cdist,
                ntile(4) OVER w AS quartile
         FROM m
         WINDOW w AS (PARTITION BY l_returnflag
                      ORDER BY revenue DESC, month)""",

    "q_join_cardinality" ->
      """SELECT count(*) AS join_rows
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey""",

    "q_join_blowup" ->
      """WITH c AS (
           SELECT user_id AS key, count(*) AS n
           FROM events GROUP BY 1)
         SELECT a.key, a.n AS left_rows, b.n AS right_rows,
                a.n * b.n AS out_rows
         FROM c a JOIN c b ON a.key = b.key
         ORDER BY out_rows DESC, a.key
         LIMIT 10""",

    "q_qq_drift" ->
      """WITH qa AS (
           SELECT quantile_cont(value,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q
           FROM events WHERE event_type = 'click'),
         qb AS (
           SELECT quantile_cont(value,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS q
           FROM events WHERE event_type = 'purchase')
         SELECT CAST(p AS DOUBLE) AS p, round(a, 6) AS q_a,
                round(b, 6) AS q_b,
                round(b - a, 6) AS shift
         FROM (SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5,
                              0.6, 0.7, 0.8, 0.9]) AS p,
                      unnest((SELECT q FROM qa)) AS a,
                      unnest((SELECT q FROM qb)) AS b)""",

    "q_kaplan_meier" ->
      """WITH u AS (
           SELECT user_id, min(ts) AS f,
                  min(CASE WHEN event_type = 'purchase' THEN ts END)
                    AS fp
           FROM events GROUP BY 1),
         lab AS (
           SELECT CASE WHEN fp IS NOT NULL AND
                    CAST(CAST(fp AS DATE) - CAST(f AS DATE) AS INT) <= 3
                  THEN CAST(CAST(fp AS DATE) - CAST(f AS DATE) AS INT)
                  ELSE 3 END AS t,
                  CASE WHEN fp IS NOT NULL AND
                    CAST(CAST(fp AS DATE) - CAST(f AS DATE) AS INT) <= 3
                  THEN 1 ELSE 0 END AS churn
           FROM u),
         g AS (
           SELECT t, CAST(sum(churn) AS BIGINT) AS n_events,
                  CAST(sum(1 - churn) AS BIGINT) AS n_censored
           FROM lab GROUP BY 1),
         r AS (
           SELECT t, n_events, n_censored,
                  CAST((SELECT count(*) FROM lab) -
                    coalesce(sum(n_events + n_censored) OVER (ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS n_risk
           FROM g),
         s AS (
           SELECT t, n_risk, n_events, n_censored,
                  1.0 - CAST(n_events AS DOUBLE) / n_risk AS f
           FROM r)
         SELECT t AS lifetime_days, n_risk, n_events, n_censored,
                round(CASE WHEN max(CASE WHEN f = 0 THEN 1 ELSE 0 END)
                    OVER w = 1 THEN 0.0
                  ELSE exp(sum(CASE WHEN f > 0 THEN ln(f) ELSE 0 END)
                    OVER w) END, 6) AS survival
         FROM s WINDOW w AS (ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",

    "q_log_rank" ->
      """WITH u AS (
           SELECT user_id,
                  CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END
                    AS grp,
                  min(ts) AS f,
                  min(CASE WHEN event_type = 'purchase' THEN ts END)
                    AS fp
           FROM events GROUP BY 1, 2),
         lab AS (
           SELECT grp,
                  CASE WHEN fp IS NOT NULL AND
                    CAST(CAST(fp AS DATE) - CAST(f AS DATE) AS INT) <= 3
                  THEN CAST(CAST(fp AS DATE) - CAST(f AS DATE) AS INT)
                  ELSE 3 END AS t,
                  CASE WHEN fp IS NOT NULL AND
                    CAST(CAST(fp AS DATE) - CAST(f AS DATE) AS INT) <= 3
                  THEN 1 ELSE 0 END AS churn
           FROM u),
         g AS (
           SELECT grp, t, CAST(sum(churn) AS BIGINT) AS d,
                  CAST(count(*) AS BIGINT) AS obs
           FROM lab GROUP BY 1, 2),
         allt AS (SELECT DISTINCT t FROM lab),
         grps AS (SELECT DISTINCT grp FROM lab),
         full0 AS (
           SELECT grps.grp, allt.t,
                  coalesce(g.d, 0) AS d, coalesce(g.obs, 0) AS obs
           FROM grps CROSS JOIN allt
           LEFT JOIN g ON g.grp = grps.grp AND g.t = allt.t),
         nr AS (
           SELECT grp, t, d,
                  CAST(sum(obs) OVER (PARTITION BY grp ORDER BY t
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                    AS BIGINT) AS n
           FROM full0),
         pooled AS (
           SELECT grp, t, d, n,
                  CAST(sum(d) OVER (PARTITION BY t) AS BIGINT) AS dtot,
                  CAST(sum(n) OVER (PARTITION BY t) AS BIGINT) AS ntot
           FROM nr),
         terms AS (
           SELECT grp, d,
                  CAST(dtot AS DOUBLE) * n / ntot AS e,
                  CASE WHEN ntot > 1
                    THEN CAST(dtot AS DOUBLE) * n * (ntot - n)
                      / ntot / ntot * (ntot - dtot) / (ntot - 1)
                    ELSE 0.0 END AS v
           FROM pooled WHERE dtot > 0),
         agg AS (
           SELECT grp, CAST(sum(d) AS BIGINT) AS observed,
                  sum(e) AS esum, sum(v) AS vsum
           FROM terms GROUP BY 1)
         SELECT grp AS cohort, observed,
                round(esum, 6) AS expected,
                round(CASE WHEN vsum > 0
                  THEN (observed - esum) * (observed - esum) / vsum
                  ELSE 0.0 END, 6) AS chi2
         FROM agg""",

    // fixed-round protocol (see q_sssp/q_markov_attrib): 3 Newton
    // steps from beta=0 unrolled as scalar CTEs, identical float
    // association to Sessions.coxPh's driver fold
    "q_cox_ph" ->
      """WITH u AS (
           SELECT user_id,
                  CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END
                    AS grp,
                  min(ts) AS f,
                  min(CASE WHEN event_type = 'purchase' THEN ts END)
                    AS fp
           FROM events GROUP BY 1, 2),
         lab AS (
           SELECT grp,
                  CASE WHEN fp IS NOT NULL AND
                    CAST(CAST(fp AS DATE) - CAST(f AS DATE) AS INT) <= 3
                  THEN CAST(CAST(fp AS DATE) - CAST(f AS DATE) AS INT)
                  ELSE 3 END AS t,
                  CASE WHEN fp IS NOT NULL AND
                    CAST(CAST(fp AS DATE) - CAST(f AS DATE) AS INT) <= 3
                  THEN 1 ELSE 0 END AS churn
           FROM u),
         g AS (
           SELECT grp, t, CAST(sum(churn) AS BIGINT) AS d,
                  CAST(count(*) AS BIGINT) AS obs
           FROM lab GROUP BY 1, 2),
         allt AS (SELECT DISTINCT t FROM lab),
         grps AS (SELECT DISTINCT grp FROM lab),
         full0 AS (
           SELECT grps.grp, allt.t,
                  coalesce(g.d, 0) AS d, coalesce(g.obs, 0) AS obs
           FROM grps CROSS JOIN allt
           LEFT JOIN g ON g.grp = grps.grp AND g.t = allt.t),
         nr AS (
           SELECT grp, t, d,
                  CAST(sum(obs) OVER (PARTITION BY grp ORDER BY t
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                    AS BIGINT) AS n
           FROM full0),
         pooled AS (
           SELECT grp, t, d, n,
                  CAST(sum(d) OVER (PARTITION BY t) AS BIGINT) AS dtot
           FROM nr),
         fr AS MATERIALIZED (
           SELECT t, CAST(max(dtot) AS BIGINT) AS d,
                  CAST(sum(CASE WHEN grp = 'even' THEN d ELSE 0 END)
                    AS BIGINT) AS d1,
                  CAST(sum(CASE WHEN grp = 'even' THEN n ELSE 0 END)
                    AS BIGINT) AS n1,
                  CAST(sum(CASE WHEN grp <> 'even' THEN n ELSE 0 END)
                    AS BIGINT) AS n0
           FROM pooled WHERE dtot > 0 GROUP BY 1),
         s0 AS MATERIALIZED (
           SELECT sum(d1 - d * (n1 * exp(0.0)) /
                    (n0 + n1 * exp(0.0))) AS u,
                  sum(d * (n0 * (n1 * exp(0.0))) /
                    ((n0 + n1 * exp(0.0)) * (n0 + n1 * exp(0.0))))
                    AS i
           FROM fr),
         b1 AS MATERIALIZED (
           SELECT CASE WHEN i > 0 THEN 0.0 + u / i ELSE 0.0 END AS b
           FROM s0),
         s1 AS MATERIALIZED (
           SELECT sum(d1 - d * (n1 * exp((SELECT b FROM b1))) /
                    (n0 + n1 * exp((SELECT b FROM b1)))) AS u,
                  sum(d * (n0 * (n1 * exp((SELECT b FROM b1)))) /
                    ((n0 + n1 * exp((SELECT b FROM b1))) *
                     (n0 + n1 * exp((SELECT b FROM b1))))) AS i
           FROM fr),
         b2 AS MATERIALIZED (
           SELECT CASE WHEN i > 0 THEN (SELECT b FROM b1) + u / i
             ELSE (SELECT b FROM b1) END AS b
           FROM s1),
         s2 AS MATERIALIZED (
           SELECT sum(d1 - d * (n1 * exp((SELECT b FROM b2))) /
                    (n0 + n1 * exp((SELECT b FROM b2)))) AS u,
                  sum(d * (n0 * (n1 * exp((SELECT b FROM b2)))) /
                    ((n0 + n1 * exp((SELECT b FROM b2))) *
                     (n0 + n1 * exp((SELECT b FROM b2))))) AS i
           FROM fr),
         b3 AS MATERIALIZED (
           SELECT CASE WHEN i > 0 THEN (SELECT b FROM b2) + u / i
             ELSE (SELECT b FROM b2) END AS b
           FROM s2)
         SELECT round((SELECT b FROM b3), 6) AS beta,
                round(exp((SELECT b FROM b3)), 6) AS hazard_ratio,
                round(CASE WHEN (SELECT i FROM s0) > 0
                  THEN (SELECT u FROM s0) * (SELECT u FROM s0) /
                    (SELECT i FROM s0)
                  ELSE 0.0 END, 6) AS score_chi2""",

    "q_multi_touch" ->
      """WITH touches AS (
           SELECT user_id, ts AS tts, event_id AS ttie,
                  event_type AS ch
           FROM events WHERE event_type <> 'purchase'),
         convs AS (
           SELECT user_id, ts AS cts, event_id AS ctie,
                  CAST(value AS DOUBLE) AS v
           FROM events WHERE event_type = 'purchase'),
         pairs AS (
           SELECT c.user_id, c.cts, c.ctie, c.v, t.tts, t.ttie, t.ch
           FROM convs c JOIN touches t ON c.user_id = t.user_id
             AND (t.tts < c.cts OR
                  (t.tts = c.cts AND t.ttie < c.ctie))),
         scored AS (
           SELECT ch, v,
                  row_number() OVER (PARTITION BY user_id, cts, ctie
                    ORDER BY tts, ttie) AS rn,
                  count(*) OVER (PARTITION BY user_id, cts, ctie)
                    AS n,
                  exp((-ln(2) / 7.0) *
                    (CAST(epoch_us(cts) - epoch_us(tts) AS DOUBLE)
                      / 86400000000.0)) AS raw,
                  sum(exp((-ln(2) / 7.0) *
                    (CAST(epoch_us(cts) - epoch_us(tts) AS DOUBLE)
                      / 86400000000.0)))
                    OVER (PARTITION BY user_id, cts, ctie) AS mass
           FROM pairs),
         att AS (
           SELECT 'position' AS model, ch AS channel,
                  CASE WHEN n = 1 THEN 1.0
                       WHEN n = 2 THEN 0.5
                       WHEN rn = 1 OR rn = n THEN 0.4
                       ELSE 0.2 / (n - 2) END AS w, v
           FROM scored
           UNION ALL
           SELECT 'time_decay', ch, raw / mass, v FROM scored
           UNION ALL
           SELECT 'position', 'direct', CAST(1.0 AS DOUBLE), v
           FROM convs c
           WHERE NOT EXISTS (SELECT 1 FROM touches t
             WHERE t.user_id = c.user_id
               AND (t.tts < c.cts OR
                    (t.tts = c.cts AND t.ttie < c.ctie)))
           UNION ALL
           SELECT 'time_decay', 'direct', CAST(1.0 AS DOUBLE), v
           FROM convs c
           WHERE NOT EXISTS (SELECT 1 FROM touches t
             WHERE t.user_id = c.user_id
               AND (t.tts < c.cts OR
                    (t.tts = c.cts AND t.ttie < c.ctie))))
         SELECT model, channel,
                round(sum(w), 6) AS attributed_conversions,
                round(sum(w * v), 6) AS attributed_value
         FROM att GROUP BY 1, 2""",

    "q_diff_in_diff" ->
      """WITH p AS (
           SELECT CAST(value AS DOUBLE) AS y,
                  user_id % 2 = 0 AS t,
                  ts >= TIMESTAMP '2024-01-16' AS post
           FROM events WHERE event_type = 'purchase')
         SELECT
           CAST(count(CASE WHEN t AND NOT post THEN 1 END) AS BIGINT)
             AS n_treated_pre,
           CAST(count(CASE WHEN t AND post THEN 1 END) AS BIGINT)
             AS n_treated_post,
           CAST(count(CASE WHEN NOT t AND NOT post THEN 1 END)
             AS BIGINT) AS n_control_pre,
           CAST(count(CASE WHEN NOT t AND post THEN 1 END) AS BIGINT)
             AS n_control_post,
           round(avg(CASE WHEN t AND NOT post THEN y END), 6)
             AS treated_pre,
           round(avg(CASE WHEN t AND post THEN y END), 6)
             AS treated_post,
           round(avg(CASE WHEN NOT t AND NOT post THEN y END), 6)
             AS control_pre,
           round(avg(CASE WHEN NOT t AND post THEN y END), 6)
             AS control_post,
           round((avg(CASE WHEN t AND post THEN y END) -
                  avg(CASE WHEN t AND NOT post THEN y END)) -
                 (avg(CASE WHEN NOT t AND post THEN y END) -
                  avg(CASE WHEN NOT t AND NOT post THEN y END)), 6)
             AS did
         FROM p""",

    // fixed-round protocol: 2 Lloyd sweeps + final assignment,
    // unrolled; distances are left-folded squared diffs, centroid
    // coordinates rounded at 6 before the next sweep (both engines)
    "q_kmeans" ->
      """WITH base AS MATERIALIZED (
           SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings
           WHERE embedding IS NOT NULL AND vec_id IS NOT NULL),
         c0 AS MATERIALIZED (
           SELECT CAST(row_number() OVER (ORDER BY id, v) - 1 AS INT)
             AS cid, v AS c
           FROM (SELECT id, v FROM base ORDER BY id, v LIMIT 4)),
         a1 AS MATERIALIZED (
           SELECT id, v, cid, d FROM (
             SELECT id, v, cid, d, row_number() OVER (
               PARTITION BY id ORDER BY d, cid) AS rn
             FROM (SELECT b.id, b.v, c.cid,
                     list_sum(list_transform(list_zip(b.v, c.c),
                       x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
                   FROM base b CROSS JOIN c0 c))
           WHERE rn = 1),
         c1 AS MATERIALIZED (
           SELECT cid, list(m ORDER BY pos) AS c FROM (
             SELECT cid, pos, round(avg(x), 6) AS m FROM (
               SELECT cid, unnest(v) AS x,
                      generate_subscripts(v, 1) AS pos
               FROM a1)
             GROUP BY 1, 2)
           GROUP BY 1),
         a2 AS MATERIALIZED (
           SELECT id, v, cid, d FROM (
             SELECT id, v, cid, d, row_number() OVER (
               PARTITION BY id ORDER BY d, cid) AS rn
             FROM (SELECT b.id, b.v, c.cid,
                     list_sum(list_transform(list_zip(b.v, c.c),
                       x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
                   FROM base b CROSS JOIN c1 c))
           WHERE rn = 1),
         c2 AS MATERIALIZED (
           SELECT cid, list(m ORDER BY pos) AS c FROM (
             SELECT cid, pos, round(avg(x), 6) AS m FROM (
               SELECT cid, unnest(v) AS x,
                      generate_subscripts(v, 1) AS pos
               FROM a2)
             GROUP BY 1, 2)
           GROUP BY 1),
         af AS (
           SELECT id, cid, d FROM (
             SELECT id, cid, d, row_number() OVER (
               PARTITION BY id ORDER BY d, cid) AS rn
             FROM (SELECT b.id, c.cid,
                     list_sum(list_transform(list_zip(b.v, c.c),
                       x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
                   FROM base b CROSS JOIN c2 c))
           WHERE rn = 1)
         SELECT cid AS cluster, CAST(count(*) AS BIGINT) AS n_points,
                round(sum(d), 4) AS inertia
         FROM af GROUP BY 1""",

    "q_competing_risks" ->
      """WITH u AS (
           SELECT user_id, min(ts) AS f,
                  min(CASE WHEN event_type = 'purchase' THEN ts END)
                    AS e0,
                  min(CASE WHEN event_type = 'error' THEN ts END)
                    AS e1
           FROM events GROUP BY 1),
         cand AS (
           SELECT CASE WHEN e0 IS NOT NULL AND
                    CAST(CAST(e0 AS DATE) - CAST(f AS DATE) AS INT) <= 3
                  THEN CAST(CAST(e0 AS DATE) - CAST(f AS DATE) AS INT)
                  END AS t0,
                  CASE WHEN e1 IS NOT NULL AND
                    CAST(CAST(e1 AS DATE) - CAST(f AS DATE) AS INT) <= 3
                  THEN CAST(CAST(e1 AS DATE) - CAST(f AS DATE) AS INT)
                  END AS t1
           FROM u),
         lab AS (
           SELECT CASE
                    WHEN t0 IS NOT NULL AND (t1 IS NULL OR t0 <= t1)
                      THEN t0
                    WHEN t1 IS NOT NULL THEN t1
                    ELSE 3 END AS t,
                  CASE
                    WHEN t0 IS NOT NULL AND (t1 IS NULL OR t0 <= t1)
                      THEN 0
                    WHEN t1 IS NOT NULL THEN 1
                    ELSE -1 END AS cause
           FROM cand),
         g AS (
           SELECT t,
                  CAST(sum(CASE WHEN cause = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS d0,
                  CAST(sum(CASE WHEN cause = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS d1,
                  CAST(count(*) AS BIGINT) AS obs
           FROM lab GROUP BY 1),
         r AS (
           SELECT t, d0, d1,
                  CAST((SELECT count(*) FROM lab) -
                    coalesce(sum(obs) OVER (ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS n
           FROM g),
         s AS (
           SELECT t, d0, d1, n,
                  1.0 - CAST(d0 + d1 AS DOUBLE) / n AS fac
           FROM r),
         km AS (
           SELECT t, d0, d1, n,
                  CASE WHEN max(CASE WHEN fac = 0 THEN 1 ELSE 0 END)
                      OVER w = 1 THEN 0.0
                    ELSE exp(sum(CASE WHEN fac > 0 THEN ln(fac)
                      ELSE 0 END) OVER w) END AS sv
           FROM s WINDOW w AS (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         sp AS (
           SELECT t, d0, d1, n,
                  coalesce(lag(sv) OVER (ORDER BY t), 1.0) AS sprev
           FROM km)
         SELECT t AS lifetime_days, 'purchase' AS cause, n AS n_risk,
                d0 AS n_events,
                round(sum(sprev * CAST(d0 AS DOUBLE) / n) OVER w, 6)
                  AS cif
         FROM sp WINDOW w AS (ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         UNION ALL
         SELECT t, 'error', n, d1,
                round(sum(sprev * CAST(d1 AS DOUBLE) / n) OVER w2, 6)
         FROM sp WINDOW w2 AS (ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",

    "q_rmst" ->
      """WITH u AS (
           SELECT user_id, min(ts) AS f,
                  min(CASE WHEN event_type = 'purchase' THEN ts END)
                    AS fp
           FROM events GROUP BY 1),
         lab AS (
           SELECT CASE WHEN fp IS NOT NULL AND
                    CAST(CAST(fp AS DATE) - CAST(f AS DATE) AS INT) <= 3
                  THEN CAST(CAST(fp AS DATE) - CAST(f AS DATE) AS INT)
                  ELSE 3 END AS t,
                  CASE WHEN fp IS NOT NULL AND
                    CAST(CAST(fp AS DATE) - CAST(f AS DATE) AS INT) <= 3
                  THEN 1 ELSE 0 END AS churn
           FROM u),
         g AS (
           SELECT t, CAST(sum(churn) AS BIGINT) AS n_events,
                  CAST(sum(1 - churn) AS BIGINT) AS n_censored
           FROM lab GROUP BY 1),
         r AS (
           SELECT t, n_events, n_censored,
                  CAST((SELECT count(*) FROM lab) -
                    coalesce(sum(n_events + n_censored) OVER (ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS n_risk
           FROM g),
         s AS (
           SELECT t, 1.0 - CAST(n_events AS DOUBLE) / n_risk AS f
           FROM r),
         km AS (
           SELECT t,
                  round(CASE WHEN max(CASE WHEN f = 0 THEN 1 ELSE 0 END)
                      OVER w = 1 THEN 0.0
                    ELSE exp(sum(CASE WHEN f > 0 THEN ln(f) ELSE 0 END)
                      OVER w) END, 6) AS survival
           FROM s WINDOW w AS (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         seg AS (
           SELECT t, survival,
                  coalesce(lag(t) OVER (ORDER BY t), 0) AS prev_t,
                  coalesce(lag(survival) OVER (ORDER BY t), 1.0)
                    AS prev_s
           FROM km)
         SELECT CAST(3 AS INT) AS horizon_days,
                round(sum((t - prev_t) * prev_s) +
                  arg_max(survival, t) * (3 - max(t)), 6) AS rmst
         FROM seg""",

    "q_dedup_profile" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents
           WHERE doc_id % 5 = 0),
         cl AS (
           SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
                  count(*) AS cs
           FROM corpus GROUP BY 1),
         tot AS (SELECT CAST(sum(cs) AS DOUBLE) AS t FROM cl)
         SELECT cs AS cluster_size, count(*) AS n_clusters,
                CAST(cs * count(*) AS BIGINT) AS n_docs,
                round(cs * count(*) / t, 6) AS doc_share
         FROM cl CROSS JOIN tot GROUP BY cs, t""",

    "q_ngram_novelty" ->
      """WITH tok AS (
           SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
           FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS gram
           FROM tok CROSS JOIN UNNEST(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)),
         dfq AS (SELECT gram, count(*) AS df FROM sh GROUP BY 1)
         SELECT doc_id, count(*) AS n_shingles,
                CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
                round(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) /
                  CAST(count(*) AS DOUBLE), 6) AS novelty
         FROM sh JOIN dfq USING (gram)
         GROUP BY 1""",

    "q_table_diff" ->
      """WITH o AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus
           FROM orders WHERE o_orderkey % 97 <> 0),
         n AS (
           SELECT o_orderkey,
                  CASE WHEN o_orderkey % 13 = 0
                    THEN o_totalprice + 1000.0 ELSE o_totalprice END
                    AS o_totalprice,
                  o_orderstatus
           FROM orders WHERE o_orderkey % 89 <> 0),
         j AS (
           SELECT CASE WHEN o.o_orderkey IS NULL THEN 'added'
                       WHEN n.o_orderkey IS NULL THEN 'removed'
                       WHEN (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
                         OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
                         THEN 'changed'
                       ELSE 'unchanged' END AS status,
                  CASE WHEN o.o_orderkey IS NOT NULL
                        AND n.o_orderkey IS NOT NULL
                        AND o.o_totalprice IS DISTINCT FROM n.o_totalprice
                    THEN 1 ELSE 0 END AS d_tp,
                  CASE WHEN o.o_orderkey IS NOT NULL
                        AND n.o_orderkey IS NOT NULL
                        AND o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                    THEN 1 ELSE 0 END AS d_st
           FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey)
         SELECT status, count(*) AS n,
                CAST(sum(d_tp) AS BIGINT) AS changed_o_totalprice,
                CAST(sum(d_st) AS BIGINT) AS changed_o_orderstatus
         FROM j GROUP BY 1""",

    "q_late_orders" ->
      """SELECT o_orderpriority, count(*) AS n_late
         FROM orders WHERE EXISTS (
           SELECT 1 FROM lineitem
           WHERE l_orderkey = o_orderkey
             AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
         GROUP BY 1""",

    "q_blame_supplier" ->
      """WITH lp AS (
           SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY),
         allp AS (
           SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
           FROM lineitem),
         multi AS (SELECT ok FROM allp GROUP BY ok HAVING count(*) > 1),
         sole AS (SELECT ok, max(sk) AS sk FROM lp
                  GROUP BY ok HAVING count(*) = 1)
         SELECT s_name, count(*) AS numwait
         FROM sole JOIN multi USING (ok)
         JOIN supplier ON sk = s_suppkey
         GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""",

    "q_pareto_class" ->
      """WITH pr AS (
           SELECT l_partkey AS k, sum(l_extendedprice) AS v
           FROM lineitem GROUP BY 1),
         c AS (
           SELECT k, v,
                  sum(v) OVER (ORDER BY v DESC, k) AS cum,
                  sum(v) OVER () AS tot
           FROM pr),
         cl AS (
           SELECT CASE WHEN cum / tot <= 0.8 THEN 'A'
                       WHEN cum / tot <= 0.95 THEN 'B'
                       ELSE 'C' END AS pareto_class, v, tot
           FROM c)
         SELECT pareto_class, count(*) AS n_keys,
                round(sum(v), 2) AS revenue,
                round(sum(v) / max(tot), 6) AS revenue_share
         FROM cl GROUP BY 1""",

    "q_period_over_period" ->
      """WITH m AS (
           SELECT strftime(o_orderdate, '%Y-%m') AS month,
                  sum(o_totalprice) AS rev
           FROM orders GROUP BY 1)
         SELECT month, round(rev, 2) AS revenue,
                round(rev / lag(rev, 1) OVER (ORDER BY month) - 1, 6) AS mom,
                round(rev / lag(rev, 12) OVER (ORDER BY month) - 1, 6) AS yoy
         FROM m""",

    "q_cusum_shift" ->
      """WITH d AS (
           SELECT event_type, CAST(ts AS DATE) AS day, avg(value) AS v
           FROM events GROUP BY 1, 2),
         m AS (
           SELECT event_type, avg(v) AS mu, count(*) AS nd
           FROM d GROUP BY 1),
         c AS (
           SELECT d.event_type, day, nd,
                  round(abs(sum(v - mu) OVER (PARTITION BY d.event_type
                    ORDER BY day)), 6) AS a
           FROM d JOIN m USING (event_type)),
         r AS (
           SELECT event_type, day, a, nd,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY a DESC, day) AS rn
           FROM c)
         SELECT event_type, day AS change_day, a AS cusum_peak,
                nd AS n_days
         FROM r WHERE rn = 1""",

    "q_rolling_active" ->
      """WITH du AS (
           SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
         days AS (SELECT DISTINCT day FROM du)
         SELECT d.day, count(DISTINCT u.user_id) AS active_keys
         FROM days d JOIN du u
           ON u.day BETWEEN d.day - 6 AND d.day
         GROUP BY d.day""",

    "q_acf" ->
      """WITH d AS (
           SELECT event_type, CAST(ts AS DATE) AS day, avg(value) AS v
           FROM events GROUP BY 1, 2),
         l AS (
           SELECT event_type, v,
                  lag(v, 1) OVER w AS l1, lag(v, 2) OVER w AS l2,
                  lag(v, 3) OVER w AS l3, lag(v, 4) OVER w AS l4,
                  lag(v, 5) OVER w AS l5
           FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         s AS (
           SELECT event_type, 1 AS lag, v, l1 AS lv FROM l UNION ALL
           SELECT event_type, 2, v, l2 FROM l UNION ALL
           SELECT event_type, 3, v, l3 FROM l UNION ALL
           SELECT event_type, 4, v, l4 FROM l UNION ALL
           SELECT event_type, 5, v, l5 FROM l)
         SELECT event_type, lag, round(corr(v, lv), 6) AS acf,
                count(lv) AS n_pairs
         FROM s GROUP BY 1, 2""",

    // Durbin-Levinson over the SAME rounded acf estimates as q_acf —
    // identical expression tree to Aggregates.pacf
    "q_pacf" ->
      """WITH d AS (
           SELECT event_type, CAST(ts AS DATE) AS day, avg(value) AS v
           FROM events GROUP BY 1, 2),
         l AS (
           SELECT event_type, v,
                  lag(v, 1) OVER w AS l1, lag(v, 2) OVER w AS l2,
                  lag(v, 3) OVER w AS l3
           FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         s AS (
           SELECT event_type, 1 AS lag, v, l1 AS lv FROM l UNION ALL
           SELECT event_type, 2, v, l2 FROM l UNION ALL
           SELECT event_type, 3, v, l3 FROM l),
         r AS (
           SELECT event_type, lag, round(corr(v, lv), 6) AS acf
           FROM s GROUP BY 1, 2),
         p AS (
           SELECT event_type,
                  max(CASE WHEN lag = 1 THEN acf END) AS r1,
                  max(CASE WHEN lag = 2 THEN acf END) AS r2,
                  max(CASE WHEN lag = 3 THEN acf END) AS r3
           FROM r GROUP BY 1),
         q1 AS (
           SELECT event_type, r1, r2, r3, r1 AS p11,
                  CASE WHEN 1.0 - r1 * r1 <> 0.0
                    THEN (r2 - r1 * r1) / (1.0 - r1 * r1) END AS p22
           FROM p),
         q2 AS (SELECT *, p11 - p22 * p11 AS p21 FROM q1),
         q3 AS (
           SELECT event_type, p11, p22,
                  CASE WHEN 1.0 - p21 * r1 - p22 * r2 <> 0.0
                    THEN (r3 - p21 * r2 - p22 * r1) /
                         (1.0 - p21 * r1 - p22 * r2) END AS p33
           FROM q2)
         SELECT event_type, 1 AS lag, round(p11, 6) AS pacf FROM q3
         UNION ALL
         SELECT event_type, 2, round(p22, 6) FROM q3
         UNION ALL
         SELECT event_type, 3, round(p33, 6) FROM q3""",

    "q_mutual_info" ->
      """WITH j AS (
           SELECT l_returnflag AS x, l_linestatus AS y, count(*) AS n
           FROM lineitem
           WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
           GROUP BY 1, 2),
         tt AS (SELECT sum(n) AS t FROM j),
         m AS (
           SELECT n / t AS p,
                  sum(n) OVER (PARTITION BY x) / t AS px,
                  sum(n) OVER (PARTITION BY y) / t AS py,
                  t
           FROM j CROSS JOIN tt)
         SELECT round(sum(p * ln(p / (px * py))), 6) AS mi_nats,
                round(-sum(p * ln(px)), 6) AS h_x,
                round(-sum(p * ln(py)), 6) AS h_y,
                round(sum(p * ln(p / (px * py))) /
                  sqrt(sum(p * ln(px)) * sum(p * ln(py))), 6) AS nmi,
                CAST(max(t) AS BIGINT) AS n
         FROM m""",

    "q_zipf_fit" ->
      """WITH toks AS (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents),
         freq AS (SELECT w, count(*) AS c FROM toks WHERE length(w) > 0 GROUP BY w),
         r AS (
           SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rn
           FROM freq QUALIFY rn <= 1000)
         SELECT round(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(rn AS DOUBLE))), 6) AS slope,
                round(regr_intercept(ln(CAST(c AS DOUBLE)), ln(CAST(rn AS DOUBLE))), 6) AS intercept,
                round(regr_r2(ln(CAST(c AS DOUBLE)), ln(CAST(rn AS DOUBLE))), 6) AS r2,
                count(*) AS n_terms
         FROM r""",

    "q_triangle_count" ->
      """WITH li AS (
           SELECT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE o_orderpriority = '1-URGENT'),
         e AS (
           SELECT DISTINCT a.pk AS a, b.pk AS b
           FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         deg AS (
           SELECT id, count(*) AS d FROM (
             SELECT a AS id FROM e UNION ALL SELECT b AS id FROM e)
           GROUP BY 1),
         tri AS (
           SELECT count(*) AS t
           FROM e e1 JOIN e e2 ON e2.a = e1.b
                     JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         st AS (
           SELECT count(*) AS n_nodes,
                  CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS n_wedges
           FROM deg),
         ec AS (SELECT count(*) AS n_edges FROM e)
         SELECT n_nodes, n_edges, n_wedges, CAST(t AS BIGINT) AS n_triangles,
                round(3.0 * t / n_wedges, 6) AS global_clustering
         FROM st CROSS JOIN ec CROSS JOIN tri""",

    "q_label_prop" ->
      """WITH li AS (
           SELECT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE o_orderpriority = '1-URGENT'),
         e AS MATERIALIZED (
           SELECT DISTINCT x.pk AS a, y.pk AS b
           FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
         und AS MATERIALIZED (
           SELECT a AS src, b AS dst FROM e
           UNION SELECT b AS src, a AS dst FROM e),
         l0 AS MATERIALIZED (
           SELECT DISTINCT src AS node, src AS label FROM und),
         c1 AS (
           SELECT u.src, l.label, count(*) AS cnt
           FROM und u JOIN l0 l ON u.dst = l.node GROUP BY 1, 2),
         l1 AS MATERIALIZED (
           SELECT src AS node, label FROM (
             SELECT src, label, row_number() OVER (
               PARTITION BY src ORDER BY cnt DESC, label) AS rk
             FROM c1) WHERE rk = 1),
         c2 AS (
           SELECT u.src, l.label, count(*) AS cnt
           FROM und u JOIN l1 l ON u.dst = l.node GROUP BY 1, 2),
         l2 AS MATERIALIZED (
           SELECT src AS node, label FROM (
             SELECT src, label, row_number() OVER (
               PARTITION BY src ORDER BY cnt DESC, label) AS rk
             FROM c2) WHERE rk = 1),
         c3 AS (
           SELECT u.src, l.label, count(*) AS cnt
           FROM und u JOIN l2 l ON u.dst = l.node GROUP BY 1, 2),
         l3 AS (
           SELECT src AS node, label FROM (
             SELECT src, label, row_number() OVER (
               PARTITION BY src ORDER BY cnt DESC, label) AS rk
             FROM c3) WHERE rk = 1)
         SELECT node AS id, label FROM l3 ORDER BY id""",

    "q_attribution" ->
      """WITH w AS (
           SELECT event_type, value,
                  last_value(CASE WHEN event_type <> 'purchase'
                    THEN event_type END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt,
                  first_value(CASE WHEN event_type <> 'purchase'
                    THEN event_type END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ft
           FROM events),
         c AS (SELECT * FROM w WHERE event_type = 'purchase')
         SELECT 'last_touch' AS model, coalesce(lt, 'direct') AS channel,
                count(*) AS n_conversions,
                round(sum(value), 2) AS attributed_value
         FROM c GROUP BY 2
         UNION ALL
         SELECT 'first_touch', coalesce(ft, 'direct'), count(*),
                round(sum(value), 2)
         FROM c GROUP BY 2""",

    "q_psi_drift" ->
      """WITH mm AS (SELECT min(value) AS mn, max(value) AS mx
                     FROM events WHERE ts < TIMESTAMP '2024-01-15'),
         be AS (SELECT CASE WHEN (mx - mn) / 10.0 = 0 THEN 0
                       ELSE least(greatest(CAST(floor((value - mn) /
                         ((mx - mn) / 10.0)) AS BIGINT), 0), 9) END AS bin
                FROM events CROSS JOIN mm
                WHERE ts < TIMESTAMP '2024-01-15'),
         ba AS (SELECT CASE WHEN (mx - mn) / 10.0 = 0 THEN 0
                       ELSE least(greatest(CAST(floor((value - mn) /
                         ((mx - mn) / 10.0)) AS BIGINT), 0), 9) END AS bin
                FROM events CROSS JOIN mm
                WHERE ts >= TIMESTAMP '2024-01-15'),
         ce AS (SELECT bin, count(*) AS n FROM be GROUP BY 1),
         ca AS (SELECT bin, count(*) AS n FROM ba GROUP BY 1),
         te AS (SELECT sum(n) AS t FROM ce),
         ta AS (SELECT sum(n) AS t FROM ca),
         pe AS (SELECT bin, greatest(n / CAST(t AS DOUBLE), 0.0001) AS p
                FROM ce CROSS JOIN te),
         pa AS (SELECT bin, greatest(n / CAST(t AS DOUBLE), 0.0001) AS p
                FROM ca CROSS JOIN ta),
         j AS (SELECT coalesce(pe.p, 0.0001) AS x,
                      coalesce(pa.p, 0.0001) AS y
               FROM pe FULL OUTER JOIN pa USING (bin))
         SELECT round(sum((y - x) * ln(y / x)), 6) AS psi,
                count(*) AS n_bins
         FROM j""",

    "q_revenue_gini" ->
      """WITH pc AS (SELECT o_custkey, sum(o_totalprice) AS rev
                     FROM orders GROUP BY 1),
              r AS (SELECT rev, row_number() OVER (ORDER BY rev) AS rn
                    FROM pc),
              t AS (SELECT count(*) AS n, sum(rev) AS s FROM pc)
         SELECT round(2.0 * sum(rn * rev) / (n * s)
                  - (n + 1) / CAST(n AS DOUBLE), 6) AS gini,
                CAST(max(n) AS BIGINT) AS n,
                round(max(s), 2) AS total
         FROM r CROSS JOIN t GROUP BY n, s""",

    "q_source_entropy" ->
      """WITH counts AS (
           SELECT source, lang, count(*) AS n
           FROM documents GROUP BY 1, 2),
         tot AS (SELECT source, sum(n) AS t FROM counts GROUP BY 1)
         SELECT counts.source,
                round(-sum((n / CAST(t AS DOUBLE)) *
                  ln(n / CAST(t AS DOUBLE))), 6) AS entropy,
                CAST(count(DISTINCT lang) AS BIGINT) AS n_categories,
                CAST(max(t) AS BIGINT) AS n_rows
         FROM counts JOIN tot ON counts.source = tot.source
         GROUP BY counts.source""",

    "q_conversion_ci" ->
      """WITH agg AS (
           SELECT event_type,
                  CAST(sum(CASE WHEN value > 10.0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_success,
                  count(*) AS n
           FROM events GROUP BY 1)
         SELECT event_type, n_success, n,
                round(n_success / CAST(n AS DOUBLE), 6) AS rate,
                round(((n_success / CAST(n AS DOUBLE))
                       + (1.96 * 1.96) / (2.0 * n)
                       - 1.96 * sqrt((n_success / CAST(n AS DOUBLE))
                           * (1.0 - n_success / CAST(n AS DOUBLE)) / n
                           + (1.96 * 1.96) / (4.0 * n * n)))
                  / (1.0 + (1.96 * 1.96) / n), 6) AS ci_lo,
                round(((n_success / CAST(n AS DOUBLE))
                       + (1.96 * 1.96) / (2.0 * n)
                       + 1.96 * sqrt((n_success / CAST(n AS DOUBLE))
                           * (1.0 - n_success / CAST(n AS DOUBLE)) / n
                           + (1.96 * 1.96) / (4.0 * n * n)))
                  / (1.0 + (1.96 * 1.96) / n), 6) AS ci_hi
         FROM agg""",

    "q_top_paths" ->
      """WITH ranked AS (
           SELECT user_id, event_type,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS rn
           FROM events QUALIFY rn <= 3),
         paths AS (
           SELECT user_id,
                  string_agg(event_type, '->' ORDER BY rn) AS path
           FROM ranked GROUP BY user_id)
         SELECT path, count(*) AS n_keys
         FROM paths GROUP BY path
         ORDER BY n_keys DESC, path LIMIT 20""",

    "q_seasonal_baseline" ->
      """WITH model AS (
           SELECT event_type, date_part('hour', ts) AS h,
                  avg(value) AS pred
           FROM events WHERE ts < TIMESTAMP '2024-01-25'
           GROUP BY 1, 2)
         SELECT e.event_type,
                round(avg(abs(e.value - m.pred)), 4) AS mae,
                count(*) AS n_test
         FROM events e
         JOIN model m ON e.event_type = m.event_type
           AND date_part('hour', e.ts) = m.h
         WHERE e.ts >= TIMESTAMP '2024-01-25'
         GROUP BY e.event_type""",

    // full-recompute oracle for the incremental fold. Caveat mirrored
    // from the Spark side: sum_v is a sum of doubles, so the merged
    // fold sums per-slice partials — round(4) absorbs the
    // association difference
    "q_agg_merge" ->
      """SELECT event_type, CAST(ts AS DATE) AS day,
                count(*) AS n_events,
                round(sum(value), 4) AS sum_v,
                min(value) AS min_v, max(value) AS max_v
         FROM events
         GROUP BY 1, 2""",

    "q_ab_ttest" ->
      """WITH sa AS (SELECT avg(value) AS ma, var_samp(value) AS va,
                            count(value) AS n_a
                     FROM events WHERE event_type = 'click'),
              sb AS (SELECT avg(value) AS mb, var_samp(value) AS vb,
                            count(value) AS n_b
                     FROM events WHERE event_type = 'purchase')
         SELECT round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
                round((ma - mb) / (CASE WHEN va / n_a + vb / n_b > 0
                  THEN sqrt(va / n_a + vb / n_b) END), 6) AS t_stat,
                round(((va / n_a + vb / n_b) * (va / n_a + vb / n_b)) /
                  (CASE WHEN n_a > 1 AND n_b > 1
                             AND va / n_a + vb / n_b > 0
                        THEN pow(va / n_a, 2) / (n_a - 1)
                             + pow(vb / n_b, 2) / (n_b - 1) END), 6)
                  AS deg_f,
                n_a, n_b
         FROM sa CROSS JOIN sb""",

    "q_ks_drift" ->
      """WITH u AS (
           SELECT value AS v, 1 AS ca, 0 AS cb FROM events
           WHERE event_type = 'click'
           UNION ALL
           SELECT value, 0, 1 FROM events WHERE event_type = 'purchase'),
         inc AS (SELECT v, sum(ca) AS da, sum(cb) AS db
                 FROM u GROUP BY v),
         run AS (
           SELECT sum(da) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ra,
                  sum(db) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rb
           FROM inc),
         tot AS (SELECT sum(da) AS na, sum(db) AS nb FROM inc)
         SELECT round(max(abs(ra / CAST(na AS DOUBLE)
                  - rb / CAST(nb AS DOUBLE))), 6) AS ks_stat,
                CAST(max(na) AS BIGINT) AS n_a,
                CAST(max(nb) AS BIGINT) AS n_b
         FROM run CROSS JOIN tot""",

    "q_basket_lift" ->
      """WITH bi AS (
           SELECT DISTINCT l_orderkey AS b, p_brand AS i
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         n AS (SELECT count(DISTINCT b) AS nb FROM bi),
         items AS (SELECT i, count(*) AS ni FROM bi GROUP BY 1),
         pairs AS (
           SELECT a.i AS item_a, b.i AS item_b, count(*) AS n_ab
           FROM bi a JOIN bi b ON a.b = b.b AND a.i < b.i
           GROUP BY 1, 2)
         SELECT item_a, item_b, n_ab,
                ia.ni AS n_a, ib.ni AS n_b,
                round(n_ab / CAST(nb AS DOUBLE), 6) AS support,
                round(n_ab * nb / (CAST(ia.ni AS DOUBLE) * ib.ni), 6)
                  AS lift
         FROM pairs
         JOIN items ia ON ia.i = item_a
         JOIN items ib ON ib.i = item_b
         CROSS JOIN n
         ORDER BY lift DESC, item_a, item_b LIMIT 20""",

    "q_funnel_latency" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                     WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
                JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.ts > s1.t1
                GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
                JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                GROUP BY e.user_id),
         d1 AS (SELECT epoch(t2) - epoch(s1.t1) AS d
                FROM s2 JOIN s1 ON s2.user_id = s1.user_id),
         d2 AS (SELECT epoch(t3) - epoch(s2.t2) AS d
                FROM s3 JOIN s2 ON s3.user_id = s2.user_id)
         SELECT 'view->click' AS transition, CAST(1 AS INT) AS step_idx,
                count(d) AS n_converted, round(avg(d), 2) AS mean_s,
                round(median(d), 2) AS median_s
         FROM d1
         UNION ALL
         SELECT 'click->purchase', CAST(2 AS INT), count(d),
                round(avg(d), 2), round(median(d), 2)
         FROM d2""",

    "q_peak_concurrency" ->
      """WITH brk AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 600
                       THEN 1 ELSE 0 END AS is_brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT user_id, ts,
                  sum(is_brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
           FROM brk),
         bounds AS (
           SELECT user_id, seq, min(ts) AS s, max(ts) AS e
           FROM sess GROUP BY 1, 2),
         deltas AS (
           SELECT s AS t, 1 AS d FROM bounds
           UNION ALL SELECT e, -1 FROM bounds),
         run AS (
           SELECT CAST(t AS DATE) AS day,
                  sum(d) OVER (ORDER BY t, d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
           FROM deltas)
         SELECT day, CAST(max(c) AS BIGINT) AS peak_concurrency
         FROM run GROUP BY day""",

    "q_table_profile" ->
      """SELECT 'o_orderkey' AS col_name,
                CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
         FROM orders
         UNION ALL SELECT 'o_custkey',
                CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
         UNION ALL SELECT 'o_orderstatus',
                CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                CAST(count(DISTINCT o_orderstatus) AS BIGINT) FROM orders
         UNION ALL SELECT 'o_totalprice',
                CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                CAST(count(DISTINCT o_totalprice) AS BIGINT) FROM orders
         UNION ALL SELECT 'o_orderdate',
                CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                CAST(count(DISTINCT o_orderdate) AS BIGINT) FROM orders
         UNION ALL SELECT 'o_orderpriority',
                CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                CAST(count(DISTINCT o_orderpriority) AS BIGINT) FROM orders""",

    "q_fuzzy_pairs" ->
      """WITH base AS (
           SELECT doc_id AS id, substr(text, 1, 40) AS pfx,
                  substr(text, 1, 6) AS blk,
                  CAST(floor(length(text) / 16) AS BIGINT) AS lb
           FROM documents
           WHERE regexp_matches(substr(text, 1, 40), '^[ -~]*$'))
         SELECT a.id AS a_id, b.id AS b_id,
                CAST(levenshtein(a.pfx, b.pfx) AS INT) AS dist
         FROM base a JOIN base b ON a.blk = b.blk AND a.lb = b.lb
           AND a.id < b.id
         WHERE levenshtein(a.pfx, b.pfx) <= 5""",

    "q_depth_histogram" ->
      """WITH cuts AS (
           SELECT quantile_cont(o_totalprice,
             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS c
           FROM orders)
         SELECT CAST(len(list_filter(c, x -> x < o_totalprice))
                  AS BIGINT) AS bin,
                count(*) AS n
         FROM orders CROSS JOIN cuts
         GROUP BY 1""",

    "q_winsorized_stats" ->
      """WITH bands AS (
           SELECT event_type,
                  quantile_cont(value, 0.05) AS plo,
                  quantile_cont(value, 0.95) AS phi
           FROM events GROUP BY 1)
         SELECT e.event_type,
                round(bands.plo, 6) AS p_lo,
                round(bands.phi, 6) AS p_hi,
                round(avg(least(greatest(e.value, bands.plo), bands.phi)),
                  6) AS wins_mean,
                count(*) AS n
         FROM events e JOIN bands USING (event_type)
         GROUP BY e.event_type, bands.plo, bands.phi""",

    // ---- sequence analytics + robust stats (round 9) ----
    "q_event_transitions" ->
      """WITH seq AS (
           SELECT event_type AS from_state,
                  lead(event_type) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS to_state
           FROM events)
         SELECT from_state, to_state, count(*) AS n,
                round(count(*) / sum(count(*))
                  OVER (PARTITION BY from_state), 6) AS p
         FROM seq WHERE to_state IS NOT NULL
         GROUP BY 1, 2""",

    "q_mad_outliers" ->
      """WITH med AS (SELECT event_type, median(value) AS m
                      FROM events GROUP BY 1),
              mad AS (SELECT e.event_type,
                             median(abs(e.value - med.m)) AS md
                      FROM events e JOIN med USING (event_type)
                      GROUP BY 1)
         SELECT e.event_type, round(med.m, 6) AS median,
                round(mad.md, 6) AS mad,
                CAST(sum(CASE WHEN abs(e.value - med.m) >
                                   (3.0 * 1.4826) * mad.md
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
                count(*) AS n_rows
         FROM events e
         JOIN med USING (event_type)
         JOIN mad ON mad.event_type = e.event_type
         GROUP BY 1, med.m, mad.md""",

    // the merge contract is row-equality with the full recompute, so
    // the oracle is q_scd2_history's construction verbatim (ts values
    // are micro-unique, so the tiebreak column is immaterial here)
    "q_scd2_merge" ->
      """WITH flagged AS (
           SELECT user_id, ts, event_type,
                  CASE WHEN event_type IS DISTINCT FROM
                            lag(event_type) OVER (PARTITION BY user_id
                              ORDER BY ts)
                       THEN 1 ELSE 0 END AS chg
           FROM events),
         runs AS (
           SELECT user_id, event_type, ts,
                  sum(chg) OVER (PARTITION BY user_id ORDER BY ts) AS run
           FROM flagged),
         collapsed AS (
           SELECT user_id, event_type, run, min(ts) AS vf,
                  count(*) AS n_obs
           FROM runs GROUP BY 1, 2, 3)
         SELECT user_id, event_type,
                strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
                strftime(lead(vf) OVER (PARTITION BY user_id ORDER BY vf),
                  '%Y-%m-%d %H:%M:%S') AS valid_to,
                lead(vf) OVER (PARTITION BY user_id ORDER BY vf) IS NULL
                  AS is_current,
                n_obs
         FROM collapsed""",

    "q_scd2_history" ->
      """WITH flagged AS (
           SELECT user_id, ts, event_id, event_type,
                  CASE WHEN event_type IS DISTINCT FROM
                            lag(event_type) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id)
                       THEN 1 ELSE 0 END AS chg
           FROM events),
         runs AS (
           SELECT user_id, event_type, ts,
                  sum(chg) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS run
           FROM flagged),
         collapsed AS (
           SELECT user_id, event_type, run, min(ts) AS vf,
                  count(*) AS n_obs
           FROM runs GROUP BY 1, 2, 3)
         SELECT user_id, event_type,
                strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
                strftime(lead(vf) OVER (PARTITION BY user_id ORDER BY vf),
                  '%Y-%m-%d %H:%M:%S') AS valid_to,
                lead(vf) OVER (PARTITION BY user_id ORDER BY vf) IS NULL
                  AS is_current,
                n_obs
         FROM collapsed""",

    // ---- text-overlap eval + streaks (round 9) ----
    "q_rouge_bigram" ->
      """WITH norm AS (
           SELECT doc_id, source,
                  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS txt
           FROM documents),
         p AS (
           SELECT doc_id AS id, txt AS cand,
                  lead(txt) OVER (PARTITION BY source ORDER BY doc_id) AS ref
           FROM norm QUALIFY ref IS NOT NULL),
         cg AS (SELECT id, array_to_string(t[i:i+1], ' ') AS g, count(*) AS cc
                FROM (SELECT id, string_split(cand, ' ') AS t FROM p) s
                CROSS JOIN UNNEST(generate_series(1, greatest(len(t) - 1, 0))) AS u(i)
                GROUP BY 1, 2),
         rg AS (SELECT id, array_to_string(t[i:i+1], ' ') AS g, count(*) AS rc
                FROM (SELECT id, string_split(ref, ' ') AS t FROM p) s
                CROSS JOIN UNNEST(generate_series(1, greatest(len(t) - 1, 0))) AS u(i)
                GROUP BY 1, 2),
         ov AS (SELECT coalesce(cg.id, rg.id) AS id,
                       sum(least(coalesce(cc, 0), coalesce(rc, 0))) AS ov,
                       sum(coalesce(cc, 0)) AS ct,
                       sum(coalesce(rc, 0)) AS rt
                FROM cg FULL JOIN rg ON cg.id = rg.id AND cg.g = rg.g
                GROUP BY 1),
         sc AS (SELECT p.id,
                       CASE WHEN ov.ct > 0 THEN ov.ov::DOUBLE / ov.ct ELSE 0 END AS pr,
                       CASE WHEN ov.rt > 0 THEN ov.ov::DOUBLE / ov.rt ELSE 0 END AS re
                FROM p LEFT JOIN ov ON p.id = ov.id)
         SELECT id AS doc_id, round(pr, 6) AS rouge_p, round(re, 6) AS rouge_r,
                round(CASE WHEN pr + re > 0 THEN 2 * pr * re / (pr + re)
                           ELSE 0 END, 6) AS rouge_f
         FROM sc""",

    "q_bleu" ->
      """WITH norm AS (
           SELECT doc_id, source,
                  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS txt
           FROM documents),
         p AS (
           SELECT doc_id AS id, txt AS cand,
                  lead(txt) OVER (PARTITION BY source ORDER BY doc_id) AS ref
           FROM norm QUALIFY ref IS NOT NULL),
         lens AS (SELECT id, len(string_split(cand, ' '))::DOUBLE AS clen,
                         len(string_split(ref, ' '))::DOUBLE AS rlen
                  FROM p),
         c1 AS (SELECT id, g, count(*) AS cc
                FROM (SELECT id, unnest(string_split(cand, ' ')) AS g FROM p) s
                GROUP BY 1, 2),
         r1 AS (SELECT id, g, count(*) AS rc
                FROM (SELECT id, unnest(string_split(ref, ' ')) AS g FROM p) s
                GROUP BY 1, 2),
         o1 AS (SELECT coalesce(c1.id, r1.id) AS id,
                       sum(least(coalesce(cc, 0), coalesce(rc, 0))) AS ov,
                       sum(coalesce(cc, 0)) AS ct
                FROM c1 FULL JOIN r1 ON c1.id = r1.id AND c1.g = r1.g
                GROUP BY 1),
         c2 AS (SELECT id, array_to_string(t[i:i+1], ' ') AS g, count(*) AS cc
                FROM (SELECT id, string_split(cand, ' ') AS t FROM p) s
                CROSS JOIN UNNEST(generate_series(1, greatest(len(t) - 1, 0))) AS u(i)
                GROUP BY 1, 2),
         r2 AS (SELECT id, array_to_string(t[i:i+1], ' ') AS g, count(*) AS rc
                FROM (SELECT id, string_split(ref, ' ') AS t FROM p) s
                CROSS JOIN UNNEST(generate_series(1, greatest(len(t) - 1, 0))) AS u(i)
                GROUP BY 1, 2),
         o2 AS (SELECT coalesce(c2.id, r2.id) AS id,
                       sum(least(coalesce(cc, 0), coalesce(rc, 0))) AS ov,
                       sum(coalesce(cc, 0)) AS ct
                FROM c2 FULL JOIN r2 ON c2.id = r2.id AND c2.g = r2.g
                GROUP BY 1),
         sc AS (SELECT p.id, lens.clen, lens.rlen,
                       CASE WHEN o1.ct > 0 THEN o1.ov::DOUBLE / o1.ct ELSE 0 END AS p1,
                       CASE WHEN o2.ct > 0 THEN o2.ov::DOUBLE / o2.ct ELSE 0 END AS p2
                FROM p JOIN lens ON p.id = lens.id
                LEFT JOIN o1 ON p.id = o1.id
                LEFT JOIN o2 ON p.id = o2.id),
         fin AS (SELECT id, p1, p2,
                        CASE WHEN clen >= rlen THEN 1.0
                             ELSE exp(1.0 - rlen / clen) END AS bp,
                        CASE WHEN p1 > 0 AND p2 > 0 AND clen > 0
                             THEN (CASE WHEN clen >= rlen THEN 1.0
                                        ELSE exp(1.0 - rlen / clen) END)
                                  * exp((ln(p1) + ln(p2)) / 2.0)
                             ELSE 0 END AS bleu
                 FROM sc)
         SELECT id AS doc_id, round(p1, 6) AS bleu_p1, round(p2, 6) AS bleu_p2,
                round(bp, 6) AS brevity_penalty, round(bleu, 6) AS bleu
         FROM fin""",

    "q_activity_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
         g AS (SELECT user_id,
                      day - (row_number() OVER (PARTITION BY user_id
                        ORDER BY day))::INT AS anchor
               FROM d),
         s AS (SELECT user_id, count(*) AS len FROM g GROUP BY user_id, anchor),
         m AS (SELECT user_id, max(len) AS max_streak FROM s GROUP BY user_id)
         SELECT max_streak, count(*) AS n_users FROM m GROUP BY 1""",

    "q_pmi_collocations" ->
      """WITH toks AS (
           SELECT string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
           FROM documents),
         uni AS (SELECT g AS w, count(*) AS uc
                 FROM (SELECT unnest(t) AS g FROM toks) s GROUP BY 1),
         bi AS (SELECT array_to_string(t[i:i+1], ' ') AS gram, count(*) AS n
                FROM toks
                CROSS JOIN UNNEST(generate_series(1, greatest(len(t) - 1, 0))) AS u(i)
                GROUP BY 1),
         tot AS (SELECT (SELECT sum(uc) FROM uni)::DOUBLE AS tu,
                        (SELECT sum(n) FROM bi)::DOUBLE AS tb),
         sc AS (SELECT gram, n,
                       round(ln((n / tb) /
                         ((ua.uc / tu) * (ub.uc / tu))), 6) AS pmi
                FROM bi
                CROSS JOIN tot
                JOIN uni ua ON ua.w = string_split(gram, ' ')[1]
                JOIN uni ub ON ub.w = string_split(gram, ' ')[2]
                WHERE n >= 5)
         SELECT gram, n, pmi FROM sc ORDER BY pmi DESC, gram LIMIT 30""",

    "q_top_other" ->
      """WITH agg AS (
           SELECT o_orderpriority, o_custkey::VARCHAR AS o_custkey,
                  round(sum(o_totalprice), 2) AS measure
           FROM orders GROUP BY 1, 2),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY o_orderpriority
             ORDER BY measure DESC, o_custkey) AS rn
           FROM agg)
         SELECT o_orderpriority, o_custkey, round(measure, 2) AS measure,
                false AS is_other
         FROM r WHERE rn <= 5
         UNION ALL
         SELECT o_orderpriority, '__other__', round(sum(measure), 2), true
         FROM r WHERE rn > 5 GROUP BY 1""",

    "q_twap" ->
      """WITH t AS (
           SELECT user_id, event_id, value, ts,
                  lead(ts) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) AS nxt
           FROM events),
         w AS (SELECT user_id, value,
                      (epoch_us(nxt) - epoch_us(ts))::DOUBLE / 1e6 AS w
               FROM t)
         SELECT user_id, count(*) AS n_ticks,
                round(sum(CASE WHEN w IS NOT NULL THEN w * value END) /
                      sum(CASE WHEN w IS NOT NULL THEN w END), 6) AS twap,
                round(avg(value), 6) AS plain_mean
         FROM w GROUP BY user_id HAVING count(*) >= 2""",

    "q_bootstrap_ci" ->
      """WITH base AS (
           SELECT o_orderkey::VARCHAR AS k, o_totalprice::DOUBLE AS x
           FROM orders),
         reps AS (
           SELECT k, x, i AS rep
           FROM base CROSS JOIN UNNEST(generate_series(1, 200)) AS t(i)),
         wts AS (
           SELECT rep, x,
                  (CAST(('0x' || substr(md5(k || ':' || rep || ':boot'), 1, 13))
                    AS BIGINT) + 1.0) / 4503599627370498.0 AS u
           FROM reps),
         pw AS (
           SELECT rep, x,
                  CASE WHEN u < 0.36787944117144233 THEN 0
                       WHEN u < 0.7357588823428847 THEN 1
                       WHEN u < 0.9196986029286058 THEN 2
                       WHEN u < 0.9810118431238462 THEN 3
                       WHEN u < 0.9963401531726563 THEN 4
                       WHEN u < 0.9994058151824183 THEN 5
                       WHEN u < 0.9999167588507119 THEN 6
                       WHEN u < 0.9999897508033253 THEN 7
                       WHEN u < 0.9999988747969721 THEN 8
                       ELSE 9 END::DOUBLE AS w
           FROM wts),
         means AS (
           SELECT rep, round(sum(w * x) / sum(w), 6) AS m
           FROM pw GROUP BY rep),
         ranked AS (
           SELECT m, row_number() OVER (ORDER BY m) AS rn FROM means),
         stats AS (
           SELECT count(*) AS n_rows, round(avg(x), 6) AS mean FROM base)
         SELECT n_rows, mean,
                (SELECT m FROM ranked WHERE rn = 5) AS ci_lo,
                (SELECT m FROM ranked WHERE rn = 195) AS ci_hi,
                200 AS b
         FROM stats""",

    "q_anova" ->
      """WITH g AS (
           SELECT o_orderpriority AS grp, count(o_totalprice) AS n,
                  avg(o_totalprice) AS m, var_samp(o_totalprice) AS s2
           FROM orders GROUP BY 1),
         tot AS (SELECT sum(n) AS nn, sum(n * m) / sum(n) AS gm,
                        count(*) AS k
                 FROM g),
         agg AS (
           SELECT CAST(k AS BIGINT) AS k_groups,
                  CAST(nn AS BIGINT) AS n_total,
                  sum(n * (m - gm) * (m - gm)) AS ssb,
                  sum((n - 1) * s2) AS ssw
           FROM g CROSS JOIN tot GROUP BY 1, 2)
         SELECT k_groups, n_total,
                round((ssb / (k_groups - 1)) /
                  (CASE WHEN k_groups > 1 AND n_total > k_groups
                             AND ssw > 0
                        THEN ssw / (n_total - k_groups) END), 6)
                  AS f_stat,
                round(ssb / (CASE WHEN ssb + ssw > 0
                             THEN ssb + ssw END), 6) AS eta_sq
         FROM agg""",

    "q_fdr_screen" ->
      """WITH g AS (
           SELECT c_nationkey, count(c_acctbal) AS n,
                  sum(c_acctbal) AS s, sum(c_acctbal * c_acctbal) AS q
           FROM customer GROUP BY 1),
         tot AS (SELECT sum(n) AS tn, sum(s) AS ts, sum(q) AS tq FROM g),
         zt AS (
           SELECT c_nationkey, n, s / n AS mg,
                  (ts - s) / (tn - n) AS mr,
                  (q - s * s / n) / (n - 1) AS vg,
                  ((tq - q) - (ts - s) * (ts - s) / (tn - n))
                    / (tn - n - 1) AS vr,
                  tn - n AS nr
           FROM g CROSS JOIN tot),
         zz AS (
           SELECT c_nationkey, n, mg,
                  (mg - mr) / (CASE WHEN n > 1 AND nr > 1
                                         AND vg / n + vr / nr > 0
                                    THEN sqrt(vg / n + vr / nr) END) AS z
           FROM zt),
         px AS (SELECT c_nationkey, n, mg, z,
                       abs(z) / sqrt(2.0) AS x
                FROM zz),
         ptt AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS tt FROM px),
         pt AS (
           SELECT c_nationkey, n, round(mg, 6) AS mean,
                  round(z, 6) AS z_stat,
                  round(tt * (0.254829592 + tt * (-0.284496736
                    + tt * (1.421413741 + tt * (-1.453152027
                    + tt * 1.061405429)))) * exp(-x * x), 6) AS p_value
           FROM ptt),
         m AS (SELECT count(*) AS m FROM pt),
         ranked AS (
           SELECT pt.*, CAST(row_number() OVER
             (ORDER BY p_value, c_nationkey) AS INTEGER) AS p_rank
           FROM pt),
         ranked2 AS (
           SELECT *, round(p_rank * 0.05 / m, 6) AS bh_crit
           FROM ranked CROSS JOIN m),
         cut AS (SELECT max(CASE WHEN p_value <= bh_crit THEN p_rank
                                 ELSE 0 END) AS c
                 FROM ranked2)
         SELECT c_nationkey, n, mean, z_stat, p_value, p_rank, bh_crit,
                p_rank <= c AS significant
         FROM ranked2 CROSS JOIN cut""",

    "q_jw_pairs" ->
      """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
                round(jaro_winkler_similarity(a.p_name, b.p_name), 6)
                  AS jw
         FROM part a JOIN part b
           ON a.p_brand = b.p_brand
          AND split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
          AND a.p_partkey < b.p_partkey
         WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6)
                 >= 0.88""",

    "q_geo_radius" ->
      """WITH c AS (
           SELECT c_custkey,
             (CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':lat'), 1, 13)) AS BIGINT) + 1.0)
               / 4503599627370498.0 * 120.0 - 60.0 AS c_lat,
             (CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':lon'), 1, 13)) AS BIGINT) + 1.0)
               / 4503599627370498.0 * 360.0 - 180.0 AS c_lon
           FROM customer),
         s AS (
           SELECT s_suppkey,
             (CAST(('0x' || substr(md5(CAST(s_suppkey AS VARCHAR) || ':slat'), 1, 13)) AS BIGINT) + 1.0)
               / 4503599627370498.0 * 120.0 - 60.0 AS s_lat,
             (CAST(('0x' || substr(md5(CAST(s_suppkey AS VARCHAR) || ':slon'), 1, 13)) AS BIGINT) + 1.0)
               / 4503599627370498.0 * 360.0 - 180.0 AS s_lon
           FROM supplier),
         d AS (
           SELECT c_custkey, s_suppkey,
             12742.0 * asin(sqrt(least(
               sin(radians(s_lat - c_lat) / 2) * sin(radians(s_lat - c_lat) / 2)
               + cos(radians(c_lat)) * cos(radians(s_lat))
                 * sin(radians(s_lon - c_lon) / 2) * sin(radians(s_lon - c_lon) / 2),
               1.0))) AS dist
           FROM c CROSS JOIN s)
         SELECT c_custkey, s_suppkey, round(dist, 6) AS dist_km
         FROM d WHERE dist <= 200.0""",

    "q_flesch" ->
      """WITH w AS (
           SELECT doc_id, text,
                  list_filter(string_split_regex(lower(text), '[^a-z]+'),
                    x -> length(x) > 0) AS ws
           FROM documents)
         SELECT doc_id,
                CAST(len(ws) AS INTEGER) AS n_words,
                CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                  AS INTEGER) AS n_sentences,
                CAST(coalesce(list_sum(list_transform(ws,
                  x -> greatest(len(regexp_extract_all(x, '[aeiouy]+')), 1))), 0)
                  AS INTEGER) AS n_syllables,
                round(206.835
                  - 1.015 * (CAST(greatest(len(ws), 1) AS DOUBLE)
                    / CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE))
                  - 84.6 * (CAST(coalesce(list_sum(list_transform(ws,
                      x -> greatest(len(regexp_extract_all(x, '[aeiouy]+')), 1))), 0) AS DOUBLE)
                    / CAST(greatest(len(ws), 1) AS DOUBLE)), 6) AS flesch
         FROM w""",

    "q_interval_overlap" ->
      """WITH o AS (
           SELECT o_orderkey,
                  CAST(datediff('day', DATE '1992-01-01',
                    CAST(o_orderdate AS DATE)) AS BIGINT) AS o_start
           FROM orders),
         ow AS (SELECT o_orderkey, o_start, o_start + 7 AS o_end FROM o),
         sup AS (
           SELECT s_suppkey,
                  1096 + CAST(floor(
                    (CAST(('0x' || substr(md5(CAST(s_suppkey AS VARCHAR) || ':mstart'), 1, 13)) AS BIGINT) + 1.0)
                      / 4503599627370498.0 * 2300.0) AS BIGINT) AS m_start,
                  1 + CAST(floor(
                    (CAST(('0x' || substr(md5(CAST(s_suppkey AS VARCHAR) || ':mlen'), 1, 13)) AS BIGINT) + 1.0)
                      / 4503599627370498.0 * 29.0) AS BIGINT) AS m_len
           FROM supplier),
         sw AS (SELECT s_suppkey, m_start, m_start + m_len AS m_end
                FROM sup)
         SELECT o_orderkey, s_suppkey,
                CAST(least(o_end, m_end) - greatest(o_start, m_start) + 1
                  AS BIGINT) AS overlap
         FROM ow CROSS JOIN sw
         WHERE o_start <= m_end AND m_start <= o_end""",

    "q_clustering_coeff" ->
      """WITH li AS (
           SELECT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE o_orderpriority = '1-URGENT'),
         canon AS MATERIALIZED (
           SELECT DISTINCT x.pk AS a, y.pk AS b
           FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
         deg AS (
           SELECT id, count(*) AS d FROM (
             SELECT a AS id FROM canon
             UNION ALL SELECT b FROM canon) u
           GROUP BY 1),
         tris AS (
           SELECT exy.a AS x, exy.b AS y, eyz.b AS z
           FROM canon exy
           JOIN canon eyz ON exy.b = eyz.a
           JOIN canon exz ON exz.a = exy.a AND exz.b = eyz.b),
         corners AS (
           SELECT x AS id FROM tris
           UNION ALL SELECT y FROM tris
           UNION ALL SELECT z FROM tris),
         cnt AS (SELECT id, count(*) AS tri FROM corners GROUP BY 1)
         SELECT deg.id, d AS degree,
                CAST(coalesce(tri, 0) AS BIGINT) AS n_tri,
                round(CASE WHEN d >= 2
                  THEN coalesce(tri, 0) * 2.0 / (d * (d - 1))
                  ELSE 0.0 END, 6) AS cc
         FROM deg LEFT JOIN cnt ON deg.id = cnt.id""",

    "q_fifo_match" ->
      """WITH li AS (
           SELECT l_partkey, l_orderkey * 10 + l_linenumber AS rid,
                  l_quantity, l_linenumber
           FROM lineitem),
         s AS (
           SELECT l_partkey, rid AS sid,
                  sum(l_quantity) OVER (PARTITION BY l_partkey
                    ORDER BY rid) AS s_hi,
                  sum(l_quantity) OVER (PARTITION BY l_partkey
                    ORDER BY rid) - l_quantity AS s_lo
           FROM li WHERE l_linenumber % 2 = 0),
         d AS (
           SELECT l_partkey, rid AS did,
                  sum(l_quantity) OVER (PARTITION BY l_partkey
                    ORDER BY rid) AS d_hi,
                  sum(l_quantity) OVER (PARTITION BY l_partkey
                    ORDER BY rid) - l_quantity AS d_lo
           FROM li WHERE l_linenumber % 2 = 1),
         m AS (
           SELECT s.l_partkey, sid, did,
                  round(least(s_hi, d_hi) - greatest(s_lo, d_lo), 6)
                    AS matched_qty
           FROM s JOIN d ON s.l_partkey = d.l_partkey
           WHERE s_lo < d_hi AND d_lo < s_hi)
         SELECT l_partkey, sid, did, matched_qty
         FROM m WHERE matched_qty > 0.0""",

    "q_business_days" ->
      """WITH d AS (
           SELECT o_orderkey,
                  datediff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) AS d0
           FROM orders),
         dd AS (SELECT o_orderkey, CAST(d0 AS BIGINT) AS d0,
                       CAST(d0 + 1 + o_orderkey % 20 AS BIGINT) AS d1
                FROM d),
         g AS (
           SELECT o_orderkey, d1 - d0 AS cal_days,
                  (CAST((d1 - d1 % 7) / 7 AS BIGINT) * 5 +
                    CASE d1 % 7 WHEN 0 THEN 0 WHEN 1 THEN 1
                      WHEN 2 THEN 2 WHEN 3 THEN 2 WHEN 4 THEN 2
                      WHEN 5 THEN 3 ELSE 4 END)
                  - (CAST((d0 - d0 % 7) / 7 AS BIGINT) * 5 +
                    CASE d0 % 7 WHEN 0 THEN 0 WHEN 1 THEN 1
                      WHEN 2 THEN 2 WHEN 3 THEN 2 WHEN 4 THEN 2
                      WHEN 5 THEN 3 ELSE 4 END) AS biz_days
           FROM dd)
         SELECT o_orderkey, cal_days, CAST(biz_days AS BIGINT) AS biz_days
         FROM g""",

    "q_decayed_counts" ->
      """WITH mx AS (SELECT max(ts) AS m FROM events)
         SELECT event_type, count(*) AS n,
                round(sum(exp((-ln(2) / 7.0)
                  * ((epoch_us(m) - epoch_us(ts)) / 86400000000.0))), 6)
                  AS decayed_count
         FROM events CROSS JOIN mx
         GROUP BY 1""",

    "q_target_encode" ->
      """WITH base AS (
           SELECT event_id, event_type, value,
                  CAST(floor((CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':te'), 1, 13)) AS BIGINT) + 1.0)
                    / 4503599627370498.0 * 5) AS INTEGER) AS fold
           FROM events),
         cf AS (SELECT event_type, fold, count(*) AS n, sum(value) AS s
                FROM base GROUP BY 1, 2),
         ct AS (SELECT event_type, sum(n) AS cn, sum(s) AS cs
                FROM cf GROUP BY 1),
         gl AS (SELECT sum(value) / count(*) AS g FROM base),
         enc AS (
           SELECT cf.event_type, cf.fold,
                  ((cs - s) + 20.0 * g) / ((cn - n) + 20.0) AS e
           FROM cf JOIN ct USING (event_type) CROSS JOIN gl)
         SELECT b.event_id, b.event_type, b.fold,
                round(e.e, 6) AS target_enc
         FROM base b JOIN enc e
           ON b.event_type = e.event_type AND b.fold = e.fold""",

    "q_woe_iv" ->
      """WITH j AS (
           SELECT c_mktsegment,
                  CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0
                  END AS y
           FROM orders JOIN customer ON o_custkey = c_custkey),
         g AS (SELECT c_mktsegment, count(*) AS n, sum(y) AS n_pos
               FROM j GROUP BY 1),
         tot AS (SELECT sum(n) AS tn, sum(n_pos) AS tp, count(*) AS k
                 FROM g),
         base AS (
           SELECT c_mktsegment, n, n_pos,
                  (n_pos + 0.5) / (tp + 0.5 * k) AS dp,
                  ((n - n_pos) + 0.5) / ((tn - tp) + 0.5 * k) AS dn
           FROM g CROSS JOIN tot),
         iv AS (SELECT round(sum((dp - dn) * ln(dp / dn)), 6)
                  AS iv_total
                FROM base)
         SELECT c_mktsegment, CAST(n AS BIGINT) AS n,
                CAST(n_pos AS BIGINT) AS n_pos,
                round(ln(dp / dn), 6) AS woe,
                round((dp - dn) * ln(dp / dn), 6) AS iv_contrib,
                iv_total
         FROM base CROSS JOIN iv""",

    "q_grid_dbscan" ->
      """WITH RECURSIVE raw AS (
           SELECT c_custkey,
             ((CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':dlat'), 1, 13)) AS BIGINT) + 1.0)
               / 4503599627370498.0 * 120.0 - 60.0) * 0.3 AS lat,
             ((CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || ':dlon'), 1, 13)) AS BIGINT) + 1.0)
               / 4503599627370498.0 * 360.0 - 180.0) * 0.3 AS lon
           FROM customer),
         pts AS (
           SELECT c_custkey,
                  CAST(floor((lon + 180.0) / 2.0) AS BIGINT) * 100000
                    + CAST(floor((lat + 90.0) / 2.0) AS BIGINT) AS cell
           FROM raw),
         counts AS (SELECT cell, count(*) AS n FROM pts GROUP BY 1),
         core AS (SELECT cell FROM counts WHERE n >= 3),
         offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
           (0,1),(1,-1),(1,0),(1,1)),
         edges AS (
           SELECT c.cell AS a, c.cell + dx * 100000 + dy AS b
           FROM core c CROSS JOIN offs
           WHERE EXISTS (SELECT 1 FROM core k
                         WHERE k.cell = c.cell + dx * 100000 + dy)
             AND NOT (dx = 0 AND dy = 0)),
         reach AS (
           SELECT cell AS src, cell AS dst FROM core
           UNION
           SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
         comp AS (SELECT src AS cell, min(dst) AS cluster
                  FROM reach GROUP BY 1),
         corepts AS (
           SELECT p.c_custkey, comp.cluster
           FROM pts p JOIN comp ON p.cell = comp.cell),
         border AS (
           SELECT p.c_custkey, min(comp.cluster) AS cluster
           FROM pts p
           CROSS JOIN offs
           JOIN comp ON comp.cell = p.cell + dx * 100000 + dy
           WHERE p.cell NOT IN (SELECT cell FROM core)
           GROUP BY 1),
         lab AS (SELECT * FROM corepts UNION ALL SELECT * FROM border)
         SELECT p.c_custkey, lab.cluster
         FROM pts p LEFT JOIN lab ON p.c_custkey = lab.c_custkey""",

    "q_conformal" ->
      """WITH tr AS (SELECT event_type, value FROM events
                     WHERE user_id % 4 < 2),
         ca AS (SELECT event_type, value FROM events
                WHERE user_id % 4 = 2),
         te AS (SELECT event_type, value FROM events
                WHERE user_id % 4 = 3),
         pred AS (SELECT event_type, avg(value) AS pred
                  FROM tr GROUP BY 1),
         res AS (SELECT ca.event_type, abs(ca.value - pred.pred) AS res
                 FROM ca JOIN pred USING (event_type)),
         rk AS (SELECT event_type, res,
                       row_number() OVER (PARTITION BY event_type
                         ORDER BY res) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS n
                FROM res),
         q AS (SELECT event_type, n AS n_cal, round(res, 6) AS q_hat
               FROM rk
               WHERE rn = least(CAST(ceil((n + 1) * 0.9) AS BIGINT), n))
         SELECT te.event_type,
                CAST(max(q.n_cal) AS BIGINT) AS n_cal,
                round(max(pred.pred), 6) AS pred,
                max(q.q_hat) AS q_hat,
                count(*) AS n_test,
                round(avg(CASE WHEN abs(te.value - pred.pred) <= q.q_hat
                  THEN 1.0 ELSE 0.0 END), 6) AS coverage
         FROM te
         JOIN pred USING (event_type)
         JOIN q USING (event_type)
         GROUP BY 1""",

    "q_k_anonymity" ->
      """WITH cls AS (
           SELECT c_nationkey, c_mktsegment,
                  floor(c_acctbal / 1000.0) AS bal_band,
                  count(*) AS cs, count(DISTINCT c_acctbal) AS ld
           FROM customer GROUP BY 1, 2, 3)
         SELECT CAST(count(*) AS BIGINT) AS n_classes,
                CAST(sum(cs) AS BIGINT) AS n_rows,
                CAST(sum(CASE WHEN cs < 5 THEN 1 ELSE 0 END) AS BIGINT)
                  AS k_violating_classes,
                CAST(sum(CASE WHEN cs < 5 THEN cs ELSE 0 END) AS BIGINT)
                  AS n_rows_at_risk,
                CAST(min(cs) AS BIGINT) AS min_class_size,
                CAST(sum(CASE WHEN ld < 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS l_violating_classes,
                CAST(min(ld) AS BIGINT) AS min_l_div
         FROM cls""",

    "q_dp_counts" ->
      """WITH g AS (SELECT event_type, count(*) AS n
                    FROM events GROUP BY 1),
         u AS (SELECT event_type, n,
                 (CAST(('0x' || substr(md5(event_type || ':dp9'), 1, 13))
                   AS BIGINT) + 1.0) / 4503599627370498.0 AS u
               FROM g)
         SELECT event_type,
                round(n + (-(1.0 / 1.0) * sign(u - 0.5)
                  * ln(1.0 - 2.0 * abs(u - 0.5))), 6) AS noisy_count
         FROM u""",

    "q_naive_bayes" ->
      """WITH tr AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
         te AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
         trtok AS (
           SELECT lab, tok FROM (
             SELECT lang AS lab,
                    unnest(string_split(trim(regexp_replace(text,
                      '\s+', ' ', 'g')), ' ')) AS tok
             FROM tr) q
           WHERE length(tok) > 0),
         ctl AS MATERIALIZED (
           SELECT lab, tok, count(*) AS ctl FROM trtok GROUP BY 1, 2),
         cl AS (SELECT lab, sum(ctl) AS cl FROM ctl GROUP BY 1),
         v AS (SELECT count(DISTINCT tok) AS v FROM trtok),
         pri AS (SELECT lang AS lab, count(*) AS nd FROM tr GROUP BY 1),
         tot AS (SELECT count(*) AS ndall FROM tr),
         tetok AS (
           SELECT doc_id, tok, count(*) AS k FROM (
             SELECT doc_id,
                    unnest(string_split(trim(regexp_replace(text,
                      '\s+', ' ', 'g')), ' ')) AS tok
             FROM te) q
           WHERE length(tok) > 0
           GROUP BY 1, 2),
         contrib AS (
           SELECT tt.doc_id, c.lab,
                  sum(tt.k * ln((coalesce(x.ctl, 0) + 1.0)
                    / (c.cl + 1.0 * v.v))) AS s
           FROM tetok tt CROSS JOIN cl c CROSS JOIN v
           LEFT JOIN ctl x ON x.lab = c.lab AND x.tok = tt.tok
           GROUP BY 1, 2),
         spine AS (SELECT te.doc_id, c.lab FROM te
                   CROSS JOIN (SELECT lab FROM cl) c),
         scored AS (
           SELECT sp.doc_id, sp.lab,
                  round(ln(pri.nd / ndall) + coalesce(ct.s, 0.0), 6)
                    AS score
           FROM spine sp
           JOIN pri ON sp.lab = pri.lab
           CROSS JOIN tot
           LEFT JOIN contrib ct
             ON ct.doc_id = sp.doc_id AND ct.lab = sp.lab)
         SELECT doc_id, lab AS pred, score
         FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, lab) AS rn
               FROM scored) f
         WHERE rn = 1""",

    "q_normal_scores" ->
      """WITH r AS (
           SELECT event_id, event_type,
                  row_number() OVER (PARTITION BY event_type
                    ORDER BY value, event_id) AS r,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM events),
         x AS (SELECT event_id, event_type,
                      (r - 0.375) / (n + 0.25) AS p
               FROM r),
         y AS (SELECT *, p - 0.5 AS q, (p - 0.5) * (p - 0.5) AS r2,
                      sqrt(-2.0 * ln(p)) AS ql,
                      sqrt(-2.0 * ln(1.0 - p)) AS qh
               FROM x)
         SELECT event_id, event_type,
           round(CASE
             WHEN p > 0.02425 AND p < 1.0 - 0.02425 THEN
               ((((((-3.969683028665376e+01) * r2 + 2.209460984245205e+02) * r2
                 + (-2.759285104469687e+02)) * r2 + 1.383577518672690e+02) * r2
                 + (-3.066479806614716e+01)) * r2 + 2.506628277459239e+00) * q
               / ((((((-5.447609879822406e+01) * r2 + 1.615858368580409e+02) * r2
                 + (-1.556989798598866e+02)) * r2 + 6.680131188771972e+01) * r2
                 + (-1.328068155288572e+01)) * r2 + 1.0)
             WHEN p > 0.0 AND p <= 0.02425 THEN
               ((((((-7.784894002430293e-03) * ql + (-3.223964580411365e-01)) * ql
                 + (-2.400758277161838e+00)) * ql + (-2.549732539343734e+00)) * ql
                 + 4.374664141464968e+00) * ql + 2.938163982698783e+00)
               / ((((7.784695709041462e-03 * ql + 3.224671290700398e-01) * ql
                 + 2.445134137142996e+00) * ql + 3.754408661907416e+00) * ql
                 + 1.0)
             WHEN p >= 1.0 - 0.02425 AND p < 1.0 THEN
               -(((((((-7.784894002430293e-03) * qh + (-3.223964580411365e-01)) * qh
                 + (-2.400758277161838e+00)) * qh + (-2.549732539343734e+00)) * qh
                 + 4.374664141464968e+00) * qh + 2.938163982698783e+00)
               / ((((7.784695709041462e-03 * qh + 3.224671290700398e-01) * qh
                 + 2.445134137142996e+00) * qh + 3.754408661907416e+00) * qh
                 + 1.0))
           END, 6) AS nscore
         FROM y""",

    "q_policy_value" ->
      """WITH e AS (
           SELECT user_id % 4 AS cohort, event_type, value FROM events),
         cnt AS (SELECT cohort, event_type, count(*) AS na
                 FROM e GROUP BY 1, 2),
         tot AS (SELECT cohort, sum(na) AS nc FROM cnt GROUP BY 1),
         prop AS (SELECT cnt.cohort, cnt.event_type, na / nc AS mu
                  FROM cnt JOIN tot ON cnt.cohort = tot.cohort),
         wts AS (
           SELECT e.value,
                  least((CASE e.event_type
                           WHEN 'view' THEN 0.05
                           WHEN 'click' THEN 0.2
                           WHEN 'purchase' THEN 0.6
                           WHEN 'signup' THEN 0.15
                           ELSE 0.0 END) / mu, 10.0) AS w
           FROM e JOIN prop
             ON e.cohort = prop.cohort AND e.event_type = prop.event_type),
         agg AS (SELECT count(*) AS n, sum(w * value) AS swr,
                        sum(w) AS sw, sum(w * w) AS sww
                 FROM wts)
         SELECT n, round(swr / n, 6) AS v_ips,
                round(swr / (CASE WHEN sw > 0 THEN sw END), 6) AS v_snips,
                round(sw * sw / (CASE WHEN sww > 0 THEN sww END), 6) AS ess
         FROM agg""",

    "q_map_k" ->
      """WITH ranked AS (
           SELECT source AS qid, doc_id AS id,
                  CAST(row_number() OVER (PARTITION BY source
                    ORDER BY n_chars DESC, doc_id) AS INTEGER) AS rank
           FROM documents),
         rels AS (
           SELECT source AS qid, doc_id AS id,
                  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS rel
           FROM documents),
         topk AS (
           SELECT r.qid, r.rank,
                  CASE WHEN coalesce(l.rel, 0) > 0 THEN 1 ELSE 0 END AS hit
           FROM ranked r LEFT JOIN rels l
             ON r.qid = l.qid AND r.id = l.id
           WHERE r.rank <= 10),
         cum AS (SELECT qid, rank, hit,
                        sum(hit) OVER (PARTITION BY qid ORDER BY rank) AS c
                 FROM topk),
         ap AS (SELECT qid,
                       coalesce(sum(CASE WHEN hit = 1
                         THEN CAST(c AS DOUBLE) / rank END), 0.0) AS sump
                FROM cum GROUP BY qid),
         nrel AS (SELECT qid, count(*) AS nr FROM rels
                  WHERE rel > 0 GROUP BY qid),
         perq AS (SELECT nrel.qid,
                         coalesce(sump, 0.0) / least(nr, 10) AS apk
                  FROM nrel LEFT JOIN ap ON ap.qid = nrel.qid)
         SELECT 10 AS k, CAST(count(*) AS BIGINT) AS n_queries,
                round(avg(apk), 6) AS map_k
         FROM perq""",

    "q_sssp" ->
      """WITH li AS (
           SELECT l_orderkey AS ok, l_partkey AS pk
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE o_orderpriority = '1-URGENT'),
         e AS MATERIALIZED (
           SELECT x.pk AS a, y.pk AS b, count(*) AS cnt
           FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
           GROUP BY 1, 2),
         und AS MATERIALIZED (
           SELECT a AS src, b AS dst, 1.0::DOUBLE / cnt AS w FROM e
           UNION ALL SELECT b, a, 1.0::DOUBLE / cnt FROM e),
         d0 AS MATERIALIZED (
           SELECT DISTINCT p_partkey AS id, 0.0::DOUBLE AS dist FROM part
           WHERE p_brand = 'Brand#13'),
         r1 AS MATERIALIZED (
           SELECT id, min(dist) AS dist FROM (
             SELECT id, dist FROM d0
             UNION ALL
             SELECT u.dst AS id, d.dist + u.w AS dist
             FROM und u JOIN d0 d ON u.src = d.id) s
           GROUP BY id),
         r2 AS MATERIALIZED (
           SELECT id, min(dist) AS dist FROM (
             SELECT id, dist FROM r1
             UNION ALL
             SELECT u.dst AS id, d.dist + u.w AS dist
             FROM und u JOIN r1 d ON u.src = d.id) s
           GROUP BY id),
         r3 AS (
           SELECT id, min(dist) AS dist FROM (
             SELECT id, dist FROM r2
             UNION ALL
             SELECT u.dst AS id, d.dist + u.w AS dist
             FROM und u JOIN r2 d ON u.src = d.id) s
           GROUP BY id)
         SELECT id, round(dist, 6) AS dist FROM r3"""
  )
}
