package graft

import graft.etl.Layout
import graft.llm.Pii
import graft.operators.{Aggregates, Sessions}
import org.apache.spark.sql.functions._

/** Round-8 operators: PII scrub, sessionization/funnel, Count-Min
  * estimates, Z-order layout. */
class SessionsPiiSpec extends SparkSpec {
  import spark.implicits._

  // ---- PII ----

  test("Pii.mask masks every category and leaves clean text alone") {
    val df = Seq(
      (1L, "contact john.doe+x@mail.example.org today"),
      (2L, "server at 192.168.0.1 rebooted"),
      (3L, "call +1-555-123-4567 or 44-201-555-0199"),
      (4L, "badge 123456789 cleared"),
      (5L, "plain text, digits 12345 under six stay"), // 5 digits: kept
      (6L, "ring +1 555 123 4567 now"))                // space-separated
      .toDF("id", "text")
    val out = Pii.maskDocs(df, "text").orderBy("id")
      .as[(Long, String)].collect().map(_._2)
    assert(out(0) == "contact <EMAIL> today")
    assert(out(1) == "server at <IP> rebooted")
    assert(out(2) == "call <PHONE> or <PHONE>")
    assert(out(3) == "badge <ID> cleared")
    assert(out(4) == "plain text, digits 12345 under six stay")
    assert(out(5) == "ring <PHONE> now")
  }

  test("Pii.mask order: email/ip digits are not double-masked as ids") {
    val df = Seq((1L, "a123456@b.com at 123.456.178.222")).toDF("id", "text")
    val out = Pii.maskDocs(df, "text").as[(Long, String)].collect().head._2
    assert(out == "<EMAIL> at <IP>")
  }

  test("Pii.audit counts per category; report aggregates them") {
    val df = Seq(
      (1L, "a@b.co and c@d.io from 10.0.0.1"),
      (2L, "id 9876543 and 1234567890"),
      (3L, "clean")).toDF("id", "text")
    val audit = Pii.audit(df, "id", "text").orderBy("id").collect()
    assert(audit(0).getAs[Int]("n_email") == 2)
    assert(audit(0).getAs[Int]("n_ipv4") == 1)
    assert(audit(0).getAs[Int]("n_pii") == 3)
    assert(audit(1).getAs[Int]("n_id_number") == 2)
    assert(audit(2).getAs[Int]("n_pii") == 0)
    val byCat = Pii.report(df, "text").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byCat("email") == (1L, 2L))
    assert(byCat("ipv4") == (1L, 1L))
    assert(byCat("id_number") == (1L, 2L))
    assert(byCat("phone") == (0L, 0L))
  }

  test("Pii masking is a map-only plan (no Exchange)") {
    val df = Seq((1L, "x@y.zz")).toDF("id", "text")
    val plan = Pii.maskDocs(df, "text").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("Pii card masking is shape-level; Luhn audit separates validity") {
    val df = Seq(
      (1L, "pay 4111-1111-1111-1111 now"),  // valid, separated
      (2L, "pan 4111111111111112 bad"),     // card-shaped, Luhn-invalid
      (3L, "amex 378282246310005 ok"),      // 15-digit valid
      (4L, "short 12345 and id 987654321")) // no card shapes
      .toDF("id", "text")
    val masked = Pii.maskDocs(df, "text").orderBy("id")
      .as[(Long, String)].collect().map(_._2)
    assert(masked(0) == "pay <CARD> now")
    assert(masked(1) == "pan <CARD> bad") // over-masking is the safe side
    assert(masked(2) == "amex <CARD> ok")
    assert(masked(3) == "short 12345 and id <ID>") // 9 digits: id, not card
    val audit = Pii.luhnAudit(df, "id", "text").orderBy("id")
      .as[(Long, Int, Int)].collect().map(a => (a._2, a._3)).toSeq
    assert(audit == Seq((1, 1), (1, 0), (1, 1), (0, 0)))
  }

  test("pseudonymize: join-consistent tokens, secret-dependent, non-identity") {
    val a = Seq(1L, 2L, 3L).toDF("uid")
    val b = Seq(2L, 3L, 4L).toDF("uid")
    val pa = Pii.pseudonymizeCols(a, "s1", Seq("uid"))
    val pb = Pii.pseudonymizeCols(b, "s1", Seq("uid"))
    // same secret: the raw intersection {2,3} survives as a 2-row join
    assert(pa.join(pb, Seq("uid")).count() == 2)
    // different secret: no accidental collisions with s1's tokens
    val pb2 = Pii.pseudonymizeCols(b, "s2", Seq("uid"))
    assert(pa.join(pb2, Seq("uid")).count() == 0)
    // tokens are 64-hex-char digests, never the raw value
    val toks = pa.as[String].collect()
    assert(toks.forall(t => t.length == 64 && t.matches("[0-9a-f]+")))
    assert(toks.toSet.size == 3)
  }

  test("skewReport flags a hot key; shares sum correctly") {
    import graft.operators.Aggregates
    val rows = Seq.fill(90)("hot") ++ (1 to 10).map(i => s"k$i")
    val r = Aggregates.skewReport(rows.toDF("key"), "key", topK = 3)
      .collect().head
    assert(r.getAs[Long]("n_rows") == 100 && r.getAs[Long]("n_keys") == 11)
    assert(math.abs(r.getAs[Double]("max_share") - 0.9) < 1e-9)
    assert(math.abs(r.getAs[Double]("top3_share") - 0.92) < 1e-9)
  }

  test("Pii masking runs unchanged on a live stream (parity)") {
    // the scrub is a stateless projection, so the same maskDocs call
    // works at ingest time — PII never reaches the bronze layer
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val incoming = Seq(
      (1L, "mail a@b.co from 10.0.0.7"),
      (2L, "badge 987654321 plain"))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val streamed = Pii.maskDocs(mem.toDF().toDF("id", "text"), "text")
    val q = streamed.writeStream.format("memory")
      .queryName("pii_screen_out").outputMode("append").start()
    try {
      mem.addData(incoming: _*)
      q.processAllAvailable()
      val got = spark.table("pii_screen_out")
        .as[(Long, String)].collect().toMap
      val want = Pii.maskDocs(incoming.toDF("id", "text"), "text")
        .as[(Long, String)].collect().toMap
      assert(got == want)
      assert(got(1L) == "mail <EMAIL> from <IP>")
      assert(got(2L) == "badge <ID> plain")
    } finally q.stop()
  }

  // ---- Sessionization ----

  test("sessionize breaks sessions at the gap and numbers them per key") {
    def ts(m: Int) = new java.sql.Timestamp(m * 60000L)
    val df = Seq(
      ("u1", ts(0), 1L), ("u1", ts(10), 2L), ("u1", ts(100), 3L),
      ("u1", ts(105), 4L), ("u2", ts(0), 5L))
      .toDF("user", "ts", "eid")
    val out = Sessions.sessionize(df, "user", "ts", 1800, Seq(col("eid")))
      .orderBy("eid").select("session_seq").as[Long].collect()
    // gap 30 min: u1 events at 0,10 -> session 1; 100,105 -> session 2
    assert(out.toSeq == Seq(1L, 1L, 2L, 2L, 1L))
  }

  test("sessionStats rolls up counts, bounds and duration") {
    def ts(m: Int) = new java.sql.Timestamp(m * 60000L)
    val df = Seq(
      ("u1", ts(0), 1L), ("u1", ts(10), 2L), ("u1", ts(100), 3L))
      .toDF("user", "ts", "eid")
    val out = Sessions.sessionStats(df, "user", "ts", 1800, Seq(col("eid")))
      .orderBy("session_seq")
      .select("session_seq", "n_events", "duration_s")
      .as[(Long, Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L, 600L), (2L, 1L, 0L)))
  }

  test("sessionize boundary: a gap of exactly gapSeconds does NOT break") {
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val df = Seq(("u", ts(0), 1L), ("u", ts(1800), 2L), ("u", ts(3601), 3L))
      .toDF("user", "ts", "eid")
    val out = Sessions.sessionize(df, "user", "ts", 1800, Seq(col("eid")))
      .orderBy("eid").select("session_seq").as[Long].collect()
    assert(out.toSeq == Seq(1L, 1L, 2L))
  }

  test("sessionize plans exactly one Exchange (stats reuse the partitioning)") {
    def ts(m: Int) = new java.sql.Timestamp(m * 60000L)
    val df = Seq(("u1", ts(0), 1L)).toDF("user", "ts", "eid")
    val plan = Sessions.sessionStats(df, "user", "ts", 1800, Seq(col("eid")))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, plan)
  }

  test("batch gap sessionization == session_window grouping (parity)") {
    // Sessions.sessionize and Spark's session_window implement the
    // same gap semantics (they differ only at a gap of EXACTLY the
    // threshold — merge vs split — unobservable at microsecond
    // timestamps), so the batch operator and the streaming-capable
    // aggregation must produce identical (key, start, count) sessions
    // on the real events table
    val e = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val batch = Sessions.sessionStats(e, "user_id", "ts", 1800,
        Seq(col("event_id")))
      .select(col("user_id"), col("sess_start"), col("n_events"))
    val sw = graft.streaming.StreamOps.sessionAgg("ts", "30 minutes",
        Seq("user_id"), Seq(count(lit(1)).as("n_events")))(e)
      .select(col("user_id"), col("session_start").as("sess_start"),
        col("n_events"))
    assert(batch.count() > 0)
    assert(batch.except(sw).count() == 0 && sw.except(batch).count() == 0)
  }

  // ---- Funnel ----

  test("funnel steps only count strictly-after completions") {
    def ts(m: Int) = new java.sql.Timestamp(m * 60000L)
    val df = Seq(
      // u1 completes view -> click -> purchase in order
      ("u1", ts(0), "view"), ("u1", ts(1), "click"), ("u1", ts(2), "purchase"),
      // u2's purchase precedes its click: stops at click
      ("u2", ts(0), "view"), ("u2", ts(2), "click"), ("u2", ts(1), "purchase"),
      // u3 never views: contributes nothing
      ("u3", ts(0), "click"), ("u3", ts(1), "purchase"))
      .toDF("user", "ts", "etype")
    val out = Sessions.funnelSummary(df, "user", "ts", "etype",
      Seq("view", "click", "purchase"))
      .orderBy("step_idx").select("n_keys").as[Long].collect()
    assert(out.toSeq == Seq(2L, 2L, 1L))
  }

  test("funnelTimes picks the FIRST qualifying time per step") {
    def ts(m: Int) = new java.sql.Timestamp(m * 60000L)
    val df = Seq(
      ("u", ts(5), "view"), ("u", ts(1), "view"),
      ("u", ts(3), "click"), ("u", ts(9), "click"))
      .toDF("user", "ts", "etype")
    val r = Sessions.funnelTimes(df, "user", "ts", "etype",
      Seq("view", "click")).collect().head
    assert(r.getTimestamp(1).getTime == 60000L)  // first view at t=1
    assert(r.getTimestamp(2).getTime == 180000L) // first click after it: t=3
  }

  test("funnel chains k steps over ONE Exchange") {
    def ts(m: Int) = new java.sql.Timestamp(m * 60000L)
    val df = Seq(("u", ts(0), "view")).toDF("user", "ts", "etype")
    val plan = Sessions.funnelTimes(df, "user", "ts", "etype",
      Seq("view", "click", "purchase"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, plan)
  }

  // ---- Data-quality rules ----

  test("QualityRules: metrics and pass flags on a known-dirty fixture") {
    import graft.etl.QualityRules._
    val df = Seq(
      (Some(1), Some("A-1"), 10.0), (Some(2), Some("B-2"), 20.0),
      (Some(2), None, 300.0), (None, Some("bad"), -5.0))
      .toDF("k", "tag", "v")
    val ref = Seq(1, 2, 3).toDF("rk")
    val out = check(df, Seq(
      NotNull("k", maxNullFrac = 0.3),     // 1/4 null -> pass
      NotNull("tag"),                       // 1/4 null -> fail
      InRange("v", 0, 100, minFrac = 0.5),  // 2/4 in range -> pass
      Matches("tag", "^[A-Z]-"),           // 2/4 match -> fail at 1.0
      Unique("k"),                          // 3 distinct / 4 -> fail
      RefIntegrity("k", ref, "rk")))        // all non-null k in ref -> pass
      .orderBy("rule_idx")
      .select("rule", "metric", "pass")
      .as[(String, Double, Boolean)].collect().toSeq
    assert(out == Seq(
      ("not_null", 0.25, true),
      ("not_null", 0.25, false),
      ("in_range", 0.5, true),
      ("matches", 0.5, false),
      ("unique", 0.75, false),
      ("ref_integrity", 1.0, true)))
  }

  test("QualityRules: orphan keys fail referential integrity") {
    import graft.etl.QualityRules._
    val df = Seq(1, 2, 9).toDF("k")
    val ref = Seq(1, 2).toDF("rk")
    val r = check(df, Seq(RefIntegrity("k", ref, "rk"))).collect().head
    assert(math.abs(r.getAs[Double]("metric") - 0.666667) < 1e-6)
    assert(!r.getAs[Boolean]("pass"))
  }

  test("QualityRules: row-local + unique rules plan a single scan") {
    import graft.etl.QualityRules._
    val df = Seq((1, 5.0), (2, 6.0)).toDF("k", "v")
    val plan = check(df, Seq(NotNull("k"), InRange("v", 0, 10),
      Unique("k"))).queryExecution.executedPlan.toString
    val scans = "LocalTableScan".r.findAllIn(plan).size
    assert(scans == 1, s"expected one scan of the input:\n$plan")
  }

  test("QualityRules.anomalyGate flags metric drift against history") {
    import graft.etl.QualityRules._
    val history = Seq(
      ("not_null", "k", 0.10), ("not_null", "k", 0.11),
      ("not_null", "k", 0.09), ("unique", "k", 1.0),
      ("unique", "k", 1.0)).toDF("rule", "col_name", "metric")
    val steady = Seq(("not_null", "k", 0.10), ("unique", "k", 1.0))
      .toDF("rule", "col_name", "metric")
    val drifted = Seq(("not_null", "k", 0.55), ("unique", "k", 1.0))
      .toDF("rule", "col_name", "metric")
    def flags(cur: org.apache.spark.sql.DataFrame) =
      anomalyGate(history, cur).orderBy("rule")
        .select("anomaly").as[Boolean].collect().toSeq
    assert(flags(steady) == Seq(false, false))
    assert(flags(drifted) == Seq(true, false))
    // constant-history metric (stddev 0): exact repeat is NOT an
    // anomaly (epsilon absorbs float jitter)
    val exact = Seq(("unique", "k", 1.0)).toDF("rule", "col_name", "metric")
    assert(anomalyGate(history, exact).select("anomaly")
      .as[Boolean].collect().toSeq == Seq(false))
  }

  test("QualityRules.check runs unchanged per micro-batch (streaming)") {
    import graft.etl.QualityRules._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Option[Int], Double)]
    val reports = scala.collection.mutable.ArrayBuffer[(Long, String, Boolean)]()
    val q = mem.toDF().toDF("k", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        check(batch, Seq(NotNull("k"), InRange("v", 0, 100)))
          .select("rule", "pass").collect()
          .foreach(r => reports.synchronized {
            reports += ((id, r.getString(0), r.getBoolean(1)))
          })
        ()
      }.start()
    try {
      mem.addData((Some(1), 5.0), (Some(2), 6.0))
      q.processAllAvailable()
      mem.addData((None, 500.0))
      q.processAllAvailable()
    } finally q.stop()
    val byBatch = reports.groupBy(_._1).view
      .mapValues(_.map(x => (x._2, x._3)).toSet).toMap
    assert(byBatch(0L) == Set(("not_null", true), ("in_range", true)))
    assert(byBatch(1L) == Set(("not_null", false), ("in_range", false)))
  }

  test("compactTo merges small files to the byte target, preserving data") {
    import graft.etl.Layout
    val in = tmpDir("compact_in")
    val out = tmpDir("compact_out")
    val df = spark.range(20000).toDF("id")
      .withColumn("v", col("id") * 2)
    df.repartition(64).write.mode("overwrite").parquet(in)
    val inFiles = new java.io.File(in).listFiles
      .count(f => f.getName.endsWith(".parquet"))
    assert(inFiles == 64)
    val totalBytes = new java.io.File(in).listFiles
      .filter(f => f.getName.endsWith(".parquet")).map(_.length).sum
    val n = Layout.compactTo(spark, in, out, targetBytes = totalBytes / 4)
    val outFiles = new java.io.File(out).listFiles
      .count(f => f.getName.endsWith(".parquet"))
    assert(outFiles == n && n >= 3 && n <= 6, s"got $n files")
    // data preserved exactly
    val a = spark.read.parquet(in).orderBy("id").collect()
    val b = spark.read.parquet(out).orderBy("id").collect()
    assert(a.sameElements(b))
    // sortCols variant re-clusters: per-file id ranges must not overlap
    val out2 = tmpDir("compact_out2")
    Layout.compactTo(spark, in, out2, totalBytes / 4, sortCols = Seq("id"))
    val stats = Layout.partitionStats(spark.read.parquet(out2), Seq("id"),
        Some(input_file_name()))
      .collect().map(r => (r.getAs[Long]("mn_id"), r.getAs[Long]("mx_id")))
      .sortBy(_._1)
    assert(stats.length >= 3)
    stats.sliding(2).foreach {
      case Array((_, aMax), (bMin, _)) => assert(aMax < bMin)
      case _ =>
    }
  }

  test("compactTo sizes a partitionBy layout recursively") {
    import graft.etl.Layout
    val in = tmpDir("compact_part_in")
    val out = tmpDir("compact_part_out")
    val df = spark.range(20000).toDF("id")
      .withColumn("k", (col("id") % 4).cast("int"))
      .withColumn("v", col("id") * 2)
    df.repartition(16).write.mode("overwrite").partitionBy("k").parquet(in)
    def bytes(f: java.io.File): Long =
      if (f.isFile) { if (f.getName.endsWith(".parquet")) f.length else 0L }
      else f.listFiles.map(bytes).sum
    val total = bytes(new java.io.File(in))
    assert(total > 0)
    // a flat listing sized the nested data files at 0 bytes and
    // collapsed the table to ONE file regardless of targetBytes
    val n = Layout.compactTo(spark, in, out, targetBytes = total / 4)
    assert(n >= 3, s"partitioned input mis-sized: compacted to $n files")
    val a = spark.read.parquet(in).select("id", "v", "k")
      .orderBy("id").collect()
    val b = spark.read.parquet(out).select("id", "v", "k")
      .orderBy("id").collect()
    assert(a.sameElements(b))
  }

  test("zorderSlices: slice ids stay in range at bits*dims = 62") {
    import graft.etl.Layout
    // bits=31 x 2 dims: the old __z * slices multiply overflowed long
    // for z-values in the top slices, casting them to NEGATIVE ids
    val df = spark.range(200).toDF("x")
      .withColumn("y", (col("x") * 37) % 200)
    val ids = Layout.zorderSlices(df, Seq("x", "y"), slices = 16,
        bits = 31)
      .select("__zslice").distinct().collect().map(_.getInt(0))
    assert(ids.forall(i => i >= 0 && i < 16),
      s"out-of-range slice ids: ${ids.sorted.mkString(",")}")
    assert(ids.length > 1, "expected multiple slices")
  }

  test("weighted takes fail loudly on non-positive weights") {
    import graft.operators.Relational
    val df = spark.range(10).toDF("id")
      .withColumn("w", when(col("id") === 7, lit(0.0)).otherwise(lit(1.0)))
    val ex = intercept[Exception] {
      Relational.weightedTake(df, col("id"), col("w"), 5).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(chain(ex).exists(_.contains("strictly positive")),
      s"wrong failure: ${chain(ex).mkString(" | ")}")
  }

  // ---- PageRank ----

  test("pageRank matches a reference power iteration incl. dangling mass") {
    forEachBroadcastThreshold {
      val edges = Seq(("A", "B", 1.0), ("A", "D", 1.0), ("B", "C", 1.0),
        ("C", "A", 1.0)).toDF("src", "dst", "weight")
      val got = graft.operators.Graph.pageRank(edges, 10, 0.85)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      // reference: driver-side power iteration with the same semantics
      // (D has no out-edges — its mass redistributes uniformly)
      val nodes = Seq("A", "B", "C", "D")
      val out = Map("A" -> Seq(("B", 0.5), ("D", 0.5)),
        "B" -> Seq(("C", 1.0)), "C" -> Seq(("A", 1.0)))
      var rank = nodes.map(_ -> 0.25).toMap
      for (_ <- 1 to 10) {
        val dang = rank("D")
        val contrib = scala.collection.mutable.Map(nodes.map(_ -> 0.0): _*)
        for ((s, outs) <- out; (d2, p) <- outs) contrib(d2) += rank(s) * p
        rank = nodes.map(n =>
          n -> (0.15 / 4 + 0.85 * (contrib(n) + dang / 4))).toMap
      }
      nodes.foreach(n =>
        assert(math.abs(got(n) - rank(n)) < 1e-9, s"node $n: ${got(n)} vs ${rank(n)}"))
      // total rank is conserved (teleport + dangling redistribution)
      assert(math.abs(got.values.sum - 1.0) < 1e-9)
    }
  }

  test("allocateToDays: midnight-spanning interval splits exactly, zero-length kept") {
    import java.sql.Timestamp
    val df = Seq(
      // 23:00 -> 01:30 next day: 1h on day 1, 1.5h on day 2
      (Timestamp.valueOf("2024-03-01 23:00:00"),
        Timestamp.valueOf("2024-03-02 01:30:00")),
      // zero-length: one day row, overlap 0
      (Timestamp.valueOf("2024-03-05 10:00:00"),
        Timestamp.valueOf("2024-03-05 10:00:00")))
      .toDF("s", "e")
    val out = graft.operators.Sessions.allocateToDays(df, "s", "e")
      .select(date_format(col("day"), "yyyy-MM-dd").as("d"), col("overlap_us"))
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      ("2024-03-01", 3600L * 1000000),
      ("2024-03-02", 5400L * 1000000),
      ("2024-03-05", 0L)))
    // allocation conserves total duration
    val total = out.filter(_._1.startsWith("2024-03-0")).map(_._2).sum
    assert(total == (3600L + 5400L) * 1000000)
    // map-only: no Exchange in the allocation itself
    val plan = graft.operators.Sessions.allocateToDays(df, "s", "e")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("labelPropagation: bridged cliques settle into two communities") {
    // cliques {1,2,3} and {10,11,12} joined by one bridge edge 3-10;
    // 3 synchronous rounds with smallest-label ties must put each
    // clique in one community and keep the cliques apart
    forEachBroadcastThreshold {
      val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
        (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L))
        .toDF("id_a", "id_b")
      val got = graft.operators.Graph.labelPropagation(edges, 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.keySet == Set(1L, 2L, 3L, 10L, 11L, 12L))
      assert(Set(got(1L), got(2L), got(3L)).size == 1)
      assert(Set(got(10L), got(11L), got(12L)).size == 1)
      assert(got(1L) != got(10L))
    }
  }

  test("labelPropagation: string node ids keep smallest-label ties") {
    // a 4-cycle with string ids: every neighborhood is a 2-way tie,
    // so the result is ENTIRELY tie-breaks — any null-casting in the
    // tie-break struct would make this nondeterministic
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
      .toDF("id_a", "id_b")
    val got = graft.operators.Graph.labelPropagation(edges, 2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // round 1 (all ties -> smallest neighbor): a:{b,d}->b, b:{a,c}->a,
    // c:{b,d}->b, d:{c,a}->a
    // round 2 on (a->b, b->a, c->b, d->a): a:{l(b),l(d)}={a,a}->a,
    // b:{l(a),l(c)}={b,b}->b, c:{l(b),l(d)}={a,a}->a,
    // d:{l(c),l(a)}={b,b}->b
    assert(got == Map("a" -> "a", "b" -> "b", "c" -> "a", "d" -> "b"), got)
  }

  test("labelPropagation is deterministic and direction/dup-insensitive") {
    val e1 = Seq((5L, 6L), (6L, 7L), (7L, 8L)).toDF("id_a", "id_b")
    // reversed directions plus duplicate edges — same graph
    val e2 = Seq((6L, 5L), (7L, 6L), (8L, 7L), (5L, 6L))
      .toDF("id_a", "id_b")
    val r1 = graft.operators.Graph.labelPropagation(e1, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val r2 = graft.operators.Graph.labelPropagation(e2, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(r1 == r2 && r1.map(_._1) == Seq(5L, 6L, 7L, 8L))
  }

  test("pageRank: heavier in-links rank higher on a weighted star") {
    // hub h links to a with weight 9 and b with weight 1
    val edges = Seq(("h", "a", 9.0), ("h", "b", 1.0), ("a", "h", 1.0),
      ("b", "h", 1.0)).toDF("src", "dst", "weight")
    val got = graft.operators.Graph.pageRank(edges, 10, 0.85)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("a") > got("b"))
  }

  test("hits matches a reference mutual-reinforcement iteration") {
    forEachBroadcastThreshold {
      val edges = Seq(("s1", "p1", 2.0), ("s1", "p2", 1.0), ("s2", "p1", 1.0))
        .toDF("src", "dst", "weight")
      val got = graft.operators.Graph.hits(edges, 4)
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
        .toMap
      // driver-side reference with identical semantics (raw rounds,
      // single end normalization — scalar norms can't change direction)
      val out = Map("s1" -> Seq(("p1", 2.0), ("p2", 1.0)),
        "s2" -> Seq(("p1", 1.0)))
      val nodes = Seq("s1", "s2", "p1", "p2")
      var h = nodes.map(_ -> 1.0).toMap
      var a = Map.empty[String, Double]
      for (_ <- 1 to 4) {
        a = nodes.map(n => n -> out.toSeq.flatMap { case (s, es) =>
          es.collect { case (d, w) if d == n => w * h(s) } }.sum).toMap
        h = nodes.map(n => n -> out.getOrElse(n, Nil)
          .map { case (d, w) => w * a(d) }.sum).toMap
      }
      val an = math.sqrt(a.values.map(v => v * v).sum)
      val hn = math.sqrt(h.values.map(v => v * v).sum)
      a = a.map { case (n, v) => n -> (if (an > 0) v / an else 0.0) }
      h = h.map { case (n, v) => n -> (if (hn > 0) v / hn else 0.0) }
      nodes.foreach { n =>
        assert(math.abs(got(n)._1 - h(n)) < 1e-9, s"hub $n")
        assert(math.abs(got(n)._2 - a(n)) < 1e-9, s"auth $n")
      }
      // bipartite role separation: sources have no authority, sinks no hub
      assert(got("s1")._2 == 0.0 && got("p1")._1 == 0.0)
      // the heavier-linked part is the stronger authority
      assert(got("p1")._2 > got("p2")._2)
    }
  }

  test("stratifiedWeightedTake: exact k per stratum, agrees with global scorer") {
    import graft.operators.Relational
    val df = (0 until 300).map(i => (s"s${i % 3}", i.toLong,
      if (i % 2 == 0) 10.0 else 1.0)).toDF("src", "id", "w")
    val out = Relational.stratifiedWeightedTake(df, col("src"), col("id"),
      col("w"), 20)
    val per = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(per.values.forall(_ == 20) && per.size == 3)
    // short strata keep everything
    val short = Relational.stratifiedWeightedTake(df.filter(col("id") < 5),
      col("src"), col("id"), col("w"), 20)
    assert(short.count() == 5)
    // where a stratum's budget doesn't bind, the kept set is exactly
    // the global scorer's choice restricted to that stratum
    val justS0 = df.filter(col("src") === "s0")
    val global = Relational.weightedTake(justS0, col("id"), col("w"), 20)
      .select("id").as[Long].collect().toSet
    val strat = Relational.stratifiedWeightedTake(justS0, col("src"),
      col("id"), col("w"), 20).select("id").as[Long].collect().toSet
    assert(global == strat)
  }

  // ---- Count-Min ----

  test("countMinEstimates honors the CM guarantee on a known stream") {
    val items = Seq.fill(500)("hot") ++ (1 to 300).map(i => s"t$i")
    val df = items.toDF("item")
    val out = Aggregates.countMinEstimates(df, "item",
      Seq("hot", "t1", "absent"), eps = 0.01, confidence = 0.99)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = items.size
    assert(out("hot") >= 500 && out("hot") <= 500 + (0.01 * n).toLong + 1)
    assert(out("t1") >= 1)
    assert(out("absent") <= (0.01 * n).toLong + 1) // never underestimates 0's true count... but may collide
  }

  // ---- Accent folding ----

  test("accent_fold: strip_accents semantics, Hangul recompose, ascii fast path") {
    import graft.plans.UnicodeNormExpr.accentFold
    val df = Seq(
      "áéíóü çñ Café",      // composed diacritics fold away
      "café",          // decomposed combining mark folds too
      "ø Ω ﬁ",              // non-decomposables pass through
      "한",              // 한: NFD->Jamo must recompose to 한
      "plain ascii", "").toDF("t")
    val out = df.select(col("t"), accentFold(col("t")).as("f"))
      .as[(String, String)].collect().toMap
    assert(out("áéíóü çñ Café") == "aeiou cn Cafe")
    assert(out("café") == "cafe")
    assert(out("ø Ω ﬁ") == "ø Ω ﬁ")
    assert(out("한") == "한")
    assert(out("plain ascii") == "plain ascii")
    assert(out("") == "")
    // codegen == interpreted
    def run(): Array[String] =
      df.select(accentFold(col("t"))).as[String].collect()
    val gen = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(run().toSeq == gen.toSeq)
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // dedup consequence: accented and plain spellings share a
    // fingerprint only after folding
    val fp = Seq((1L, "Café"), (2L, "Cafe")).toDF("id", "t")
    val raw = fp.select(graft.functions.Text.fingerprint(col("t"))
      .cast("string").as("f")).as[String].collect()
    assert(raw(0) != raw(1))
    val folded = fp.select(graft.functions.Text.fingerprint(
      accentFold(col("t"))).cast("string").as("f")).as[String].collect()
    assert(folded(0) == folded(1))
  }

  test("round-9 kernels register as SQL functions (repetition/quantize/qcosine)") {
    graft.plans.GraftExtensions.registerInto(spark)
    // output slots: [top2, top3, top4, dup5..dup10, alpha_frac]
    val rep = spark.sql(
      "SELECT repetition_stats('a b a b a b')[0] AS f")
      .collect().head.getDouble(0)
    assert(rep > 0.5, s"ab-repeated text must flag top-2gram mass, got $rep")
    val qc = spark.sql(
      """SELECT quantized_cosine(
           quantize_int8(array(CAST(1.0 AS DOUBLE), CAST(0.5 AS DOUBLE))),
           quantize_int8(array(CAST(1.0 AS DOUBLE), CAST(0.5 AS DOUBLE))))
           AS c""")
      .collect().head.getDouble(0)
    assert(math.abs(qc - 1.0) < 1e-6, s"self-cosine must be ~1, got $qc")
  }

  test("accent_fold registers as a SQL function") {
    graft.plans.GraftExtensions.registerInto(spark)
    val r = spark.sql("SELECT accent_fold('Ångström ñ') AS f")
      .as[String].collect().head
    assert(r == "Angstrom n")
  }

  // ---- Retention cohorts ----

  test("retentionCohorts: weekly cohorts, offsets and rates") {
    def ts(day: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf(f"2024-01-${day}%02d 12:00:00").getTime)
    // 2024-01-01 is a Monday: week boundaries at 01, 08, 15
    val df = Seq(
      ("a", ts(1)), ("a", ts(9)),            // cohort W1, active W1+W2
      ("b", ts(2)),                           // cohort W1, only W1
      ("c", ts(8)), ("c", ts(16)), ("c", ts(17))) // cohort W2, active W2+W3
      .toDF("user", "ts")
    val out = Sessions.retentionCohorts(df, "user", "ts")
      .orderBy("cohort", "period_offset")
      .select("cohort", "period_offset", "n_active", "cohort_size", "retention")
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      ("2024-01-01", 0L, 2L, 2L, 1.0),
      ("2024-01-01", 1L, 1L, 2L, 0.5),
      ("2024-01-08", 0L, 1L, 1L, 1.0),
      ("2024-01-08", 1L, 1L, 1L, 1.0)))
  }

  // ---- Z-order ----

  test("zValue interleaves: both dims influence the key, corners ordered") {
    val df = Seq((0, 0), (255, 255), (0, 255), (255, 0))
      .toDF("x", "y")
    val z = Layout.zValue(df, Seq("x", "y"), bits = 8)
      .select("x", "y", "__z").as[(Int, Int, Long)].collect()
      .map { case (x, y, zv) => (x, y) -> zv }.toMap
    assert(z((0, 0)) == 0L)
    assert(z((255, 255)) == (1L << 16) - 1)
    // mixed corners land strictly between the extremes
    assert(z((0, 255)) > 0 && z((0, 255)) < (1L << 16) - 1)
    assert(z((255, 0)) > 0 && z((255, 0)) < (1L << 16) - 1)
  }

  test("z-order slices prune the non-leading dimension; linear cannot") {
    val rows = for { x <- 0 until 64; y <- 0 until 64 } yield (x, y)
    val df = rows.toDF("x", "y")
    val parts = 16
    val zed = Layout.zorderSlices(df, Seq("x", "y"), parts, bits = 6)
    val lin = Layout.zorderSlices(df, Seq("x"), parts, bits = 6)
    def hitFrac(laid: org.apache.spark.sql.DataFrame): Double = {
      val st = Layout.partitionStats(laid, Seq("y"),
        Some(col("__zslice"))).collect()
      st.count(r => r.getAs[Int]("mn_y") <= 20 && r.getAs[Int]("mx_y") >= 16)
        .toDouble / st.length
    }
    val (zf, lf) = (hitFrac(zed), hitFrac(lin))
    assert(lf == 1.0, s"linear-by-x must touch every slice for a y-box, got $lf")
    // 16 slices of a 12-bit z = 16x16 tiles; a 5-wide y-box crosses
    // one tile row = 4/16 of them
    assert(zf <= 0.25, s"z-order should prune the y-box to <=25% of slices, got $zf")
  }

  test("touchAttribution: last/first touch split, untouched conversions go direct") {
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val df = Seq(
      (1L, ts(1), "click", 0.0, 10L),
      (1L, ts(2), "view", 0.0, 11L),
      (1L, ts(3), "purchase", 10.0, 12L),
      (1L, ts(4), "purchase", 5.0, 13L),
      (2L, ts(1), "purchase", 7.0, 20L))
      .toDF("user_id", "t", "event_type", "value", "event_id")
    val out = Sessions.touchAttribution(df, "user_id", "t", "event_type",
      "purchase", Seq(col("event_id")))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_conversions"), r.getAs[Double]("attributed_value")))
      .toMap
    // user 1's two purchases: last touch = view, first touch = click;
    // user 2 converted cold -> direct under both models
    assert(out(("last_touch", "view")) == (2L, 15.0))
    assert(out(("first_touch", "click")) == (2L, 15.0))
    assert(out(("last_touch", "direct")) == (1L, 7.0))
    assert(out(("first_touch", "direct")) == (1L, 7.0))
    assert(out.size == 4)
  }

  test("triangleCount: K4 plus a dangling path, robust to dup/reversed/self edges") {
    import graft.operators.Graph
    // K4 on 1..4 (4 triangles, 6 edges, 12 wedges) + path 4-5-6 (no
    // new triangles); inputs arrive messy: duplicates, both
    // directions, a self-loop
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (2L, 1L), (3L, 1L), // reversed duplicates
      (4L, 5L), (5L, 6L), (5L, 5L)) // path + self-loop
      .toDF("id_a", "id_b")
    val r = Graph.triangleCount(edges).collect().head
    assert(r.getAs[Long]("n_nodes") == 6L)
    assert(r.getAs[Long]("n_edges") == 8L)
    assert(r.getAs[Long]("n_triangles") == 4L, r.toString)
    // wedges: degs are (3,3,3,4,2,1) -> 3+3+3+6+1+0 = 16
    assert(r.getAs[Long]("n_wedges") == 16L)
    assert(r.getAs[Double]("global_clustering") == 0.75)
  }

  test("rollingActive: exact windowed distinct users, silent days not reported") {
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 08:00:00")
    val df = Seq(
      (1L, ts(1)), (1L, ts(1)), // same user twice on day 1
      (2L, ts(3)), (1L, ts(3)),
      (3L, ts(12)))
      .toDF("user_id", "t")
    val out = Sessions.rollingActive(df, "user_id", "t", days = 3)
      .collect().map(r => r.getAs[java.sql.Date]("day").toString ->
        r.getAs[Long]("active_keys")).toMap
    // day 1: {1}; day 3 window (1..3): {1,2}; day 12 far from the
    // rest: {3}; days 2 and 4..11 had no activity -> absent
    assert(out == Map("2024-01-01" -> 1L, "2024-01-03" -> 2L,
      "2024-01-12" -> 1L), out.toString)
  }

  test("kaplanMeier: hand-computed product-limit curve; censored users aren't churn") {
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    // corpus ends day 20 -> censor horizon = day 17
    val df = Seq(
      (1L, ts(1)), (1L, ts(2)), // lifetime 1, churned
      (2L, ts(5)), // lifetime 0, churned
      (3L, ts(1)), (3L, ts(19)), // lifetime 18, censored
      (4L, ts(10)), (4L, ts(20))) // lifetime 10, censored (defines max)
      .toDF("user_id", "t")
    val out = Sessions.kaplanMeier(df, "user_id", "t", censorDays = 3)
      .collect().map(r => r.getAs[Int]("lifetime_days") ->
        (r.getAs[Long]("n_risk"), r.getAs[Long]("n_events"),
          r.getAs[Long]("n_censored"), r.getAs[Double]("survival"))).toMap
    // S(0) = 3/4; S(1) = 3/4 * 2/3 = 1/2; censored points hold S
    assert(out(0) == (4L, 1L, 0L, 0.75), out.toString)
    assert(out(1) == (3L, 1L, 0L, 0.5))
    assert(out(10) == (2L, 0L, 1L, 0.5))
    assert(out(18) == (1L, 0L, 1L, 0.5))
    // Nelson-Aalen over the SAME risk table: H accumulates d/n in
    // t-order — H(0)=1/4, H(1)=1/4+1/3; censored rows hold H
    val na = Sessions.nelsonAalen(df, "user_id", "t", censorDays = 3)
      .collect().map(r => r.getAs[Int]("lifetime_days") ->
        (r.getAs[Double]("cum_hazard"), r.getAs[Double]("na_survival")))
      .toMap
    assert(na(0) == (0.25, math.rint(math.exp(-0.25) * 1e6) / 1e6))
    val h1 = 0.25 + 1.0 / 3
    assert(na(1)._1 == math.rint(h1 * 1e6) / 1e6)
    assert(na(18) == na(1))
  }

  test("kaplanMeierToEvent: fixed follow-up, event/censor mix, survival strictly in (0,1)") {
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    // 5 users, event = 'buy', horizon 3 days after each user's entry:
    //   1: enters d1, buys d1     -> event t=0
    //   2: enters d1, buys d3     -> event t=2
    //   3: enters d2, buys d10    -> beyond horizon, censored t=3
    //   4: enters d5, never buys  -> censored t=3
    //   5: enters d1, buys d2     -> event t=1
    val df = Seq(
      (1L, ts(1), "buy"), (2L, ts(1), "view"), (2L, ts(3), "buy"),
      (3L, ts(2), "view"), (3L, ts(10), "buy"),
      (4L, ts(5), "view"), (4L, ts(6), "view"),
      (5L, ts(1), "view"), (5L, ts(2), "buy"))
      .toDF("user_id", "t", "etype")
    val out = Sessions.kaplanMeierToEvent(df, "user_id", "t",
      $"etype" === "buy", horizonDays = 3)
      .collect().map(r => r.getAs[Int]("lifetime_days") ->
        (r.getAs[Long]("n_risk"), r.getAs[Long]("n_events"),
          r.getAs[Long]("n_censored"), r.getAs[Double]("survival"))).toMap
    // S(0)=4/5; S(1)=4/5*3/4=3/5; S(2)=3/5*2/3=2/5; t=3 all censored
    assert(out(0) == (5L, 1L, 0L, 0.8), out.toString)
    assert(out(1) == (4L, 1L, 0L, 0.6))
    assert(out(2) == (3L, 1L, 0L, 0.4))
    assert(out(3) == (2L, 0L, 2L, 0.4))
    // the curve is genuinely exercised: survival strictly inside (0,1)
    assert(out.values.exists(v => v._4 > 0.0 && v._4 < 1.0))
    // Nelson-Aalen on the same labels: H(2) = 1/5 + 1/4 + 1/3
    val na = Sessions.nelsonAalenToEvent(df, "user_id", "t",
      $"etype" === "buy", horizonDays = 3)
      .collect().map(r => r.getAs[Int]("lifetime_days") ->
        r.getAs[Double]("cum_hazard")).toMap
    assert(na(2) == math.rint((0.2 + 0.25 + 1.0 / 3) * 1e6) / 1e6)
    assert(na(3) == na(2)) // censor-only row holds H
    // d=n terminal: drop the censored users -> last risk set is all
    // events and KM hits exactly 0 via the zero-factor flag
    val all = Sessions.kaplanMeierToEvent(
      df.filter($"user_id" =!= 3L && $"user_id" =!= 4L),
      "user_id", "t", $"etype" === "buy", horizonDays = 3)
      .collect().map(r => r.getAs[Int]("lifetime_days") ->
        r.getAs[Double]("survival")).toMap
    assert(all(2) == 0.0, all.toString)
    // RMST over the same fixture: area under the step curve to tau=3
    // = 1*0.8 + 1*0.6 + 1*0.4 + 0.4*(3-3) = 1.8
    val rm = Sessions.rmst(df, "user_id", "t", $"etype" === "buy",
      horizonDays = 3).collect().head
    assert(rm.getAs[Int]("horizon_days") == 3)
    assert(rm.getAs[Double]("rmst") == 1.8, rm.toString)
  }

  test("logRank: hand-computed hypergeometric O/E/V; cohorts symmetric") {
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    // A: events t=0 (u1), t=1 (u2), censored (u3)
    // B: event  t=1 (u4), censored (u5), late buy -> censored (u6)
    // pooled t=0: nA=3 nB=3 d=1(A) -> eA=0.5, v=0.25
    // pooled t=1: nA=2 nB=3 d=2(1+1) -> eA=0.8, v=0.36
    // OA=2 EA=1.3 V=0.61 -> chi2 = 0.49/0.61 = 0.803279
    val df = Seq(
      (1L, "A", ts(1), "buy"),
      (2L, "A", ts(1), "view"), (2L, "A", ts(2), "buy"),
      (3L, "A", ts(1), "view"),
      (4L, "B", ts(1), "view"), (4L, "B", ts(2), "buy"),
      (5L, "B", ts(1), "view"),
      (6L, "B", ts(1), "view"), (6L, "B", ts(10), "buy"))
      .toDF("user_id", "grp", "t", "etype")
    val out = Sessions.logRank(df, "user_id", "t", $"etype" === "buy",
      $"grp", horizonDays = 3)
      .collect().map(r => r.getAs[String]("cohort") ->
        (r.getAs[Long]("observed"), r.getAs[Double]("expected"),
          r.getAs[Double]("chi2"))).toMap
    assert(out("A") == (2L, 1.3, 0.803279), out.toString)
    assert(out("B") == (1L, 1.7, 0.803279))
    // identical cohorts -> chi2 exactly 0 (O == E at every time)
    val same = Seq(
      (1L, "A", ts(1), "buy"), (2L, "B", ts(1), "buy"),
      (3L, "A", ts(1), "view"), (4L, "B", ts(1), "view"))
      .toDF("user_id", "grp", "t", "etype")
    val z = Sessions.logRank(same, "user_id", "t", $"etype" === "buy",
      $"grp", horizonDays = 3).collect()
    assert(z.forall(_.getAs[Double]("chi2") == 0.0), z.mkString(","))
  }

  test("coxPh: Breslow score test hand-checked; ==log-rank without ties; sign tracks the faster cohort") {
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    // same fixture as the logRank spec: cohort A converts faster.
    // Breslow score test at beta=0: U = 0.5 + 0.2 = 0.7,
    // I = 1*(3*3)/36 + 2*(3*2)/25 = 0.73 -> chi2 = 0.49/0.73 =
    // 0.671233. This DIFFERS from the log-rank 0.803279 exactly by
    // the ties factor (n-d)/(n-1) at the d=2 time (Breslow treats
    // tied events as sequential draws from the same risk set).
    val df = Seq(
      (1L, "A", ts(1), "buy"),
      (2L, "A", ts(1), "view"), (2L, "A", ts(2), "buy"),
      (3L, "A", ts(1), "view"),
      (4L, "B", ts(1), "view"), (4L, "B", ts(2), "buy"),
      (5L, "B", ts(1), "view"),
      (6L, "B", ts(1), "view"), (6L, "B", ts(10), "buy"))
      .toDF("user_id", "grp", "t", "etype")
    val fit = Sessions.coxPh(df, "user_id", "t", $"etype" === "buy",
      $"grp", treated = "A", horizonDays = 3).collect().head
    assert(fit.getAs[Double]("score_chi2") == 0.671233, fit.toString)
    // with UNIQUE event times the Breslow score test IS the log-rank
    // statistic: both 0.486486 on this no-ties fixture
    val noTies = Seq(
      (1L, "A", ts(1), "buy"),
      (2L, "A", ts(1), "view"), (2L, "A", ts(3), "buy"),
      (3L, "A", ts(1), "view"),
      (4L, "B", ts(1), "view"), (4L, "B", ts(2), "buy"),
      (5L, "B", ts(1), "view"),
      (6L, "B", ts(1), "view"))
      .toDF("user_id", "grp", "t", "etype")
    val lr = Sessions.logRank(noTies, "user_id", "t",
      $"etype" === "buy", $"grp", horizonDays = 3)
      .collect().head.getAs[Double]("chi2")
    val sc = Sessions.coxPh(noTies, "user_id", "t", $"etype" === "buy",
      $"grp", treated = "A", horizonDays = 3)
      .collect().head.getAs[Double]("score_chi2")
    assert(lr == sc && lr == 0.486486, s"lr=$lr sc=$sc")
    // treated cohort converts faster -> positive log-hazard, HR > 1
    assert(fit.getAs[Double]("beta") > 0.0)
    assert(fit.getAs[Double]("hazard_ratio") > 1.0)
    assert(fit.getAs[Double]("hazard_ratio") ==
      math.rint(math.exp(fit.getAs[Double]("beta")) * 1e6) / 1e6 ||
      math.abs(fit.getAs[Double]("hazard_ratio") -
        math.exp(fit.getAs[Double]("beta"))) < 1e-5)
    // swapping treated flips the sign (rounded magnitudes equal)
    val flip = Sessions.coxPh(df, "user_id", "t", $"etype" === "buy",
      $"grp", treated = "B", horizonDays = 3).collect().head
    assert(math.abs(flip.getAs[Double]("beta") +
      fit.getAs[Double]("beta")) < 1e-5, s"$fit vs $flip")
    // identical cohorts -> beta 0, HR 1, chi2 0
    val same = Seq(
      (1L, "A", ts(1), "buy"), (2L, "B", ts(1), "buy"),
      (3L, "A", ts(1), "view"), (4L, "B", ts(1), "view"))
      .toDF("user_id", "grp", "t", "etype")
    val nul = Sessions.coxPh(same, "user_id", "t", $"etype" === "buy",
      $"grp", treated = "A", horizonDays = 3).collect().head
    assert(nul.getAs[Double]("beta") == 0.0 &&
      nul.getAs[Double]("hazard_ratio") == 1.0 &&
      nul.getAs[Double]("score_chi2") == 0.0, nul.toString)
  }

  test("competingRisks: hand-computed Aalen-Johansen CIFs; tie to first cause; CIFs + S sum to 1") {
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    // u1: buy t=0 | u2: fail t=1 | u3: buy AND fail on d2 -> tie goes
    // to 'buy' (first in the causes list), t=1 | u4: censored t=3
    // t=0: n=4 d_buy=1        -> S=0.75, CIF_buy=0.25
    // t=1: n=3 d_buy=1 d_f=1  -> S=0.25, CIF_buy=0.5, CIF_fail=0.25
    // t=3: n=1 d=0            -> CIFs hold; 0.5 + 0.25 + S(0.25) = 1
    val df = Seq(
      (1L, ts(1), "buy"),
      (2L, ts(1), "view"), (2L, ts(2), "fail"),
      (3L, ts(1), "view"), (3L, ts(2), "buy"), (3L, ts(2), "fail"),
      (4L, ts(1), "view"))
      .toDF("user_id", "t", "etype")
    val out = Sessions.competingRisks(df, "user_id", "t",
      Seq("buy" -> ($"etype" === "buy"), "fail" -> ($"etype" === "fail")),
      horizonDays = 3)
      .collect().map(r => (r.getAs[String]("cause"),
        r.getAs[Int]("lifetime_days")) ->
        (r.getAs[Long]("n_risk"), r.getAs[Long]("n_events"),
          r.getAs[Double]("cif"))).toMap
    assert(out(("buy", 0)) == (4L, 1L, 0.25), out.toString)
    assert(out(("buy", 1)) == (3L, 1L, 0.5))
    assert(out(("buy", 3)) == (1L, 0L, 0.5))
    assert(out(("fail", 0)) == (4L, 0L, 0.0))
    assert(out(("fail", 1)) == (3L, 1L, 0.25))
    assert(out(("fail", 3)) == (1L, 0L, 0.25))
    // the Aalen-Johansen identity at the horizon: sum of terminal
    // CIFs + all-cause survival = 1 (here S(3) = 0.25)
    assert(out(("buy", 3))._3 + out(("fail", 3))._3 + 0.25 == 1.0)
  }

  test("multiTouchAttribution: hand-computed U-shape and dyadic decay weights") {
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    // u1: email(d1) ad(d2) social(d3) buy(d4, 10) — halfLife 1 day ->
    //   decay raw = 1/8, 1/4, 1/2; normalized 1/7, 2/7, 4/7;
    //   position = 0.4 / 0.2 / 0.4
    // u2: buy(d1, 5) with no touch -> direct 1.0 both models
    // u3: email(d1) ad(d2) buy(d3, 8) -> position 0.5/0.5;
    //   decay raw = 1/4, 1/2 -> 1/3, 2/3
    val df = Seq(
      (1L, 1L, ts(1), "email", 0.0), (1L, 2L, ts(2), "ad", 0.0),
      (1L, 3L, ts(3), "social", 0.0), (1L, 4L, ts(4), "buy", 10.0),
      (2L, 5L, ts(1), "buy", 5.0),
      (3L, 6L, ts(1), "email", 0.0), (3L, 7L, ts(2), "ad", 0.0),
      (3L, 8L, ts(3), "buy", 8.0))
      .toDF("user_id", "event_id", "t", "etype", "value")
    val out = Sessions.multiTouchAttribution(df, "user_id", "t",
      "etype", "buy", tie = "event_id", halfLifeDays = 1.0)
      .collect().map(r => (r.getAs[String]("model"),
        r.getAs[String]("channel")) ->
        (r.getAs[Double]("attributed_conversions"),
          r.getAs[Double]("attributed_value"))).toMap
    assert(out(("position", "email")) == (0.9, 8.0), out.toString)
    assert(out(("position", "ad")) == (0.7, 6.0))
    assert(out(("position", "social")) == (0.4, 4.0))
    assert(out(("position", "direct")) == (1.0, 5.0))
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(out(("time_decay", "email")) ==
      (r6(1.0 / 7 + 1.0 / 3), r6(10.0 / 7 + 8.0 / 3)), out.toString)
    assert(out(("time_decay", "ad")) ==
      (r6(2.0 / 7 + 2.0 / 3), r6(20.0 / 7 + 16.0 / 3)))
    assert(out(("time_decay", "social")) == (r6(4.0 / 7), r6(40.0 / 7)))
    assert(out(("time_decay", "direct")) == (1.0, 5.0))
    // weights conserve: each conversion hands out exactly 1.0 total
    val tot = out.toSeq.groupBy(_._1._1)
      .map { case (m, vs) => m -> r6(vs.map(_._2._1).sum) }
    assert(tot == Map("position" -> 3.0, "time_decay" -> 3.0), tot)
  }

  test("zorderBy preserves rows exactly (layout only)") {
    val rows = (0 until 1000).map(i => (i % 37, i % 53, i))
    val df = rows.toDF("a", "b", "v")
    val out = Layout.zorderBy(df, Seq("a", "b"), 8, bits = 5)
    assert(out.columns.toSeq == Seq("a", "b", "v"))
    assert(out.select(sum($"v")).as[Long].collect().head ==
      rows.map(_._3.toLong).sum)
    assert(out.count() == 1000)
  }
}
