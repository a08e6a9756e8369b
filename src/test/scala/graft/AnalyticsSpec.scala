package graft

import graft.operators.{Funnel, Graph, Retrieval}
import graft.queries.Analytics
import org.apache.spark.sql.functions._

/** Round-10 analytics operators: bucketed co-located join, integer
  * PageRank, funnel matching, TF-IDF keyword extraction. */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  // ---- bucketed join -------------------------------------------------

  test("q90 core: bucketed join is a SortMergeJoin with no exchange " +
      "and matches the plain join") {
    val tag = "spec" + System.nanoTime().toString.takeRight(8)
    val base = java.nio.file.Files
      .createTempDirectory("graft_spec_bucketed").toString
    try {
      val j = Analytics.bucketedOrdersItems(spark, sf, tag, base)
      val p = plan(j)
      assert(p.contains("SortMergeJoin"), p)
      // NO exchange of any kind: not the hash shuffle bucketing
      // replaces, and not a broadcast standing in for it
      assert(!p.contains("Exchange"), p)
      assert(p.contains("Bucketed: true"), p)
      // the residual per-bucket Sort must be LOCAL (global=false in
      // `Sort [...], false, 0`) — Spark ≥3.0 re-sorts bucket files
      // within a task rather than trusting write-time order (see
      // Lake.writeBucketed's contract), which is linear local work,
      // not a shuffle
      assert(!p.contains("], true, 0"), p)
      val plain = Tables.orders(spark, sf)
        .select($"o_orderkey", $"o_orderpriority")
        .join(Tables.lineitem(spark, sf)
          .select($"l_orderkey".as("o_orderkey"), $"l_extendedprice"),
          "o_orderkey")
        .count()
      assert(j.count() === plain)
    } finally {
      for (t <- Seq(s"g90_orders_$tag", s"g90_items_$tag"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  // ---- integer PageRank ----------------------------------------------

  /** JVM reference model: same integer recurrence, plain loops. */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int,
      scale: Long, dampNum: Long): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val outDeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val init = scale / nodes.size
    val base = (100L - dampNum) * init / 100L
    var ranks = nodes.map(_ -> init).toMap
    for (_ <- 1 to iters) {
      val contrib = scala.collection.mutable.Map[Long, Long]()
        .withDefaultValue(0L)
      for ((s, d) <- edges)
        contrib(d) += ranks(s) / outDeg(s)
      ranks = nodes.map(n => n -> (base + dampNum * contrib(n) / 100L)).toMap
    }
    ranks
  }

  test("pageRankInt: bit-identical to the JVM integer reference model") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (4L, 1L))
    val got = Graph.pageRankInt(edges.toDF("src", "dst"), iters = 4,
        scale = 400000L, dedupEdges = false)
      .as[(Long, Long)].collect().toMap
    val want = refPageRank(edges, iters = 4, scale = 400000L, dampNum = 85L)
    assert(got === want)
    // node 4 is dangling-in (nothing points at it): base mass only
    assert(got(4L) === (15L * (400000L / 4)) / 100L)
  }

  test("pageRankInt: deterministic under repartitioning, parallel " +
      "edges collapse under dedupEdges") {
    val e = Seq((1L, 2L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val a = Graph.pageRankInt(e, 3, scale = 1000000L)
      .as[(Long, Long)].collect().toMap
    val b = Graph.pageRankInt(e.repartition(7), 3, scale = 1000000L)
      .as[(Long, Long)].collect().toMap
    assert(a === b)
    // deduped: symmetric 2-cycle → ranks equal
    assert(a(1L) === a(2L))
    // NOT deduped: 1→2 twice means node 1 splits mass across 2 edges
    // (out_deg 2), each carrying rank/2 — the multigraph semantics
    val m = Graph.pageRankInt(e, 3, scale = 1000000L, dedupEdges = false)
      .as[(Long, Long)].collect().toMap
    val mRef = refPageRank(Seq((1L, 2L), (1L, 2L), (2L, 1L)), 3,
      1000000L, 85L)
    assert(m === mRef)
  }

  test("pageRankInt: guards fire loudly") {
    val e = Seq((1L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      Graph.pageRankInt(e, iters = 0)
    }
    intercept[IllegalArgumentException] {
      // 2 nodes at scale 100 → 50 units each, under the precision floor
      Graph.pageRankInt(e, iters = 1, scale = 100L)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRankInt(e, iters = 1, dampNum = 101L)
    }
  }

  // ---- funnel --------------------------------------------------------

  private def ts(ms: Long) = new java.sql.Timestamp(ms)

  test("funnelTimes: greedy strictly-after matching, stalls, and " +
      "non-entrants") {
    val ev = Seq(
      // u1 completes A→B→C in order
      (1L, ts(1000), "A"), (1L, ts(2000), "B"), (1L, ts(3000), "C"),
      // u2: B before A must NOT count; the later B does
      (2L, ts(1000), "B"), (2L, ts(2000), "A"), (2L, ts(3000), "B"),
      // u3 enters and stalls at depth 1
      (3L, ts(5000), "A"),
      // u4 never does A → absent from the funnel
      (4L, ts(1000), "B"), (4L, ts(2000), "C"),
      // u5: B at the SAME instant as A is not strictly after
      (5L, ts(1000), "A"), (5L, ts(1000), "B")
    ).toDF("user_id", "ts", "event_type")
    val got = Funnel.funnelTimes(ev, "user_id", "ts", "event_type",
        Seq("A", "B", "C"))
      .orderBy($"user_id")
      .select($"user_id", $"t1".cast("long"), $"t2".cast("long"),
        $"t3".cast("long"), $"depth")
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        r.getLong(4)))
    assert(got.toSeq === Seq(
      (1L, 1L, 2L, 3L, 3L),
      (2L, 2L, 3L, -1L, 2L),
      (3L, 5L, -1L, -1L, 1L),
      (5L, 1L, -1L, -1L, 1L)))
  }

  test("funnelTimes: duplicate step names rejected") {
    val ev = Seq((1L, ts(0), "A")).toDF("user_id", "ts", "event_type")
    intercept[IllegalArgumentException] {
      Funnel.funnelTimes(ev, "user_id", "ts", "event_type",
        Seq("A", "B", "A"))
    }
  }

  // ---- TF-IDF --------------------------------------------------------

  test("tfIdfTopTerms: exact quantized scores, short docs, blank docs") {
    val docs = Seq(
      (1L, "rare the the"),
      (2L, "the common"),
      (3L, "the common"),
      (4L, "   ")
    ).toDF("doc_id", "text")
    val got = Retrieval.tfIdfTopTerms(docs, k = 3)
      .orderBy($"doc_id", $"rank")
      .as[(Long, Long, String, Long)].collect().toSeq
    // N=3 (blank doc excluded); df: the=3, rare=1, common=2
    // idfq: df=3 → bits(1048576//7=149796)=18; df=1 → bits(5242880//3
    //   =1747626)=21; df=2 → bits(3145728//5=629145)=20
    assert(got === Seq(
      (1L, 1L, "the", 36L),  // tf 2 × 18
      (1L, 2L, "rare", 21L), // tf 1 × 21
      (2L, 1L, "common", 20L),
      (2L, 2L, "the", 18L),
      (3L, 1L, "common", 20L),
      (3L, 2L, "the", 18L)))
  }

  // ---- product quantization ------------------------------------------

  test("pqTopK: full pool is EXACTLY brute force; codebooks train " +
      "deterministically under repartitioning") {
    import graft.operators.{AnnIndex, Similarity}
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count().toInt
    val books = Similarity.pqCodebooks(emb, dim = 64, m = 8, nCent = 16,
      iters = 2)
    assert(books.size === 8 && books.forall(_.size === 16) &&
      books.forall(_.forall(_.size === 8)))
    val books2 = Similarity.pqCodebooks(emb.repartition(7), dim = 64,
      m = 8, nCent = 16, iters = 2)
    assert(books === books2)
    val q = emb.filter($"vec_id" < 3)
    val pq = AnnIndex.build(emb, dim = 64).withCodes(books)
      .search(q, k = 5, pool = n)
      .orderBy($"q_id", $"rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val bf = Similarity.bruteForceTopK(q, emb, k = 5)
      .orderBy($"q_id", $"rank")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(pq === bf)
  }

  test("pqTopK: a planted duplicate vector is retrieved at rank 1 " +
      "through a SMALL candidate pool") {
    import graft.operators.{AnnIndex, Similarity}
    val emb = Tables.embeddings(spark, sf)
    // plant an exact copy of vector 7 under a fresh id
    val dup = emb.filter($"vec_id" === 7)
      .withColumn("vec_id", lit(900000L))
    val corpus = emb.unionByName(dup)
    val books = Similarity.pqCodebooks(emb, 64, 8, 16, iters = 1)
    val got = AnnIndex.build(corpus, dim = 64).withCodes(books)
      .search(emb.filter($"vec_id" === 7), k = 1, pool = 16)
      .select($"n_id", $"score").as[(Long, Double)].collect()
    assert(got.toSeq === Seq((900000L, 1.0)))
  }

  test("pqTopK/pqCodebooks: shape guards fire") {
    import graft.operators.{AnnIndex, Similarity}
    val emb = Tables.embeddings(spark, sf)
    intercept[IllegalArgumentException] {
      Similarity.pqCodebooks(emb, dim = 64, m = 7, nCent = 4, iters = 1)
    }
    val index = AnnIndex.build(emb, dim = 64)
      .withCodes(Seq.fill(8)(Seq.fill(4)(Seq.fill(8)(0.0))))
    intercept[IllegalArgumentException] {
      index.search(emb.limit(1), k = 50, pool = 10)
    }
    intercept[IllegalArgumentException] {
      index.search(emb.limit(1), k = 0, pool = 0)
    }
  }

  // ---- z-order data skipping -----------------------------------------

  /** Total rows DECODED by the parquet scans of `df` (post row-group
    * pruning — the number footer-stat skipping actually reduces). */
  private def scannedRows(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collectWithSubqueries {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numOutputRows").value
    }.sum
  }

  test("writeZOrdered: box predicate decodes a FRACTION of what a " +
      "random layout decodes, and results are layout-invariant") {
    import graft.sources.Lake
    val base = java.nio.file.Files
      .createTempDirectory("graft_spec_zorder").toString
    try {
      // sf0.01: enough rows that 16 files have meaningfully distinct
      // row-group stats
      val li = Tables.lineitem(spark, "/root/testdata/sf0.01")
        .select($"l_partkey", $"l_suppkey", $"l_extendedprice")
      Lake.writeZOrdered(li, s"$base/z", Seq("l_partkey", "l_suppkey"),
        bits = 8, nFiles = 16)
      li.repartition(16).write.parquet(s"$base/rand")
      def boxed(p: String) = spark.read.parquet(p)
        .filter($"l_partkey" < 200 && $"l_suppkey" < 10)
      val zRows = scannedRows(boxed(s"$base/z"))
      val randRows = scannedRows(boxed(s"$base/rand"))
      assert(zRows < randRows / 2,
        s"z-order decoded $zRows rows vs random layout $randRows — no skipping")
      // layout-invisible results
      val a = boxed(s"$base/z").agg(count(lit(1)), sum($"l_extendedprice"))
        .as[(Long, Double)].head()
      val b = boxed(s"$base/rand").agg(count(lit(1)), sum($"l_extendedprice"))
        .as[(Long, Double)].head()
      assert(a._1 === b._1 && a._1 > 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("writeZOrdered: guards — dims, bit budget, negative values, " +
      "span overflow, empty input") {
    import graft.sources.Lake
    val df = Seq((1L, 2L)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      Lake.writeZOrdered(df, "/tmp/never", Seq("a"), bits = 8)
    }
    intercept[IllegalArgumentException] {
      Lake.writeZOrdered(df, "/tmp/never", Seq("a", "b"), bits = 32)
    }
    intercept[IllegalArgumentException] {
      Lake.writeZOrdered(Seq((-1L, 2L)).toDF("a", "b"), "/tmp/never",
        Seq("a", "b"), bits = 4)
    }
    // epoch-nanos-range span: quantization product would overflow
    val wide = intercept[IllegalArgumentException] {
      Lake.writeZOrdered(Seq((0L, 1L), (Long.MaxValue / 100, 2L))
        .toDF("a", "b"), "/tmp/never", Seq("a", "b"), bits = 8)
    }
    assert(wide.getMessage.contains("overflows"))
    // empty input: loud, not an opaque NPE
    val empty = intercept[IllegalArgumentException] {
      Lake.writeZOrdered(df.limit(0), "/tmp/never", Seq("a", "b"), bits = 4)
    }
    assert(empty.getMessage.contains("empty input"))
  }

  // ---- streaming funnel ----------------------------------------------

  test("FunnelStream: late-arriving EARLY event re-times the whole " +
      "funnel (buffered-state exactness across micro-batches)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Int)]
    val snaps = graft.streaming.FunnelStream.funnel(
      input.toDF().toDF("user_id", "ts_us", "step")
        .withColumn("ts", timestamp_micros($"ts_us")), nSteps = 3)
    val q = snaps.toDF().writeStream.format("memory")
      .queryName("funnel_stream_spec").outputMode("append").start()
    try {
      // batch 1: signup@10, step-1@20 → depth 2 with t1=10
      input.addData((1L, 10L, 0), (1L, 20L, 1))
      q.processAllAvailable()
      // batch 2: a LATE signup@5 (t1 must improve to 5) and step-2@25
      input.addData((1L, 5L, 0), (1L, 25L, 2))
      q.processAllAvailable()
      val last = spark.table("funnel_stream_spec")
        .orderBy($"n_seen".desc).limit(1)
        .select($"ts", $"depth").as[(Seq[Long], Long)].head()
      assert(last === (Seq(5L, 20L, 25L), 3L))
    } finally {
      q.stop()
      spark.catalog.dropTempView("funnel_stream_spec")
    }
  }

  test("FunnelStream: cap keeps the EARLIEST events — late events " +
      "beyond cap under-report depth, never phantom-complete") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Int)]
    val snaps = graft.streaming.FunnelStream.funnel(
      input.toDF().toDF("user_id", "ts_us", "step")
        .withColumn("ts", timestamp_micros($"ts_us")), nSteps = 3, cap = 3)
    val q = snaps.toDF().writeStream.format("memory")
      .queryName("funnel_cap_spec").outputMode("append").start()
    try {
      // 4 events; cap=3 keeps ts 1,2,3 → the step-2@40 is dropped
      input.addData((1L, 1L, 0), (1L, 2L, 1), (1L, 3L, 1), (1L, 40L, 2))
      q.processAllAvailable()
      val last = spark.table("funnel_cap_spec")
        .orderBy($"n_seen".desc).limit(1)
        .select($"ts", $"depth").as[(Seq[Long], Long)].head()
      assert(last === (Seq(1L, 2L, -1L), 2L))
    } finally {
      q.stop()
      spark.catalog.dropTempView("funnel_cap_spec")
    }
  }

  // ---- snapshot diff --------------------------------------------------

  test("snapshotDiff: added/removed/changed classification, null-safe " +
      "compares, unchanged omitted") {
    import graft.operators.Diff
    val old = Seq((1L, Some("a")), (2L, Some("b")), (3L, None),
      (4L, Some("gone"))).toDF("k", "v")
    val neu = Seq((1L, Some("a")), (2L, Some("B")), (3L, Some("now")),
      (5L, Some("new"))).toDF("k", "v")
    val got = Diff.snapshotDiff(old, neu, Seq("k"), Seq("v"))
      .orderBy($"k")
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)), Option(r.getString(3)))).toSeq
    assert(got === Seq(
      (2L, "changed", Some("b"), Some("B")),
      (3L, "changed", None, Some("now")), // null → value IS a change
      (4L, "removed", Some("gone"), None),
      (5L, "added", None, Some("new"))))
  }

  test("snapshotDiff: guards — empty/overlapping column sets") {
    import graft.operators.Diff
    val df = Seq((1L, "x")).toDF("k", "v")
    intercept[IllegalArgumentException] {
      Diff.snapshotDiff(df, df, Nil, Seq("v"))
    }
    intercept[IllegalArgumentException] {
      Diff.snapshotDiff(df, df, Seq("k"), Seq("k"))
    }
  }

  // ---- histogram quantiles -------------------------------------------

  test("quantileEstimates: hand-checked bins/ranks, one-bin-width " +
      "error bound vs exact, degenerate single value, guards") {
    import graft.operators.Histogram
    // values 0..99 over 10 bins of width 9.9
    val df = (0 until 100).map(_.toDouble).toDF("x")
    val got = Histogram.quantileEstimates(df, "x", nBins = 10,
        pcts = Seq(50, 99))
      .orderBy($"pct").as[(Long, Long, Long, Double)].collect().toSeq
    // n=100: p50 → rank 50 → value 49 lands in bin floor(49*10/99)=4;
    // p99 → rank 99 → value 98 → bin floor(98*10/99)=9
    assert(got.map(t => (t._1, t._2, t._3)) === Seq((50L, 50L, 4L),
      (99L, 99L, 9L)))
    // estimate = bin lower bound; exact p50 value is 49 → within one
    // bin width (9.9)
    assert(math.abs(got.head._4 - 49.0) <= 9.9)
    val one = Histogram.quantileEstimates(
      Seq(7.0, 7.0, 7.0).toDF("x"), "x", 16, Seq(50))
      .as[(Long, Long, Long, Double)].head()
    assert(one === ((50L, 2L, 0L, 7.0)))
    intercept[IllegalArgumentException] {
      Histogram.quantileEstimates(df, "x", 0, Seq(50))
    }
    intercept[IllegalArgumentException] {
      Histogram.quantileEstimates(df, "x", 10, Seq(0))
    }
    intercept[IllegalArgumentException] {
      Histogram.quantileEstimates(df.filter($"x" < 0), "x", 10, Seq(50))
    }
  }

  // ---- rate anomaly ---------------------------------------------------

  test("rateZScores: planted spike scores high; partial baselines " +
      "never emit; zero-variance baseline emits null z") {
    import graft.operators.Anomaly
    // key A: 5 events/minute for 40 minutes, then a 50-event spike;
    // key B: constant 3/minute (zero variance → null z)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def minute(m: Int) = new java.sql.Timestamp(base + m * 60000L)
    val rows =
      (0 until 40).flatMap(m => Seq.fill(if (m % 2 == 0) 5 else 6)(
        ("A", minute(m)))) ++
      Seq.fill(50)(("A", minute(40))) ++
      (0 until 35).flatMap(m => Seq.fill(3)(("B", minute(m))))
    val got = Anomaly.rateZScores(rows.toDF("event_type", "ts"),
        "event_type", "ts", trailing = 30)
      .orderBy($"key", $"minute_start")
    val a = got.filter($"key" === "A").collect()
    // first 30 minutes have no full baseline → rows start at minute 30
    assert(a.length === 11) // minutes 30..40
    val spike = a.last
    assert(spike.getLong(2) === 50L)
    assert(spike.getDouble(3) > 10.0, spike.toString)
    // normal minutes stay small
    assert(a.init.forall(r => math.abs(r.getDouble(3)) < 2.0))
    val b = got.filter($"key" === "B").collect()
    assert(b.length === 5 && b.forall(_.isNullAt(3))) // zero variance
    intercept[IllegalArgumentException] {
      Anomaly.rateZScores(rows.toDF("event_type", "ts"),
        "event_type", "ts", trailing = 1)
    }
  }

  test("rateZScores: dense spine — an OUTAGE emits zero-count rows " +
      "with strongly negative z, and the trailing window counts " +
      "calendar minutes, not active ones") {
    import graft.operators.Anomaly
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def minute(m: Int) = new java.sql.Timestamp(base + m * 60000L)
    // ~5/minute with variance for minutes 0..39, silence 40..49
    // (the outage), resume at 50
    val rows =
      (0 until 40).flatMap(m => Seq.fill(if (m % 2 == 0) 5 else 6)(
        ("C", minute(m)))) ++ Seq.fill(5)(("C", minute(50)))
    val got = Anomaly.rateZScores(rows.toDF("event_type", "ts"),
        "event_type", "ts", trailing = 30)
      .orderBy($"minute_start").collect()
    // spine covers minutes 30..50 (first full baseline at 30):
    // 21 rows including the 10 zero-filled outage minutes
    assert(got.length === 21)
    val outage = got.filter(_.getLong(2) === 0L)
    assert(outage.length === 10, "all 10 silent minutes must emit")
    assert(outage.head.getDouble(3) < -5.0,
      s"an outage minute against a ~5.5/min baseline must score " +
        s"strongly negative: ${outage.head}")
    // the resume minute's 30-minute baseline includes the 10 zeros —
    // calendar-true, not stretched across the gap
    val resume = got.last
    assert(resume.getLong(2) === 5L && resume.getDouble(3) > 0.0)
  }

  test("rateZScores: null keys and timestamps are excluded; a corrupt " +
      "far-future timestamp fails loudly instead of exploding the spine") {
    import graft.operators.Anomaly
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = Seq(
      (Some("A"), Some(base)), (None, Some(base)),
      (Some("A"), Option.empty[java.sql.Timestamp]))
      .toDF("event_type", "ts")
    // nulls drop before the spine: only key A's single minute survives,
    // and with trailing=2 nothing has a full baseline → empty, no error
    assert(Anomaly.rateZScores(rows, "event_type", "ts", trailing = 2)
      .count() === 0L)
    val corrupt = Seq(
      ("A", base),
      ("A", java.sql.Timestamp.valueOf("9999-01-01 00:00:00")))
      .toDF("event_type", "ts")
    val e = intercept[Exception] {
      Anomaly.rateZScores(corrupt, "event_type", "ts", trailing = 2)
        .count()
    }
    assert(e.getMessage.contains("maxSpanMinutes") ||
      (e.getCause != null &&
        e.getCause.getMessage.contains("maxSpanMinutes")))
  }

  // ---- data profile ---------------------------------------------------

  test("profile: exact counts and type-aware extremes on a " +
      "hand-built frame") {
    import graft.operators.Profile
    val df = Seq(
      (Some(1L), Some("ab"), Some(2.5)),
      (Some(2L), None, Some(-1.0)),
      (None, Some("xyz"), Some(2.5))
    ).toDF("k", "s", "v")
    val got = Profile.profile(df).orderBy($"col_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)), Option(r.get(5)), Option(r.get(6)),
        Option(r.get(7)))).toSeq
    assert(got === Seq(
      ("k", 3L, 1L, 2L, Some(1.0), Some(2.0), None, None),
      ("s", 3L, 1L, 2L, None, None, Some(2L), Some(3L)),
      ("v", 3L, 0L, 2L, Some(-1.0), Some(2.5), None, None)))
  }

  test("profile: unknown/duplicate columns rejected; subset works") {
    import graft.operators.Profile
    val df = Seq((1L, "x")).toDF("a", "b")
    intercept[IllegalArgumentException] {
      Profile.profile(df, Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      Profile.profile(df, Seq("a", "a"))
    }
    assert(Profile.profile(df, Seq("b")).count() === 1)
  }

  test("tfIdfTopTerms: stable under repartitioning (bounded aggregate " +
      "ties break on the portable term hash)") {
    val docs = Tables.documents(spark, sf)
    val a = Retrieval.tfIdfTopTerms(docs, 3)
      .orderBy($"doc_id", $"rank")
      .as[(Long, Long, String, Long)].collect().toSeq
    val b = Retrieval.tfIdfTopTerms(docs.repartition(13), 3)
      .orderBy($"doc_id", $"rank")
      .as[(Long, Long, String, Long)].collect().toSeq
    assert(a === b)
    assert(a.nonEmpty)
  }
}
