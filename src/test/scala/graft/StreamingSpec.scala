package graft

import graft.streaming.Jobs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming tests per SURVEY §5 item 5: MemoryStream → pipeline →
  * memory sink; duplicate-window ingest must converge. */
object StreamingSpec {
  /** Executor-side capture for the ES transport (works in local mode —
    * executors share the JVM). */
  val captured = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def mkEvent(id: Long, minute: Int, mag: Double, lastUpdate: String = ""): String =
    f"""{"date":"2023-02-06T04:$minute%02d:00","rms":"0.5","eventID":"$id","location":"X","latitude":"37.0","longitude":"36.0","depth":"7.0","type":"Ke","magnitude":"$mag","country":"T","province":"Hatay","district":"D","neighborhood":"N","isEventUpdate":"false","lastUpdateDate":"$lastUpdate"}"""

  test("events pipeline end-to-end over MemoryStream with keyed dedup") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val raw = input.toDF().selectExpr("cast(value as binary) as value")
    val out = Jobs.dedupStream(Jobs.eventsPipeline(raw))
    val query = out.writeStream
      .format("memory").queryName("stream_out")
      .outputMode("append")
      .start()
    try {
      // batch 1: two events, one duplicated (overlapping poll windows)
      input.addData(s"[${mkEvent(1, 10, 5.0)},${mkEvent(2, 11, 3.0)}]")
      input.addData(s"[${mkEvent(1, 10, 5.0)}]") // exact re-poll duplicate
      query.processAllAvailable()
      val rows = spark.table("stream_out")
      assert(rows.count() === 2) // dup dropped by keyed dedup
      assert(rows.filter($"fault_line" === "Doğu Anadolu").count() === 2)
      // batch 2: an update to event 1 (new lastUpdateDate) must survive
      input.addData(s"[${mkEvent(1, 10, 5.1, "2023-02-06T06:00:00")}]")
      query.processAllAvailable()
      assert(spark.table("stream_out").count() === 3)
    } finally query.stop()
  }

  test("keyed dedup evicts a key once the watermark passes its event " +
      "time plus the delay") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val raw = input.toDF().selectExpr("cast(value as binary) as value")
    val query = Jobs.dedupStream(Jobs.eventsPipeline(raw)).writeStream
      .format("memory").queryName("dedup_evict_out")
      .outputMode("append")
      .start()
    def stateRows(): Long = query.lastProgress.stateOperators.head.numRowsTotal
    // 19 days after the first events: past their 8-day delay
    def later(id: Long): String =
      mkEvent(id, 0, 1.0).replace("2023-02-06T04", "2023-02-25T04")
    try {
      input.addData(
        s"[${mkEvent(21, 10, 5.0)},${mkEvent(22, 11, 3.0)},${mkEvent(23, 12, 4.0)}]")
      query.processAllAvailable()
      assert(stateRows() === 3)
      input.addData(s"[${later(24)}]") // advances the watermark
      query.processAllAvailable()
      input.addData(s"[${later(25)}]") // runs under the advanced watermark
      query.processAllAvailable()
      assert(stateRows() === 2, "the three early keys were not evicted")
      // a re-polled copy of an evicted key is older than the watermark
      input.addData(s"[${mkEvent(21, 10, 5.0)}]")
      query.processAllAvailable()
      assert(spark.table("dedup_evict_out").count() === 5)
    } finally query.stop()
  }

  test("keyed dedup restarted from its checkpoint drops a duplicate " +
      "that crosses the restart") {
    // the stop falls after batch 2; batch 3 re-polls event 31 under its
    // (eventID, lastUpdateDate) key, so only the restored dedup state
    // can drop it, and batch 4's update to event 31 must survive. The
    // drain counts rows per key, so a kept duplicate shows as a 2.
    val batches = Seq(
      Seq(s"[${mkEvent(31, 10, 5.0)},${mkEvent(32, 11, 3.0)}]"),
      Seq(s"[${mkEvent(33, 12, 4.0)}]"),
      Seq(s"[${mkEvent(31, 10, 5.0)}]"),
      Seq(s"[${mkEvent(31, 10, 5.1, "2023-02-06T06:00:00")}]"))
    assertRestartDrains(batches, stopAfter = 2) { (input, dir) =>
      Jobs.dedupStream(Jobs.eventsPipeline(
          input.selectExpr("cast(value as binary) as value")))
        .writeStream.format("parquet")
        .option("path", dir.resolve("out").toString)
        .option("checkpointLocation", dir.resolve("cp").toString)
        .outputMode("append").start()
    } { dir =>
      spark.read.parquet(dir.resolve("out").toString)
        .groupBy($"eventID", $"lastUpdateDate").count()
        .collect().toSet
    }
  }

  test("windowed region counts aggregate on the stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val raw = input.toDF().selectExpr("cast(value as binary) as value")
    val out = Jobs.regionWindowCounts(Jobs.eventsPipeline(raw), "1 hour")
    val query = out.writeStream
      .format("memory").queryName("window_out")
      .outputMode("append")
      .start()
    try {
      input.addData(s"[${mkEvent(10, 1, 4.2)},${mkEvent(11, 2, 6.0)},${mkEvent(12, 3, 2.0)}]")
      query.processAllAvailable()
      // append mode emits only closed windows; push the watermark past the hour
      input.addData(s"""[{"date":"2023-02-20T00:00:00","rms":"0","eventID":"99","location":"X","latitude":"1","longitude":"1","depth":"1","type":"Ke","magnitude":"1.0","country":"T","province":"Hatay","district":"D","neighborhood":"N","isEventUpdate":"false","lastUpdateDate":""}]""")
      query.processAllAvailable()
      val rows = spark.table("window_out").filter($"fault_line" === "Doğu Anadolu")
      assert(rows.count() === 1)
      val r = rows.select($"n", $"max_magnitude").head()
      assert(r.getLong(0) === 3L)
      assert(r.getDouble(1) === 6.0)
    } finally query.stop()
  }

  test("full eventsToSink job: raw JSON → parse/enrich/dedup → ES bulk payloads") {
    implicit val sqlCtx = spark.sqlContext
    StreamingSpec.captured.clear()
    val input = MemoryStream[String]
    val raw = input.toDF().selectExpr("cast(value as binary) as value")
    val cp = java.nio.file.Files.createTempDirectory("es-cp").toString
    val sink = graft.sources.EsSink.foreachBatch("earthquake-all",
      transport = (url, payload) => StreamingSpec.captured.add((url, payload)))
    val q = Jobs.eventsToSink(raw, cp, sink).start()
    try {
      input.addData(
        s"[${mkEvent(100, 10, 6.5)},${mkEvent(101, 11, 3.0)}]",
        s"[${mkEvent(100, 10, 6.5)}]") // re-poll duplicate
      q.processAllAvailable()
      val payloads = StreamingSpec.captured.toArray.map(_.asInstanceOf[(String, String)])
      assert(payloads.forall(_._1.endsWith("/_bulk")))
      val lines = payloads.flatMap(_._2.linesIterator).filter(_.nonEmpty)
      val actions = lines.filter(_.contains("\"_index\":\"earthquake-all\""))
      val docs = lines.filterNot(_.contains("\"_index\""))
      assert(actions.length === 2) // dup removed by keyed dedup
      assert(docs.length === 2)
      assert(docs.forall(_.contains("\"fault_line\":\"Doğu Anadolu\"")))
      assert(docs.exists(_.contains("\"pointLocation\":\"37.0,36.0\"")))
    } finally q.stop()
  }

  test("driver contract: entry() flagship returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
    // every query is oracled (set difference, not union, so a query
    // silently losing its oracle fails here)
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ===
      Set.empty[String])
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("streaming anomaly monitor: late events re-score already-" +
      "emitted minutes, interior gaps zero-fill, drained ≡ batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val ev = input.toDF().toDF("key", "m")
    val out = graft.streaming.AnomalyStream.zScores(ev, trailing = 3)
    val q = out.toDF().writeStream.format("memory")
      .queryName("anom_out").outputMode("append").start()
    try {
      // batch 1: key A minutes 0..5, varying counts, minute 3 SILENT
      val b1 = Seq(0L -> 2, 1L -> 3, 2L -> 2, 4L -> 3, 5L -> 2)
        .flatMap { case (m, c) => Seq.fill(c)(("A", m)) }
      input.addData(b1: _*)
      q.processAllAvailable()
      val e1 = spark.table("anom_out")
      // dense spine 0..5 → minutes 3,4,5 have full 3-minute baselines;
      // the SILENT minute 3 is scored with n=0
      assert(e1.filter($"m" === 3L && $"n" === 0L).count() === 1L)
      // batch 2: LATE events for minute 2 (changes minute 3-5's
      // baselines) plus new minutes 6..7
      input.addData(Seq.fill(4)(("A", 2L)) ++
        Seq(("A", 6L), ("A", 6L), ("A", 7L)): _*)
      q.processAllAvailable()
      // consumer contract: max-`seen` emission per (key, minute)
      val got = spark.table("anom_out")
        .groupBy($"key", $"m")
        .agg(max_by(struct($"n", $"z"), $"seen").as("f"))
        .select($"key", $"m", $"f.n".as("n"), $"f.z".as("z"))
        .as[(String, Long, Long, Option[Double])].collect().toSet
      // batch replay over the SAME union of events
      val all = b1 ++ Seq.fill(4)(("A", 2L)) ++
        Seq(("A", 6L), ("A", 6L), ("A", 7L))
      val batch = graft.operators.Anomaly.rateZScores(
          all.map { case (k, m) =>
            (k, new java.sql.Timestamp(m * 60000L)) }.toDF("key", "ts"),
          "key", "ts", trailing = 3)
        .select($"key",
          expr("unix_micros(minute_start) div 60000000").as("m"),
          $"n", $"z")
        .as[(String, Long, Long, Option[Double])].collect().toSet
      assert(got === batch)
      // the late batch really changed minute 4's score (its baseline
      // gained the late minute-2 events)
      val m4 = spark.table("anom_out").filter($"m" === 4L)
        .select($"z").as[Option[Double]].collect().toSet
      assert(m4.size === 2, s"expected two different minute-4 scores, got $m4")
    } finally q.stop()
  }

  test("streaming near-dup: a near-duplicate arriving in a LATER " +
      "micro-batch still pairs against bucket state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    // maxHamming 12 over the 96-bit signature ≙ the old 6 over 48 bits
    // (the radius dial scales with signature width)
    val out = graft.streaming.NearDup.pairs(docs, maxHamming = 12)
    val q = out.writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    try {
      val base = "the quick brown fox jumps over the lazy dog and then " +
        "runs far away into the deep dark forest tonight without looking back"
      input.addData((1L, base),
        (2L, "completely different words about catalyst optimizer plans"))
      q.processAllAvailable()
      assert(spark.table("neardup_out").isEmpty) // nothing similar yet
      // batch 2: a near-dup of doc 1 and an exact dup of doc 1
      input.addData((3L, base + " extra"), (4L, base))
      q.processAllAvailable()
      val pairs = spark.table("neardup_out")
        .select($"id_a", $"id_b", $"hamming")
        .as[(Long, Long, Long)].collect()
        .map(p => (p._1, p._2) -> p._3).toMap
      assert(pairs.contains((1L, 4L)) && pairs((1L, 4L)) === 0L) // exact
      assert(pairs.contains((1L, 3L))) // near-dup across batches
      assert(pairs.contains((3L, 4L))) // both vs each other (same batch)
      assert(!pairs.keys.exists(p => p._1 == 2L || p._2 == 2L))
      // the drained set matches the batch pipeline on the same corpus
      val batch = graft.operators.Dedup.simHashDupPairs(
        Seq((1L, base),
          (2L, "completely different words about catalyst optimizer plans"),
          (3L, base + " extra"), (4L, base)).toDF("doc_id", "text"),
        maxHamming = 12)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(pairs.keySet === batch)
    } finally q.stop()
  }

  test("streaming near-dup TTL: expired bucket state evicts; a late duplicate no longer pairs") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    // TTL wide enough that the doc2→doc3 pairing below survives a
    // loaded-machine scheduler stall; the eviction wait POLLS state
    // metrics rather than sleeping a fixed horizon, so the wide TTL
    // costs only its own duration, deterministically
    val out = graft.streaming.NearDup.pairs(docs, maxHamming = 12,
      stateTtl = Some(java.time.Duration.ofSeconds(8)))
    // An armed processing-time timeout makes the engine run a batch
    // every trigger forever (timeouts can fire at any time), so
    // processAllAvailable would never return — the real trigger
    // interval bounds the spin and progress is polled instead (the
    // same reason Spark's own timeout tests use a manual clock).
    val q = out.writeStream.format("memory").queryName("neardup_ttl_out")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("250 milliseconds"))
      .outputMode("append").start()
    // add a doc, then wait until the batch covering its (0-based)
    // MemoryStream offset commits
    def addAndAwait(doc: (Long, String)): Unit = {
      val off = input.addData(doc).json.trim.toLong
      val deadline = System.currentTimeMillis + 60000
      def done = q.recentProgress.exists(p => p.sources.nonEmpty &&
        Option(p.sources.head.endOffset).exists(_.trim.toLong >= off))
      while (!done && System.currentTimeMillis < deadline) Thread.sleep(50)
      assert(done, s"stream never committed offset $off")
    }
    try {
      val base = "the quick brown fox jumps over the lazy dog and then " +
        "runs far away into the deep dark forest tonight without looking back"
      addAndAwait((1L, base))
      // wait for the TTL horizon BY OBSERVATION, not wall-clock faith:
      // the spinning no-data batches see doc 1's buckets with no
      // arrivals past their deadline, evict, and report zero state
      // rows in the progress metrics — a fixed sleep flakes whenever a
      // loaded machine delays the eviction batch past it
      val evictDeadline = System.currentTimeMillis + 120000
      def stateEmpty = Option(q.lastProgress).exists(p =>
        p.stateOperators.nonEmpty &&
          p.stateOperators.map(_.numRowsTotal).sum == 0L)
      while (!stateEmpty && System.currentTimeMillis < evictDeadline)
        Thread.sleep(100)
      assert(stateEmpty, "bucket state never evicted after the TTL")
      // a late exact duplicate of doc 1 lands in doc 1's (now empty)
      // buckets: NO pair — the dedup horizon is the TTL, exactly like
      // watermark-bounded exact dedup
      addAndAwait((2L, base))
      assert(spark.table("neardup_ttl_out").isEmpty)
      // state is alive again for doc 2: a prompt duplicate pairs.
      // Residual wall-clock assumption, deliberate and bounded: doc 3's
      // batch must commit within the 8 s TTL of doc 2's state write —
      // two adjacent 250 ms-trigger batches with 8 s of slack, vs the
      // old fixed-sleep race the polled eviction wait above removed.
      addAndAwait((3L, base))
      val pairs = spark.table("neardup_ttl_out")
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(pairs === Set((2L, 3L)))
    } finally q.stop()
  }

  test("streaming near-dup cap: post-cap arrivals still pair against retained " +
      "state; only post-cap x post-cap pairs are the documented miss") {
    // the maxBucket contract (the streaming twin of the batch star
    // guard): a bucket at its cap stops RETAINING, never stops
    // COMPARING. With 4 identical docs and cap 2, docs 3/4 each pair
    // against retained 1/2 (so a dedup component still collapses —
    // every post-cap member links into the cluster), and the one
    // candidate the cap costs is (3,4): both past the cap, compared
    // only against state that excludes them — the same
    // within-cluster-beyond-the-representative miss class
    // HotBuckets.starSelfJoinCandidates logs in batch. A drained run
    // is therefore a SUBSET of the batch candidate set once the cap
    // fires (equality holds only below it — the q72 contract).
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight without looking back"
    val out = graft.streaming.NearDup.pairs(docs, maxHamming = 12,
      maxBucket = 2)
    val q = out.writeStream.format("memory").queryName("neardup_cap_out")
      .outputMode("append").start()
    try {
      // batch 1 fills every bucket to the cap (identical docs share
      // all maxHamming+1 band buckets); batches 2/3 arrive past it
      input.addData((1L, base), (2L, base))
      q.processAllAvailable()
      input.addData((3L, base))
      q.processAllAvailable()
      input.addData((4L, base))
      q.processAllAvailable()
      val pairs = spark.table("neardup_cap_out")
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(pairs === Set((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L)),
        "post-cap arrivals must pair against the retained state and " +
          "(3,4) must be the only missing pair")
      // the miss is exactly batch-minus-drained: the batch twin finds
      // all 6 pairs of the 4-clique
      val batch = graft.operators.Dedup.simHashDupPairs(
        (1L to 4L).map((_, base)).toDF("doc_id", "text"), maxHamming = 12)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(batch -- pairs === Set((3L, 4L)))
    } finally q.stop()
  }

  test("streaming near-dup restarted from its checkpoint still pairs " +
      "near-duplicates that cross the restart") {
    // the stop falls after batch 2: docs 1 and 3 then live only in the
    // restored bucket state, so only that state can pair batch 3's
    // near-duplicate of doc 1 and batch 4's copies of docs 1 and 3
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight without looking back"
    val other = "completely different words about catalyst optimizer " +
      "plans whole stage code generation and adaptive query execution"
    val batches = Seq(
      Seq((1L, base), (2L, "a short unrelated note on parquet footers")),
      Seq((3L, other)),
      Seq((4L, base + " extra")),
      Seq((5L, other), (6L, base)))
    assertRestartDrains(batches, stopAfter = 2) { (input, dir) =>
      graft.streaming.NearDup.pairs(input.toDF("doc_id", "text"),
          maxHamming = 12)
        .writeStream.format("parquet")
        .option("path", dir.resolve("out").toString)
        .option("checkpointLocation", dir.resolve("cp").toString)
        .outputMode("append").start()
    } { dir =>
      graft.streaming.NearDup.distinctPairs(
        spark.read.parquet(dir.resolve("out").toString)).collect().toSet
    }
  }

  test("built-in session_window aggregation on the stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val raw = input.toDF().selectExpr("cast(value as binary) as value")
    val out = Jobs.eventsPipeline(raw)
      .withWatermark("event_ts", "0 seconds")
      .groupBy(session_window($"event_ts", "15 minutes"), $"province")
      .agg(count(lit(1)).as("n"))
    val q = out.writeStream.format("memory").queryName("sess_win_out")
      .outputMode("append").start()
    try {
      // 3 events: two within 15min of each other, one far later
      input.addData(s"[${mkEvent(1, 0, 5.0)},${mkEvent(2, 10, 5.0)},${mkEvent(3, 50, 5.0)}]")
      q.processAllAvailable()
      // push the watermark with a far-future event (different province)
      input.addData("""[{"date":"2023-02-20T00:00:00","rms":"0","eventID":"9","location":"X","latitude":"1","longitude":"1","depth":"1","type":"Ke","magnitude":"1.0","country":"T","province":"Ankara","district":"D","neighborhood":"N","isEventUpdate":"false","lastUpdateDate":""}]""")
      q.processAllAvailable()
      val rows = spark.table("sess_win_out").filter($"province" === "Hatay")
        .select($"n").as[Long].collect().sorted
      assert(rows.toSeq === Seq(1L, 2L)) // one 2-event session, one singleton
    } finally q.stop()
  }

  test("stream-static decontamination join (q144's shape): multi-" +
      "batch delivery accumulates per-doc leak counts in complete " +
      "mode ≡ the batch gram overlap; clean docs emit nothing") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // benchmark doc with 10 tokens → three distinct 8-gram shingles
    val bench = Seq((0L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"))
      .toDF("doc_id", "text")
    val benchGrams = graft.operators.Dedup.benchmarkGrams(bench, n = 8)
    val input = MemoryStream[(Long, String)]
    val hits = input.toDF().toDF("doc_id", "text")
      .select($"doc_id",
        explode(graft.operators.Dedup.gramHashArray($"text", 8))
          .as("gram_h"))
      .join(benchGrams, Seq("gram_h"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_leaked"))
    val q = hits.writeStream.format("memory").queryName("sdecon_out")
      .outputMode("complete").start()
    try {
      // batch 1: doc 10 carries the benchmark's FIRST 8-gram verbatim
      // (w1..w8 contiguous); doc 11 is clean
      input.addData(
        (10L, "x0 w1 w2 w3 w4 w5 w6 w7 w8 y0"),
        (11L, "c1 c2 c3 c4 c5 c6 c7 c8 c9"))
      q.processAllAvailable()
      val after1 = spark.table("sdecon_out")
        .as[(Long, Long)].collect().toMap
      assert(after1 === Map(10L -> 1L), after1.toString)
      // batch 2: doc 12 carries TWO benchmark grams (w1..w9 spans the
      // w1..w8 and w2..w9 shingles); complete mode re-emits doc 10 too
      input.addData((12L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 z9 z8"))
      q.processAllAvailable()
      val after2 = spark.table("sdecon_out")
        .as[(Long, Long)].collect().toMap
      assert(after2 === Map(10L -> 1L, 12L -> 2L), after2.toString)
    } finally q.stop()
  }

  test("raw archiver passthrough preserves the Kafka source schema") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Array[Byte], Array[Byte], String, Int, Long, java.sql.Timestamp, Int)]
    val raw = input.toDF().toDF("key", "value", "topic", "partition", "offset", "timestamp", "timestampType")
    val dir = java.nio.file.Files.createTempDirectory("lake").toString
    val cp = java.nio.file.Files.createTempDirectory("cp").toString
    val q = Jobs.rawToParquet(raw, dir, cp).start()
    try {
      input.addData((Array[Byte](1), "payload".getBytes, "earthquakeRaw", 0, 0L,
        java.sql.Timestamp.valueOf("2023-02-06 04:17:00"), 0))
      q.processAllAvailable()
      val lake = spark.read.parquet(dir)
      assert(lake.count() === 1)
      assert(lake.columns.contains("ingest_date")) // date-partitioned lake
      assert(new String(lake.select("value").head().getAs[Array[Byte]](0)) === "payload")
    } finally q.stop()
  }

  test("lakeSource streams the raw archive back: the value and timestamp " +
      "rows rawToParquet wrote") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Array[Byte], Array[Byte], String, Int, Long, java.sql.Timestamp, Int)]
    val raw = input.toDF().toDF("key", "value", "topic", "partition", "offset", "timestamp", "timestampType")
    val dir = java.nio.file.Files.createTempDirectory("lake-src").toString
    val cp = java.nio.file.Files.createTempDirectory("cp").toString
    val sent = Seq("m1" -> "2023-02-06 04:17:00", "m2" -> "2023-02-07 09:30:00",
      "m3" -> "2023-02-07 10:00:00").map { case (v, ts) =>
        (v, java.sql.Timestamp.valueOf(ts)) }
    val archive = Jobs.rawToParquet(raw, dir, cp).start()
    try {
      input.addData(sent.zipWithIndex.map { case ((v, ts), i) =>
        (Array(i.toByte), v.getBytes("UTF-8"), "earthquakeRaw", 0, i.toLong, ts, 0)
      })
      archive.processAllAvailable()
    } finally archive.stop()
    val back = Jobs.lakeSource(spark, dir).writeStream
      .format("memory").queryName("lake_source_out")
      .outputMode("append").start()
    try {
      back.processAllAvailable()
      val got = spark.table("lake_source_out")
        .select($"value", $"timestamp")
        .as[(Array[Byte], java.sql.Timestamp)].collect()
        .map { case (v, ts) => (new String(v, "UTF-8"), ts) }
      assert(got.sortBy(_._1).toSeq === sent)
    } finally back.stop()
  }
}
