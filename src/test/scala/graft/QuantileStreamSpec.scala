package graft

import graft.streaming.{EventTimeClose, QuantileStream}
import java.time.Duration
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class QuantileStreamSpec extends SparkSpec {
  import spark.implicits._

  test("streaming windowed quantiles: late events re-rank already-" +
      "emitted windows; drained max-seen ≡ the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Long)]
    val out = QuantileStream.quantiles(
      input.toDF().toDF("key", "w", "qv"), pcts = Seq(50, 95))
    val q = out.toDF().writeStream.format("memory")
      .queryName("qstream_out").outputMode("append").start()
    try {
      // batch 1: window (A, 0) sees qv 10,20,30 → p50 = 20
      input.addData(("A", 0L, 10L), ("A", 0L, 20L), ("A", 0L, 30L))
      q.processAllAvailable()
      val first = spark.table("qstream_out")
        .filter($"pct" === 50).select($"est").as[Double].collect().toSeq
      assert(first === Seq(0.002), first.toString)
      // batch 2: two LATE low values shift the median down (n=5,
      // rank 3 → qv 10), plus a second window (B)
      input.addData(("A", 0L, 1L), ("A", 0L, 2L), ("B", 0L, 7L))
      q.processAllAvailable()
      val got = spark.table("qstream_out")
        .groupBy($"key", $"w", $"pct")
        .agg(max_by(struct($"n", $"est"), $"seen").as("f"))
        .select($"key", $"pct", $"f.n".as("n"), $"f.est".as("est"))
        .as[(String, Long, Long, Double)].collect().toSet
      assert(got === Set(
        ("A", 50L, 5L, 0.001), // rank 3 of {1,2,10,20,30}
        ("A", 95L, 5L, 0.003), // rank ⌈4.75⌉ = 5 → qv 30
        ("B", 50L, 1L, 0.0007),
        ("B", 95L, 1L, 0.0007)), got.toString)
    } finally q.stop()
  }

  test("drained stream ≡ batch operator on a multi-window multi-key " +
      "corpus (the q118 contract at spec scale)") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 08:00:00").getTime
    val raw = (0 until 200).map { i =>
      (s"k${i % 3}", new java.sql.Timestamp(t0 + (i % 7) * 3600000L),
        (i * 37 % 50) / 10.0 - 1.5)
    }
    val batch = graft.operators.WindowedQuantiles.quantiles(
        raw.toDF("k", "ts", "v"), "k", "ts", "v", "hour", Seq(50, 95))
      .select($"key", unix_micros($"window_start").as("wus"),
        $"pct", $"n", $"est")
      .as[(String, Long, Long, Long, Double)].collect().toSet
    val input = MemoryStream[(String, Long, Double)]
    val ev = input.toDF().toDF("key", "ts_us", "v")
      .select($"key", expr("ts_us div 3600000000 * 3600").as("w"),
        graft.operators.WindowedQuantiles.quantizedValue($"v").as("qv"))
    val out = QuantileStream.quantiles(ev, pcts = Seq(50, 95))
    val q = out.toDF().writeStream.format("memory")
      .queryName("qstream_eq_out").outputMode("append").start()
    try {
      // three shuffled batches — exactness must not depend on order
      val shuffled = scala.util.Random.shuffle(
        raw.map { case (k, ts, v) => (k, ts.getTime * 1000L, v) }.toList)
      shuffled.grouped(70).foreach { b =>
        input.addData(b: _*); q.processAllAvailable()
      }
      val drained = spark.table("qstream_eq_out")
        .groupBy($"key", $"w", $"pct")
        .agg(max_by(struct($"n", $"est"), $"seen").as("f"))
        .select($"key", ($"w" * 1000000L).as("wus"),
          $"pct".cast("long"), $"f.n".as("n"), $"f.est".as("est"))
        .as[(String, Long, Long, Long, Double)].collect().toSet
      assert(drained === batch,
        s"drained=${drained.toSeq.sortBy(t => (t._1, t._2, t._3))}\n" +
          s"batch=${batch.toSeq.sortBy(t => (t._1, t._2, t._3))}")
    } finally q.stop()
  }

  test("TTL variant: the watermark CLOSES a window to a tombstone; a " +
      "post-close straggler re-opens nothing and the pre-close answer " +
      "stays the max-seen winner") {
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val input = MemoryStream[(String, Long, Long, java.sql.Timestamp)]
    // 60-second windows, zero lateness, 0-second watermark delay: the
    // close fires as soon as the watermark passes the window end
    val out = QuantileStream.quantiles(
      input.toDF().toDF("key", "w", "qv", "ts"), pcts = Seq(50),
      close = Some(EventTimeClose(Duration.ofSeconds(60), Duration.ZERO,
        "0 seconds")))
    val q = out.toDF().writeStream.format("memory")
      .queryName("qttl_out").outputMode("append").start()
    try {
      // batch 1: window 0 sees qv {10, 20, 30} → p50 = 20, seen 3
      input.addData(("A", 0L, 10L, ts(5)), ("A", 0L, 20L, ts(10)),
        ("A", 0L, 30L, ts(20)))
      q.processAllAvailable()
      // batch 2: far-future events advance the watermark past 60 s...
      input.addData(("A", 600L, 7L, ts(650)))
      q.processAllAvailable()
      // batch 3: ...and the next batch fires window 0's close
      input.addData(("A", 600L, 9L, ts(660)))
      q.processAllAvailable()
      // batch 4: a straggler for the CLOSED window 0 — must emit
      // nothing for w=0 and must NOT beat the final answer
      input.addData(("A", 0L, 1L, ts(30)))
      q.processAllAvailable()
      val w0 = spark.table("qttl_out").filter($"w" === 0L)
        .groupBy($"key", $"w", $"pct")
        .agg(max_by(struct($"n", $"est"), $"seen").as("f"),
          max($"seen").as("max_seen"))
        .select($"f.n", $"f.est", $"max_seen")
        .as[(Long, Double, Long)].collect().toSeq
      assert(w0 === Seq((3L, 0.002, 3L)),
        s"post-close straggler changed the answer: $w0")
      // the open window 600 kept accumulating normally
      val w600 = spark.table("qttl_out").filter($"w" === 600L)
        .groupBy($"pct")
        .agg(max_by(struct($"n", $"est"), $"seen").as("f"))
        .select($"f.n", $"f.est").as[(Long, Double)].collect().toSeq
      assert(w600 === Seq((2L, 0.0007)), w600.toString)
    } finally q.stop()
  }

  test("TTL state machine via TestGroupState: the tombstone branch " +
      "actually drops (the engine's late filter can't be the only " +
      "defense), and a stale-window/fresh-ts poison event finalizes " +
      "instead of arming a behind-watermark timeout") {
    import graft.streaming.QuantileStream.{QEvent, State}
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val f = QuantileStream.fn(Seq(50), 1000L,
      Some(EventTimeClose(Duration.ofSeconds(60), Duration.ZERO))) _
    def ev(w: Long, qv: Long) = QEvent("A", w, qv)
    // 1. a CLOSED tombstone drops an arriving twin — this is the
    // in-function guarantee, independent of Spark's event-time filter
    // (which only vets ts, not w)
    val closed = State(Map.empty, 7L, closed = true)
    val s1 = TestGroupState.create[State](
      Optional.of(closed), GroupStateTimeout.EventTimeTimeout,
      1000L, Optional.of(500000L), false)
    assert(f(("A", 0L), Iterator(ev(0L, 5L)), s1).isEmpty)
    assert(!s1.isUpdated && !s1.isRemoved)
    // 2. poison pair: fresh ts (passes the engine's late filter), w so
    // stale its close time is behind the watermark, NO prior state —
    // arming the timeout would throw and crash-loop the query; the
    // group must finalize to a tombstone and emit nothing
    val s2 = TestGroupState.create[State](
      Optional.empty[State], GroupStateTimeout.EventTimeTimeout,
      1000L, Optional.of(500000L), false) // watermark 500 s >> close 60 s
    assert(f(("A", 0L), Iterator(ev(0L, 5L)), s2).isEmpty)
    val tomb = s2.get
    assert(tomb.closed && tomb.counts.isEmpty,
      s"stale window must finalize, got $tomb")
    assert(!s2.getTimeoutTimestampMs.isPresent,
      "no timeout may be armed behind the watermark")
    // 3. the timeout path itself: open state collapses to the tombstone
    val open = State(Map(10L -> 2L), 2L, closed = false)
    val s3 = TestGroupState.create[State](
      Optional.of(open), GroupStateTimeout.EventTimeTimeout,
      1000L, Optional.of(500000L), true)
    assert(f(("A", 0L), Iterator.empty, s3).isEmpty)
    assert(s3.get === State(Map.empty, 2L, closed = true))
    // 4. negative lateness is rejected up front
    intercept[IllegalArgumentException] {
      QuantileStream.quantiles(
        Seq(("A", 0L, 1L, new java.sql.Timestamp(0L)))
          .toDF("key", "w", "qv", "ts"),
        close = Some(EventTimeClose(Duration.ofHours(1),
          Duration.ofMinutes(-1))))
    }
  }

  test("maxDistinct guard fires in the stream; pct guards reject bad input") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Long)]
    val out = QuantileStream.quantiles(
      input.toDF().toDF("key", "w", "qv"), pcts = Seq(50), maxDistinct = 2L)
    val q = out.toDF().writeStream.format("memory")
      .queryName("qstream_guard_out").outputMode("append").start()
    try {
      input.addData(("A", 0L, 1L), ("A", 0L, 2L), ("A", 0L, 3L))
      val e = intercept[Exception] { q.processAllAvailable() }
      def msgs(t: Throwable): String =
        if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
      assert(msgs(e).contains("maxDistinct"), msgs(e))
    } finally q.stop()
    intercept[IllegalArgumentException] {
      QuantileStream.quantiles(
        Seq(("A", 0L, 1L)).toDF("key", "w", "qv"), pcts = Seq(0))
    }
  }
}
