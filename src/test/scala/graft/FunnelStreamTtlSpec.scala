package graft

import graft.streaming.{EventTimeClose, FunnelStream}
import graft.streaming.FunnelStream.{State, StepEvent}
import java.time.Duration
import org.apache.spark.api.java.Optional
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}

class FunnelStreamTtlSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  private def latest(table: String) =
    spark.table(table)
      .groupBy($"user_id")
      .agg(max_by(struct($"ts", $"depth"), $"n_seen").as("f"))
      .select($"user_id", $"f.ts".as("ts"), $"f.depth".as("depth"))
      .as[(Long, Seq[Long], Long)].collect().toSet

  test("TTL variant with a generous window is IDENTICAL to the exact " +
      "twin across multi-batch late-event re-matching") {
    implicit val sqlCtx = spark.sqlContext
    // user 1 completes 0→1→2 but step 0 arrives LAST (origin rewrite);
    // user 2 stalls at depth 1; user 3 has an out-of-order non-match
    val b1 = Seq((1L, 200L, 1), (2L, 10L, 0), (3L, 50L, 2))
    val b2 = Seq((1L, 300L, 2), (3L, 60L, 1))
    val b3 = Seq((1L, 100L, 0), (3L, 70L, 0))

    val exactIn = MemoryStream[(Long, Long, Int)]
    val exact = FunnelStream.funnel(
      exactIn.toDF().toDF("user_id", "ts_us", "step")
        .withColumn("ts", timestamp_micros($"ts_us")), nSteps = 3)
    val qe = exact.toDF().writeStream.format("memory")
      .queryName("fttl_eq_exact").outputMode("append").start()
    val ttlIn = MemoryStream[(Long, Long, Int)]
    // 7-day window, 10-min lateness: nothing closes
    val ttl = FunnelStream.funnel(
      ttlIn.toDF().toDF("user_id", "ts_us", "step")
        .withColumn("ts", timestamp_micros($"ts_us")),
      nSteps = 3, close = Some(EventTimeClose(Duration.ofDays(7))))
    val qt = ttl.toDF().writeStream.format("memory")
      .queryName("fttl_eq_ttl").outputMode("append").start()
    try {
      Seq(b1, b2, b3).foreach { b =>
        exactIn.addData(b: _*); qe.processAllAvailable()
        ttlIn.addData(b: _*); qt.processAllAvailable()
      }
      val e = latest("fttl_eq_exact")
      val t = latest("fttl_eq_ttl")
      assert(t === e, s"ttl=$t\nexact=$e")
      // and the re-match actually happened: user 1 completed the
      // funnel only once its origin event landed
      assert(e.find(_._1 == 1L).get._3 === 3L)
      assert(e.find(_._1 == 3L).get._3 === 1L) // 2,1,0 order never matches
    } finally { qe.stop(); qt.stop() }
  }

  test("the watermark CLOSES an idle user to a tombstone; a post-close " +
      "step is dropped and the pre-close snapshot stays the winner") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Int, java.sql.Timestamp)]
    // 60-second observation window, zero lateness, zero watermark
    // delay: a user closes as soon as the watermark passes
    // first event + 60 s
    val out = FunnelStream.funnel(
      input.toDF().toDF("user_id", "ts_us", "step", "ts"), nSteps = 3,
      close = Some(EventTimeClose(Duration.ofSeconds(60), Duration.ZERO,
        "0 seconds")))
    val q = out.toDF().writeStream.format("memory")
      .queryName("fttl_close_out").outputMode("append").start()
    try {
      // batch 1: user 1 reaches depth 2 inside [5 s, 65 s)
      input.addData((1L, 5000000L, 0, ts(5)), (1L, 10000000L, 1, ts(10)))
      q.processAllAvailable()
      // batch 2: a far-future user advances the watermark past 65 s...
      input.addData((2L, 600000000L, 0, ts(600)))
      q.processAllAvailable()
      // batch 3: ...and the next batch fires user 1's close
      input.addData((2L, 610000000L, 1, ts(610)))
      q.processAllAvailable()
      // batch 4: user 1's step 2 arrives after the close — it must
      // emit nothing and must NOT beat the pre-close snapshot
      input.addData((1L, 20000000L, 2, ts(20)))
      q.processAllAvailable()
      val u1 = latest("fttl_close_out").filter(_._1 == 1L)
      assert(u1 === Set((1L, Seq(5000000L, 10000000L, -1L), 2L)),
        s"post-close step changed the funnel: $u1")
      // user 2 (still open) kept accumulating normally
      val u2 = latest("fttl_close_out").filter(_._1 == 2L)
      assert(u2 === Set((2L, Seq(600000000L, 610000000L, -1L), 2L)), u2)
    } finally q.stop()
  }

  test("observation window: a step past `first + window` is outside " +
      "the funnel — under-reported depth, never a phantom completion") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Int, java.sql.Timestamp)]
    // nothing closes; only the window acts
    val out = FunnelStream.funnel(
      input.toDF().toDF("user_id", "ts_us", "step", "ts"), nSteps = 2,
      close = Some(EventTimeClose(Duration.ofSeconds(60),
        Duration.ofDays(30), "30 days")))
    val q = out.toDF().writeStream.format("memory")
      .queryName("fttl_window_out").outputMode("append").start()
    try {
      // step 0 at 10 s anchors the window [10 s, 70 s]; step 1 at
      // 100 s is beyond it — buffered NOWHERE, depth stays 1
      input.addData((1L, 10000000L, 0, ts(10)))
      q.processAllAvailable()
      input.addData((1L, 100000000L, 1, ts(100)))
      q.processAllAvailable()
      // in-window step 1 at 50 s completes it
      input.addData((2L, 10000000L, 0, ts(10)))
      q.processAllAvailable()
      input.addData((2L, 50000000L, 1, ts(50)))
      q.processAllAvailable()
      val got = latest("fttl_window_out")
      assert(got === Set(
        (1L, Seq(10000000L, -1L), 1L),
        (2L, Seq(10000000L, 50000000L), 2L)), got.toString)
    } finally q.stop()
  }

  test("state machine via TestGroupState: tombstone drops; a stale-" +
      "window/fresh-watermark event finalizes instead of arming a " +
      "behind-watermark timeout; an origin rewrite re-anchors") {
    val f = FunnelStream.fn(nSteps = 2, cap = 100,
      Some(EventTimeClose(Duration.ofSeconds(60), Duration.ZERO))) _
    def ev(tsUs: Long, step: Int) = StepEvent(1L, tsUs, step)
    // 1. a CLOSED tombstone drops an arriving step — in-function, not
    // just the engine's late filter (which only vets ts)
    val closed = State(Nil, 7L, closed = true)
    val s1 = TestGroupState.create[State](
      Optional.of(closed), GroupStateTimeout.EventTimeTimeout,
      1000L, Optional.of(500000L), false)
    assert(f(1L, Iterator(ev(5000000L, 0)), s1).isEmpty)
    assert(!s1.isUpdated && !s1.isRemoved)
    // 2. poison pair: no prior state, watermark 500 s already past the
    // event's close (5 s + 60 s) — arming the timeout would throw and
    // crash-loop; the user must finalize silently
    val s2 = TestGroupState.create[State](
      Optional.empty[State], GroupStateTimeout.EventTimeTimeout,
      1000L, Optional.of(500000L), false)
    assert(f(1L, Iterator(ev(5000000L, 0)), s2).isEmpty)
    assert(s2.get.closed && s2.get.evs.isEmpty, s2.get.toString)
    assert(!s2.getTimeoutTimestampMs.isPresent,
      "no timeout may be armed behind the watermark")
    // 3. the timeout path: open state collapses to the tombstone,
    // n_seen pinned so the pre-close snapshot stays the winner
    val open = State(List((5000000L, 0)), 3L, closed = false)
    val s3 = TestGroupState.create[State](
      Optional.of(open), GroupStateTimeout.EventTimeTimeout,
      1000L, Optional.of(500000L), true)
    assert(f(1L, Iterator.empty, s3).isEmpty)
    assert(s3.get === State(Nil, 3L, closed = true))
    // 4. origin rewrite: a late EARLIER event re-anchors the window
    // to [50 s, 110 s]; the buffered step 1 at 100 s stays inside it
    // and the funnel completes from the rewritten origin
    val anchored = State(List((100000000L, 1)), 1L, closed = false)
    val s4 = TestGroupState.create[State](
      Optional.of(anchored), GroupStateTimeout.EventTimeTimeout,
      1000L, Optional.of(0L), false)
    val snap = f(1L, Iterator(ev(50000000L, 0)), s4).toList
    assert(snap.map(s => (s.ts, s.depth)) ===
      List((Seq(50000000L, 100000000L), 2L)), snap.toString)
    // ...and a buffered step NOW outside the rewritten window drops
    // from the buffer: anchor 50 s, window 60 s → 120 s is out
    val anchored2 = State(List((120000000L, 1)), 1L, closed = false)
    val s5 = TestGroupState.create[State](
      Optional.of(anchored2), GroupStateTimeout.EventTimeTimeout,
      1000L, Optional.of(0L), false)
    val snap2 = f(1L, Iterator(ev(50000000L, 0)), s5).toList
    assert(snap2.map(s => (s.ts, s.depth)) ===
      List((Seq(50000000L, -1L), 1L)), snap2.toString)
    assert(s5.get.evs === List((50000000L, 0)))
    // 5. an origin rewrite whose window is ALREADY past the watermark
    // finalizes now — prior emissions stand
    val s6 = TestGroupState.create[State](
      Optional.of(anchored), GroupStateTimeout.EventTimeTimeout,
      1000L, Optional.of(500000L), false)
    assert(f(1L, Iterator(ev(5000000L, 0)), s6).isEmpty)
    assert(s6.get === State(Nil, 1L, closed = true))
  }

  test("n_seen counts only ACCEPTED events: an all-out-of-window batch " +
      "emits nothing, leaves state untouched, and re-arms the close") {
    val f = FunnelStream.fn(nSteps = 2, cap = 100,
      Some(EventTimeClose(Duration.ofSeconds(60), Duration.ZERO))) _
    def ev(tsUs: Long, step: Int) = StepEvent(1L, tsUs, step)
    // open funnel anchored at 10 s (window [10 s, 70 s]); an event at
    // 100 s is outside it — previously it bumped n_seen while being
    // dropped, silently diverging the twins' tags
    val open = State(List((10000000L, 0)), 1L, closed = false)
    val s = TestGroupState.create[State](
      Optional.of(open), GroupStateTimeout.EventTimeTimeout,
      1000L, Optional.of(0L), false)
    assert(f(1L, Iterator(ev(100000000L, 1)), s).isEmpty,
      "an out-of-window-only batch must not emit a snapshot")
    assert(!s.isUpdated, "state must be untouched — n_seen stays pinned")
    assert(s.getTimeoutTimestampMs.isPresent,
      "the close must be re-armed (the engine clears it per invocation)")
    // ...and a subsequent IN-window event counts exactly itself
    val s2 = TestGroupState.create[State](
      Optional.of(open), GroupStateTimeout.EventTimeTimeout,
      1000L, Optional.of(0L), false)
    val snap = f(1L, Iterator(ev(100000000L, 1), ev(20000000L, 1)), s2)
      .toList
    assert(snap.map(_.n_seen) === List(2L),
      s"n_seen must be prev(1) + accepted(1), got $snap")
  }

  test("the close instant rounds micros UP to the enclosing " +
      "millisecond — a watermark at floor(close) must not finalize") {
    // window end 5 s + 60.0005 s = 65.0005 s → 65001 ms ceil; flooring
    // to 65000 ms would close up to 999 µs before the window's end
    val f = FunnelStream.fn(nSteps = 2, cap = 100,
      Some(EventTimeClose(Duration.ofNanos(60000500000L), Duration.ZERO))) _
    val s = TestGroupState.create[State](
      Optional.empty[State], GroupStateTimeout.EventTimeTimeout,
      1000L, Optional.of(65000L), false)
    val snap = f(1L, Iterator(StepEvent(1L, 5000000L, 0)), s)
      .toList
    assert(snap.map(_.depth) === List(1L),
      "watermark 65000 ms is inside the 65000.5 ms window — must emit")
    assert(s.getTimeoutTimestampMs.isPresent &&
      s.getTimeoutTimestampMs.get === 65001L,
      s"close must arm at ceil = 65001 ms, got ${s.getTimeoutTimestampMs}")
  }

  test("funnel() derives ts_us from ts — an inconsistent caller-" +
      "supplied ts_us column cannot skew the close/late-filter math") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Int, java.sql.Timestamp)]
    // caller supplies a GARBAGE ts_us (raw seconds, not micros); the
    // operator must overwrite it with unix_micros(ts)
    val out = FunnelStream.funnel(
      input.toDF().toDF("user_id", "ts_us", "step", "ts"), nSteps = 2,
      close = Some(EventTimeClose(Duration.ofSeconds(60),
        Duration.ofDays(30), "30 days")))
    val q = out.toDF().writeStream.format("memory")
      .queryName("fttl_derive_out").outputMode("append").start()
    try {
      input.addData((1L, 10L, 0, ts(10)), (1L, 50L, 1, ts(50)))
      q.processAllAvailable()
      val got = latest("fttl_derive_out")
      assert(got === Set((1L, Seq(10000000L, 50000000L), 2L)),
        s"snapshots must carry derived micro timestamps: $got")
    } finally q.stop()
  }

  test("guards: cap below nSteps, zero window, negative lateness") {
    val df = Seq((1L, 0L, 0, ts(0))).toDF("user_id", "ts_us", "step", "ts")
    intercept[IllegalArgumentException] {
      FunnelStream.funnel(df, nSteps = 3, cap = 2) }
    intercept[IllegalArgumentException] {
      FunnelStream.funnel(df, nSteps = 3,
        close = Some(EventTimeClose(Duration.ZERO))) }
    intercept[IllegalArgumentException] {
      FunnelStream.funnel(df, nSteps = 3, close = Some(EventTimeClose(
        Duration.ofDays(7), Duration.ofMinutes(-1)))) }
  }
}
