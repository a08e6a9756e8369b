package graft

import graft.streaming.AnomalyStream
import graft.streaming.AnomalyStream.{MinuteEvent, State}
import org.apache.spark.api.java.Optional
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}

class AnomalyStreamTtlSpec extends SparkSpec {
  import spark.implicits._

  private def maxSeen(table: String) =
    spark.table(table)
      .groupBy($"key", $"m")
      .agg(max_by(struct($"n", $"z"), $"seen").as("f"))
      .select($"key", $"m", $"f.n".as("n"), $"f.z".as("z"))
      .as[(String, Long, Long, Option[Double])].collect().toSet

  test("TTL variant with generous bounds is IDENTICAL to the exact " +
      "twin across multi-batch late-event re-scoring") {
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq(0L -> 2, 1L -> 3, 2L -> 2, 4L -> 3, 5L -> 2)
      .flatMap { case (m, c) => Seq.fill(c)(("A", m)) }
    val b2 = Seq.fill(4)(("A", 2L)) ++ Seq(("A", 6L), ("A", 6L), ("A", 7L))

    def run(name: String, mk: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.Dataset[AnomalyStream.ZRow]) = {
      val input = MemoryStream[(String, Long)]
      val q = mk(input.toDF().toDF("key", "m")).toDF()
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        input.addData(b1: _*); q.processAllAvailable()
        input.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      maxSeen(name)
    }
    val exact = run("ttl_eq_exact",
      ev => AnomalyStream.zScores(ev, trailing = 3))
    val ttl = run("ttl_eq_ttl",
      ev => AnomalyStream.zScores(ev, trailing = 3,
        keepMinutes = Some(10000L)))
    assert(ttl === exact, s"ttl=$ttl\nexact=$exact")
    assert(ttl.nonEmpty)
  }

  test("retention prune + late drop: below-horizon events are " +
      "discarded, emissions stay a retention-exact subset of the twin") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    // keepMinutes=6, trailing=3: a span reaching minute 9 trusts [4, 9]
    val out = AnomalyStream.zScores(input.toDF().toDF("key", "m"),
      trailing = 3, keepMinutes = Some(6L))
    val q = out.toDF().writeStream.format("memory")
      .queryName("ttl_prune_out").outputMode("append").start()
    try {
      // batch 1: minutes 0..5 (span 6 = keep, no prune yet)
      input.addData((0L to 5L).flatMap(m =>
        Seq.fill(2)(("A", m))): _*)
      q.processAllAvailable()
      val afterB1 = maxSeen("ttl_prune_out")
      // horizon 0: scored minutes 3..5, constant n=2 → zero variance
      assert(afterB1.map(_._2) === Set(3L, 4L, 5L))
      // batch 2: minutes 8..9 → hi=9, horizon advances to 4
      input.addData(("A", 8L), ("A", 9L))
      q.processAllAvailable()
      val afterB2 = maxSeen("ttl_prune_out")
      // scoreable minutes now [4+3, 9] = 7..9; minutes 3..5 keep their
      // OLD emissions (never revised), minutes 6..9 score from the
      // retained [4..9] counts
      assert(afterB2.map(_._2) === Set(3L, 4L, 5L, 7L, 8L, 9L))
      // batch 3: a LATE event below the horizon (minute 2) must be
      // dropped — no new rows, no revision, seen unchanged on re-read
      val seenBefore = spark.table("ttl_prune_out")
        .agg(max($"seen")).as[Long].head()
      input.addData(("A", 2L))
      q.processAllAvailable()
      val afterB3 = maxSeen("ttl_prune_out")
      assert(afterB3 === afterB2, "a below-horizon late event re-opened rows")
      val seenAfter = spark.table("ttl_prune_out")
        .agg(max($"seen")).as[Long].head()
      assert(seenAfter === seenBefore, "dropped event still bumped seen")
      // retention-exactness: every emitted row for the POST-PRUNE
      // minutes equals the exact twin computed over the span the
      // variant retained ([4..9] with known-zero fill)
      val twin = graft.operators.Anomaly.rateZScores(
          (Seq(4L, 5L).flatMap(m => Seq.fill(2)(m)) ++ Seq(8L, 9L))
            .map(m => ("A", new java.sql.Timestamp(m * 60000L)))
            .toDF("key", "ts"),
          "key", "ts", trailing = 3)
        .select($"key",
          expr("unix_micros(minute_start) div 60000000").as("m"),
          $"n", $"z")
        .as[(String, Long, Long, Option[Double])].collect().toSet
      assert(afterB3.filter(_._2 >= 7L) === twin, s"got=$afterB3\ntwin=$twin")
    } finally q.stop()
  }

  test("idle decay via TestGroupState: timeout collapses to the " +
      "tombstone; a late event past TTL re-opens NOTHING; a fresh " +
      "event re-warms from scratch") {
    val ttl = Some(java.time.Duration.ofMinutes(5))
    val f = AnomalyStream.fn(trailing = 3, keepMinutes = Some(100L), ttl) _

    // live state: key A with minutes 0..5 (two events each), horizon 0
    val live = State((0L to 5L).map(_ -> 2L).toMap, 0L, 12L)

    // 1. the timeout invocation: state decays to the tombstone
    val tState = TestGroupState.create[State](
      Optional.of(live), GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long], true)
    assert(f("A", Iterator.empty, tState).isEmpty)
    val tomb = tState.get
    assert(tomb.counts.isEmpty && tomb.horizon === 6L && tomb.seen === 12L)
    assert(!tState.getTimeoutTimestampMs.isPresent,
      "tombstone must not re-arm a timeout")

    // 2. a late event for the dead span (minute 4 < horizon 6): dropped,
    // state untouched except the re-armed TTL, zero emissions
    val s2 = TestGroupState.create[State](
      Optional.of(tomb), GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long], false)
    assert(f("A", Iterator(MinuteEvent("A", 4L)), s2).isEmpty)
    assert(!s2.isUpdated && !s2.isRemoved,
      "a dropped late event must not touch the tombstone")

    // 3. fresh events start a NEW span that warms up from scratch:
    // minutes 10..12 (span 3 = trailing) score nothing yet...
    val s3 = TestGroupState.create[State](
      Optional.of(tomb), GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long], false)
    val warm = f("A", (10L to 12L).iterator.map(MinuteEvent("A", _)), s3)
    assert(warm.isEmpty, "a re-warming span must not score early")
    val s3v = s3.get
    assert(s3v.horizon === 10L && s3v.seen === 15L)
    // ...and minute 13 completes the first full window → exactly one row
    val s4 = TestGroupState.create[State](
      Optional.of(s3v), GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long], false)
    val scored = f("A", Iterator(MinuteEvent("A", 13L)), s4).toSeq
    assert(scored.map(r => (r.m, r.n)) === Seq((13L, 1L)), scored.toString)
  }

  test("a corrupt far-future timestamp cannot silently blackhole a " +
      "key: the next genuine event dies LOUDLY instead of dropping " +
      "as 'late' forever") {
    val ttl = Option.empty[java.time.Duration]
    val f = AnomalyStream.fn(trailing = 3, keepMinutes = Some(100L), ttl) _
    // a corrupt year-9999 minute poisons the horizon...
    val s1 = TestGroupState.create[State](
      Optional.of(State(Map(1000L -> 2L), 1000L, 2L)),
      GroupStateTimeout.NoTimeout, 1000L, Optional.empty[Long], false)
    // (the corrupt event itself scores its own pruned span — the
    // emissions are a symptom; the poisoned HORIZON is the issue)
    f("A", Iterator(MinuteEvent("A", 5000000000L)), s1).toList
    val poisoned = s1.get
    assert(poisoned.horizon === 5000000000L - 99L)
    // ...and the next REAL event (minute ~1001, billions below the
    // horizon) must fail loudly, not vanish
    val s2 = TestGroupState.create[State](
      Optional.of(poisoned), GroupStateTimeout.NoTimeout, 1000L,
      Optional.empty[Long], false)
    val e = intercept[IllegalArgumentException] {
      f("A", Iterator(MinuteEvent("A", 1001L)), s2).toList
    }
    assert(e.getMessage.contains("corrupt timestamp"), e.getMessage)
    // merely-late events (within keepMinutes of the horizon) still
    // drop SILENTLY — the documented under-report class
    val s3 = TestGroupState.create[State](
      Optional.of(State(Map(500L -> 1L), 450L, 1L)),
      GroupStateTimeout.NoTimeout, 1000L, Optional.empty[Long], false)
    assert(f("A", Iterator(MinuteEvent("A", 400L)), s3).isEmpty)
    assert(!s3.isUpdated)
  }

  test("a DECAY-set horizon carries no corruption bound: a producer " +
      "offline past keepMinutes flushing its buffer drops silently " +
      "(counted), never crash-loops the query") {
    val acc = spark.sparkContext.longAccumulator("ttl_dropped")
    val f = AnomalyStream.fn(trailing = 3, keepMinutes = Some(100L),
      Option.empty[java.time.Duration], Some(acc)) _
    // idle decay left a tombstone at horizon 100000 (decayed = true);
    // the producer's flushed buffer is WEEKS below it — under the
    // live-data rule (100000 - 1000 ≫ keepMinutes=100) this would
    // require-fail and, on checkpoint replay, fail again forever
    val tomb = State(Map.empty, 100000L, 50L, decayed = true)
    val s1 = TestGroupState.create[State](
      Optional.of(tomb), GroupStateTimeout.NoTimeout, 1000L,
      Optional.empty[Long], false)
    assert(f("A", (1000L to 1002L).iterator.map(MinuteEvent("A", _)),
      s1).isEmpty)
    assert(!s1.isUpdated && !s1.isRemoved,
      "a dropped flush must not touch the tombstone")
    assert(acc.value === 3L, "each dropped event must be counted")
    // but the SAME distance below a LIVE horizon still dies loudly —
    // the decay flag narrows the require, it does not remove it
    val live = State(Map(100000L -> 1L), 100000L, 1L)
    val s2 = TestGroupState.create[State](
      Optional.of(live), GroupStateTimeout.NoTimeout, 1000L,
      Optional.empty[Long], false)
    val e = intercept[IllegalArgumentException] {
      f("A", Iterator(MinuteEvent("A", 1000L)), s2).toList
    }
    assert(e.getMessage.contains("corrupt timestamp"), e.getMessage)
    // and an accepted batch on top of a tombstone resets the flag:
    // the new span's horizon is live-set again
    val s3 = TestGroupState.create[State](
      Optional.of(tomb), GroupStateTimeout.NoTimeout, 1000L,
      Optional.empty[Long], false)
    f("A", Iterator(MinuteEvent("A", 100005L)), s3).toList
    assert(!s3.get.decayed, "accepted events must clear the decay flag")
  }

  test("guards: keepMinutes must exceed trailing") {
    intercept[IllegalArgumentException] {
      AnomalyStream.zScores(
        Seq(("A", 1L)).toDF("key", "m"), trailing = 30,
        keepMinutes = Some(30L))
    }
  }
}
