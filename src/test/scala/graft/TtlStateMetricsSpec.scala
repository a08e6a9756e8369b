package graft

import graft.streaming.{AnomalyStream, EventTimeClose, FunnelStream,
  QuantileStream}
import java.time.Duration
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** State-store METRICS gate for the bounded-state monitors (the three
  * fMGWS monitors with their bound set + the windowed decon monitor;
  * test names keep the former `*Ttl` operator names): the boundedness
  * contracts ("an open key costs one state row; a closed key costs
  * EXACTLY one tombstone row, forever") asserted through the engine's
  * own `lastProgress.stateOperators` accounting, not just through
  * behavior walks. This is what an operator would watch in
  * production, so the spec pins that the numbers it reports actually
  * track the documented bounds:
  *   - numRowsTotal == distinct groups ever seen (open or closed) —
  *     a close never REMOVES the row (that would re-open the
  *     straggler-overwrite miss class) and never DUPLICATES it;
  *   - a post-close straggler leaves the row count unchanged (drops
  *     re-create nothing);
  *   - numRowsRemoved stays 0 across every batch — tombstones are
  *     state UPDATES, never removals. */
class TtlStateMetricsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  /** numRowsTotal summed over state operators of the latest progress
    * that carries state metrics. */
  private def stateRows(q: StreamingQuery): Long =
    (q.recentProgress ++ Option(q.lastProgress))
      .filter(_.stateOperators.nonEmpty)
      .lastOption.map(_.stateOperators.map(_.numRowsTotal).sum)
      .getOrElse(-1L)

  private def totalRemoved(q: StreamingQuery): Long =
    (q.recentProgress ++ Option(q.lastProgress))
      .flatMap(_.stateOperators).map(_.numRowsRemoved).sum

  test("FunnelStreamTtl: open users cost one state row each; the " +
      "watermark close converts to EXACTLY one tombstone row; a " +
      "post-close straggler re-creates nothing") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Int, java.sql.Timestamp)]
    val out = FunnelStream.funnel(
      input.toDF().toDF("user_id", "ts_us", "step", "ts"), nSteps = 3,
      close = Some(EventTimeClose(Duration.ofSeconds(60), Duration.ZERO,
        "0 seconds")))
    val q = out.toDF().writeStream.format("memory")
      .queryName("fttl_metrics_out").outputMode("append").start()
    try {
      // two users open: one row each
      input.addData((1L, 0L, 0, ts(5)), (2L, 0L, 0, ts(8)))
      q.processAllAvailable()
      assert(stateRows(q) === 2L, "2 open users must cost 2 state rows")
      // a far-future user advances the watermark past both closes
      // (5 s + 60 s and 8 s + 60 s): users 1 and 2 tombstone — the
      // rows are KEPT (2 tombstones + 1 open = 3), neither removed
      // (straggler-overwrite protection) nor duplicated
      input.addData((3L, 0L, 0, ts(600)))
      q.processAllAvailable()
      assert(stateRows(q) === 3L,
        "close must cost exactly one tombstone row per user: " +
          s"expected 3 rows, got ${stateRows(q)}")
      // a fresh-timestamp straggler for CLOSED user 1 reaches fn
      // (the engine's late filter only vets ts) and must drop without
      // re-creating or duplicating state
      input.addData((1L, 0L, 2, ts(700)))
      q.processAllAvailable()
      assert(stateRows(q) === 3L,
        "a post-close straggler must not change the state row count")
      assert(totalRemoved(q) === 0L,
        "tombstones are updates — numRowsRemoved must stay 0")
    } finally q.stop()
  }

  test("QuantileStreamTtl: one row per open (key, window) group; the " +
      "event-time close keeps exactly one tombstone row per group") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Long, java.sql.Timestamp)]
    val out = QuantileStream.quantiles(
      input.toDF().toDF("key", "w", "qv", "ts"), pcts = Seq(50),
      close = Some(EventTimeClose(Duration.ofSeconds(60), Duration.ZERO,
        "0 seconds")))
    val q = out.toDF().writeStream.format("memory")
      .queryName("qttl_metrics_out").outputMode("append").start()
    try {
      // two open (key, w=0) groups
      input.addData(("a", 0L, 100L, ts(10)), ("b", 0L, 200L, ts(20)))
      q.processAllAvailable()
      assert(stateRows(q) === 2L, "2 open windows must cost 2 state rows")
      // watermark passes w=0's close (60 s): both groups tombstone,
      // the new far-future window opens — 3 rows total
      input.addData(("a", 600L, 300L, ts(610)))
      q.processAllAvailable()
      assert(stateRows(q) === 3L,
        "close must cost exactly one tombstone row per window: " +
          s"expected 3 rows, got ${stateRows(q)}")
      // fresh-ts straggler into the CLOSED (a, 0) window: drops in fn,
      // re-creates nothing
      input.addData(("a", 0L, 400L, ts(700)))
      q.processAllAvailable()
      assert(stateRows(q) === 3L,
        "a post-close straggler must not change the state row count")
      assert(totalRemoved(q) === 0L,
        "tombstones are updates — numRowsRemoved must stay 0")
    } finally q.stop()
  }

  test("AnomalyStreamTtl: one row per key; idle decay keeps exactly " +
      "one tombstone row per key (observed via the decay batch's " +
      "numRowsUpdated), and fresh keys add rows on top") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val out = AnomalyStream.zScores(
      input.toDF().toDF("key", "m"), trailing = 2, keepMinutes = Some(10L),
      stateTtl = Some(Duration.ofSeconds(2)))
    // processing-time timeouts spin a batch every trigger forever, so
    // processAllAvailable never settles — the NearDup TTL pattern:
    // real trigger interval + polled progress
    val q = out.toDF().writeStream.format("memory")
      .queryName("attl_metrics_out")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("250 milliseconds"))
      .outputMode("append").start()
    def addAndAwait(rows: (String, Long)*): Unit = {
      val off = input.addData(rows).json.trim.toLong
      val deadline = System.currentTimeMillis + 60000
      def done = q.recentProgress.exists(p => p.sources.nonEmpty &&
        Option(p.sources.head.endOffset).exists(_.trim.toLong >= off))
      while (!done && System.currentTimeMillis < deadline)
        Thread.sleep(50)
      assert(done, s"stream never committed offset $off")
    }
    def awaitRows(n: Long): Unit = {
      val deadline = System.currentTimeMillis + 60000
      while (stateRows(q) != n && System.currentTimeMillis < deadline)
        Thread.sleep(50)
      assert(stateRows(q) === n)
    }
    try {
      addAndAwait(("k1", 100L), ("k1", 101L), ("k2", 200L))
      awaitRows(2L) // one row per key, independent of minutes held
      // wait for the idle-decay batch BY OBSERVATION: a no-input batch
      // whose state operator updated >= 2 rows is the TTL collapse
      val deadline = System.currentTimeMillis + 120000
      def decayed = q.recentProgress.exists(p =>
        p.numInputRows == 0L && p.stateOperators.nonEmpty &&
          p.stateOperators.map(_.numRowsUpdated).sum >= 2L)
      while (!decayed && System.currentTimeMillis < deadline)
        Thread.sleep(100)
      assert(decayed, "the idle-decay batch never ran")
      // the decay UPDATED the rows to tombstones — count unchanged
      awaitRows(2L)
      assert(totalRemoved(q) === 0L,
        "idle decay is an update to the tombstone, never a removal")
      // a genuinely new key re-warms on top of the tombstones
      addAndAwait(("k3", 300L))
      awaitRows(3L)
    } finally q.stop()
  }

  test("windowed decon monitor (q149's shape): state holds ONLY " +
      "open-window groups — closed day-windows emit exactly once then " +
      "EVICT (engine removal, the built-in-watermark contract, unlike " +
      "the fMGWS tombstones above), and a straggler below the " +
      "watermark re-creates nothing") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    // every synthetic gram hits the 1-row static benchmark side, so
    // each (doc, sec) event is one leaked-gram hit — the q149 plan
    // shape (stream-static join → watermarked windowed count) with
    // the gram arithmetic held constant
    val bench = Seq(1L).toDF("gram_h")
    val ev = input.toDF().toDF("doc_id", "sec")
      .select($"doc_id",
        org.apache.spark.sql.functions.timestamp_seconds($"sec").as("ts"),
        org.apache.spark.sql.functions.lit(1L).as("gram_h"))
      .withWatermark("ts", "0 seconds")
    val agg = ev.join(bench, Seq("gram_h"))
      .groupBy(org.apache.spark.sql.functions.window($"ts", "1 day"),
        $"doc_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_leaked"))
      .select($"doc_id", $"n_leaked")
    val q = agg.writeStream.format("memory")
      .queryName("decon_ttl_metrics_out").outputMode("append").start()
    try {
      // batch 1: docs 1 (two grams) and 2, both day 0 — windows open,
      // nothing emits, one state row per (window, doc) group
      input.addData((1L, 100L), (1L, 200L), (2L, 300L))
      q.processAllAvailable()
      assert(spark.table("decon_ttl_metrics_out").count() === 0L)
      assert(stateRows(q) === 2L)
      // batch 2: doc 3 lands on day 2 → watermark passes day 0's end:
      // day-0 groups EMIT once with their full counts and EVICT
      input.addData((3L, 2L * 86400L + 10L))
      q.processAllAvailable()
      val emitted = spark.table("decon_ttl_metrics_out")
        .as[(Long, Long)].collect().toSet
      assert(emitted === Set((1L, 2L), (2L, 1L)), emitted.toString)
      assert(stateRows(q) === 1L,
        "closed windows must leave the store — state is open groups only")
      assert(totalRemoved(q) >= 2L,
        "eviction must be visible as engine removals (NOT a silent " +
          "retention) — this twin's boundedness is the engine's, " +
          "not a tombstone's")
      // batch 3: a straggler for the CLOSED day 0 drops (the
      // documented under-report direction): no new emission, no
      // resurrected state
      input.addData((9L, 400L))
      q.processAllAvailable()
      assert(spark.table("decon_ttl_metrics_out").count() === 2L)
      assert(stateRows(q) === 1L)
    } finally q.stop()
  }
}
