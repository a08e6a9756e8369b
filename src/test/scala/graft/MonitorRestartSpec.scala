package graft

import graft.streaming.{AnomalyStream, EventTimeClose, FunnelStream,
  QuantileStream}
import java.time.Duration
import org.apache.spark.sql.functions.timestamp_seconds

/** Restart gate for the three `flatMapGroupsWithState` monitors, each
  * unbounded and with its bound set: a query stopped mid-feed and
  * restarted from its checkpoint must drain to the same max-`seen` /
  * max-`n_seen` output as an uninterrupted run. The batches after the
  * stop revise groups whose state was written before it (late
  * re-scores, origin rewrites, post-close stragglers), so the
  * restored state encoding is what the gate exercises. */
class MonitorRestartSpec extends SparkSpec {
  import spark.implicits._

  test("AnomalyStream resumes from its checkpoint: unbounded and " +
      "retention-bounded") {
    val batches = Seq(
      Seq(0L -> 2, 1L -> 3, 2L -> 2, 4L -> 3, 5L -> 2)
        .flatMap { case (m, c) => Seq.fill(c)(("A", m)) } :+ (("B", 3L)),
      // late events for minutes already scored, plus new minutes
      Seq.fill(4)(("A", 2L)) ++ Seq(("A", 6L), ("A", 7L), ("B", 9L)),
      Seq(("A", 1L), ("A", 9L), ("A", 10L), ("B", 4L), ("B", 8L)))
    for (keep <- Seq(None, Some(6L)))
      assertRestartInvariant(batches, stopAfter = 2, Seq("key", "m"),
          "seen") { in =>
        AnomalyStream.zScores(in.toDF("key", "m"), trailing = 3,
          keepMinutes = keep)
      }
  }

  test("FunnelStream resumes from its checkpoint: unbounded and " +
      "event-time closed") {
    val batches = Seq(
      Seq((1L, 20L, 1), (1L, 30L, 2), (2L, 5L, 0), (2L, 8L, 1)),
      // user 1's origin arrives late; a far-future user advances the
      // watermark past user 2's close under the bound
      Seq((1L, 10L, 0), (3L, 600L, 0)),
      // a post-close straggler for user 2, more steps for user 3
      Seq((2L, 9L, 2), (3L, 610L, 1), (3L, 620L, 2)))
    for (close <- Seq(None, Some(EventTimeClose(Duration.ofSeconds(60),
        Duration.ZERO, "0 seconds"))))
      assertRestartInvariant(batches, stopAfter = 2, Seq("user_id"),
          "n_seen") { in =>
        FunnelStream.funnel(
          in.toDF("user_id", "sec", "step")
            .withColumn("ts", timestamp_seconds($"sec")),
          nSteps = 3, close = close)
      }
  }

  test("QuantileStream resumes from its checkpoint: unbounded and " +
      "event-time closed") {
    val batches = Seq(
      Seq(("A", 0L, 10L, 5L), ("A", 0L, 20L, 10L), ("B", 0L, 7L, 12L)),
      // late low values re-rank window 0; a far-future window advances
      // the watermark past window 0's close under the bound
      Seq(("A", 0L, 1L, 20L), ("A", 600L, 3L, 650L)),
      // a straggler for window 0, more values for window 600
      Seq(("A", 0L, 2L, 30L), ("A", 600L, 9L, 660L)))
    for (close <- Seq(None, Some(EventTimeClose(Duration.ofSeconds(60),
        Duration.ZERO, "0 seconds"))))
      assertRestartInvariant(batches, stopAfter = 2,
          Seq("key", "w", "pct"), "seen") { in =>
        QuantileStream.quantiles(
          in.toDF("key", "w", "qv", "sec")
            .withColumn("ts", timestamp_seconds($"sec")),
          pcts = Seq(50, 95), close = close)
      }
  }
}
