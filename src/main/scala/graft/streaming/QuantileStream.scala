package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

/** Streaming windowed value quantiles — the live twin of
  * [[graft.operators.WindowedQuantiles]]: exact p50/p95 per
  * (key, window) maintained as events arrive, the sixth real
  * `flatMapGroupsWithState` family (funnel q97, anomaly q112, KMV
  * q89, sessionize, near-dup).
  *
  * EXACTNESS UNDER DISORDER ([[AnomalyStream]]'s argument): a late
  * event changes every rank in its window, so bounded per-emission
  * state cannot be exact; the state is the window's quantized
  * value→count map — bounded by the window's DISTINCT quantized
  * values, the same data-bound the batch twin guards, enforced here
  * with the same loud `maxDistinct` — and each batch re-selects the
  * window's ranks, so a drained run is EXACTLY the batch answer
  * (q118's oracle replays the batch SQL).
  *
  * EMISSION CONTRACT (the progress-stream pattern): a (key, window)
  * group re-emits its full pct set whenever a batch lands events for
  * it, tagged with strictly increasing `seen`; consumers keep the
  * max-`seen` row per (key, window, pct).
  *
  * BOUNDED WINDOW LIFETIMES (`close = Some(EventTimeClose(window,
  * ...))`): a time-window's lifecycle IS event time, so windows
  * FINALIZE on the watermark (`EventTimeTimeout`): when it passes
  * `window start + window + allowedLateness`, the window's value map
  * collapses to an O(1) CLOSED tombstone. The contract is under-report
  * only, never fabricate:
  *  1. While open, emissions are EXACTLY the unbounded monitor's.
  *  2. A late event inside `allowedLateness` re-ranks its window
  *     exactly.
  *  3. An event arriving after its window CLOSED is DROPPED — it
  *     re-opens NOTHING. The tombstone (not `state.remove()`) is what
  *     makes this safe: removal would let late stragglers re-create
  *     the window from scratch and, once their count exceeded the
  *     pre-close `seen`, OVERWRITE the final answer with a partial
  *     one under the max-`seen` rule. The tombstone pins `seen` and
  *     drops arrivals, so the pre-close emission stays the winner.
  * Closed tombstones persist (they are 2 fields, and removing them
  * re-opens the door they close). Unbounded (`close = None`, the q118
  * plan) no timeout or watermark is configured and windows never
  * close.
  *
  * Selection arithmetic is the batch formula token for token: rank
  * `⌈n·p/100⌉`, smallest qv with cum ≥ rank, ONE double division by
  * 10⁴ at emission. */
object QuantileStream {

  /** (key, window-start epoch seconds, floor(v·10⁴)) — quantize
    * upstream with the same `Trend.quantize4` expression the batch
    * twin uses. */
  case class QEvent(key: String, w: Long, qv: Long)
  case class State(counts: Map[Long, Long], seen: Long, closed: Boolean)
  case class QRow(key: String, w: Long, pct: Int, n: Long, est: Double,
    seen: Long)

  private[graft] def fn(pcts: Seq[Int], maxDistinct: Long,
      close: Option[EventTimeClose])(
      group: (String, Long), it: Iterator[QEvent],
      state: GroupState[State]): Iterator[QRow] = {
    if (state.hasTimedOut) {
      // watermark passed window end + lateness: finalize to the
      // closed tombstone; no further timeout (it is permanent, O(1))
      state.update(State(Map.empty, state.get.seen, closed = true))
      Iterator.empty
    } else {
      val prev = state.getOption
        .getOrElse(State(Map.empty, 0L, closed = false))
      val closeMs = close.map(c =>
        group._2 * 1000L + c.window.toMillis + c.latenessMillis)
      if (prev.closed) {
        // post-close straggler: dropped, re-opens nothing (contract 3)
        Iterator.empty
      } else if (closeMs.exists(state.getCurrentWatermarkMs() >= _)) {
        // a window already past its close time with NO open state: a
        // fresh-timestamp event carrying a stale window id (a corrupt
        // w/ts pairing — the event-time filter only vets ts). Arming
        // the timeout would hand Spark a timestamp before the
        // watermark, an IllegalArgumentException that kills the query
        // and crash-loops on checkpoint replay. Treat it exactly like
        // the tombstone path — the window is closed whether or not it
        // ever opened — and pin the tombstone so later twins drop too.
        state.update(State(Map.empty, prev.seen, closed = true))
        Iterator.empty
      } else {
        val add = it.foldLeft(Map.empty[Long, Long]) { (acc, e) =>
          acc.updated(e.qv, acc.getOrElse(e.qv, 0L) + 1L) }
        if (add.isEmpty) Iterator.empty
        else {
          val merged = add.foldLeft(prev.counts) { case (acc, (qv, c)) =>
            acc.updated(qv, acc.getOrElse(qv, 0L) + c) }
          require(merged.size <= maxDistinct,
            s"QuantileStream: (${group._1}, ${group._2}) holds " +
              s"${merged.size} distinct quantized values — beyond " +
              s"maxDistinct=$maxDistinct; use a sketch for this value domain")
          val seen = prev.seen + add.valuesIterator.sum
          state.update(State(merged, seen, closed = false))
          closeMs.foreach(state.setTimeoutTimestamp)
          val n = merged.valuesIterator.sum
          val sorted = merged.toArray.sortBy(_._1)
          pcts.iterator.map { p =>
            val rank = (n * p + 99) / 100
            var cum = 0L
            var i = 0
            while (cum < rank) { cum += sorted(i)._2; i += 1 }
            QRow(group._1, group._2, p, n,
              sorted(i - 1)._1.toDouble / 10000.0, seen)
          }
        }
      }
    }
  }

  /** `events` needs (key: string, w: long window-start epoch-seconds,
    * qv: long quantized value), plus `ts` (the event timestamp the
    * watermark runs on — the ORIGINAL event time, not the window
    * start) when `close` is set. Null keys/windows/values (and `ts`
    * under a close) are excluded like the batch twin. */
  def quantiles(events: DataFrame, pcts: Seq[Int] = Seq(50, 95),
      maxDistinct: Long = 100000L,
      close: Option[EventTimeClose] = None): Dataset[QRow] = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"pcts must be integer percents in 1..100, got $pcts")
    require(pcts.distinct.size == pcts.size, s"duplicate pcts in $pcts")
    require(maxDistinct >= 1L, s"maxDistinct=$maxDistinct")
    val spark = events.sparkSession
    import spark.implicits._
    val valid = events.filter(
      col("key").isNotNull && col("w").isNotNull && col("qv").isNotNull)
    val (input, timeout) = close match {
      case None => (valid, GroupStateTimeout.NoTimeout)
      case Some(c) =>
        (valid.filter(col("ts").isNotNull)
          .withWatermark("ts", c.watermarkDelay),
          GroupStateTimeout.EventTimeTimeout)
    }
    input.as[QEvent](Encoders.product[QEvent])
      .groupByKey(e => (e.key, e.w))
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        fn(pcts.sorted, maxDistinct, close))
  }
}
