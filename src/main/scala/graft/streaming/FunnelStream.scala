package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming ordered-step funnel — the live twin of
  * [[graft.operators.Funnel.funnelTimes]] (q93): per-user earliest
  * completion times through a fixed step sequence, maintained as
  * events arrive.
  *
  * EXACTNESS UNDER DISORDER: greedy subsequence matching is
  * order-sensitive, and a late-arriving EARLY event can lower t₁ and
  * thereby re-time every later step — so bounded O(steps) state cannot
  * be exact. The state is therefore the user's buffered step events
  * (the ClickHouse-windowFunnel contract), capped at `cap` EARLIEST
  * events per user: the greedy match prefers early events, so the only
  * miss class is a user whose funnel completion depends on events
  * beyond their `cap` earliest — under-reported depth, never a phantom
  * completion. Each batch merges, re-sorts, and re-runs the match, so
  * a drained run is EXACTLY the batch answer (q93's oracle gates q97).
  *
  * EMISSION CONTRACT: a progress stream — each user emits a snapshot
  * whenever a batch delivers accepted events for them, tagged with
  * `n_seen` (the ACCEPTED event count, strictly increasing per user —
  * under cap pressure it keeps counting while the buffer stays at
  * `cap`); consumers take the max-`n_seen` row per user.
  *
  * BOUNDED KEYS (`close = Some(EventTimeClose(window, ...))`): the
  * per-user buffer is cap-bounded, but an unbounded-lifetime feed
  * accretes one state row per user forever. With a close, each user's
  * funnel lives inside an event-time OBSERVATION WINDOW anchored at
  * their earliest observed event and closes on the watermark
  * (`EventTimeTimeout`) at `first event + window + allowedLateness`,
  * collapsing to an O(1) CLOSED tombstone. The contract is
  * under-report only, never fabricate:
  *  1. While open, snapshots are EXACTLY the unbounded monitor's over
  *     the in-window buffered events. With `window` covering the whole
  *     feed and no close before the drain, output ≡ unbounded
  *     (spec-gated against the q93 batch oracle).
  *  2. An event past `window` of the user's first event is outside
  *     the observation window: dropped (a windowed funnel completion
  *     cannot depend on it) — under-reported depth, never phantom.
  *  3. A late event arriving inside `allowedLateness` re-matches its
  *     funnel exactly — including one that REWRITES the window's
  *     origin earlier (the buffer re-sorts and re-filters per batch,
  *     so the anchor is the true min ts among pre-close arrivals,
  *     not the first PROCESSED event). If the rewritten window is
  *     already past the watermark, the user finalizes immediately.
  *  4. An event arriving after its user CLOSED is dropped — it
  *     re-opens nothing. The tombstone (never `state.remove()`) pins
  *     `n_seen`, so the pre-close snapshot stays the max-`n_seen`
  *     winner; removal would let stragglers re-create the user and,
  *     once their count passed the pre-close `n_seen`, OVERWRITE the
  *     final funnel with a partial one.
  *  5. A fresh-watermark event carrying a timestamp whose window is
  *     already closed (`first + window + lateness <= watermark`)
  *     pins the tombstone and drops — arming a timeout behind the
  *     watermark would throw and crash-loop on checkpoint replay
  *     (the [[QuantileStream]] poison-pill discipline).
  *
  * State: O(min(cap, in-window events)) per open user, O(1) per
  * closed user. Unbounded (`close = None`, the q97 plan) no timeout
  * or watermark is configured and users never close. */
object FunnelStream {

  case class StepEvent(user_id: Long, ts_us: Long, step: Int)
  /** `evs` = in-window (ts_us, step) buffer (`cap` earliest);
    * `nSeen` = accepted event count; `closed` = event-time tombstone. */
  case class State(evs: List[(Long, Int)], nSeen: Long, closed: Boolean)
  /** `ts(i)` = earliest completion of step i+1, −1 if unreached. */
  case class Snap(user_id: Long, n_seen: Long, ts: Seq[Long], depth: Long)

  private[graft] def fn(nSteps: Int, cap: Int,
      close: Option[EventTimeClose])(
      uid: Long, it: Iterator[StepEvent],
      state: GroupState[State]): Iterator[Snap] = {
    if (state.hasTimedOut) {
      // watermark passed first + window + lateness: finalize to the
      // closed tombstone; no further timeout (permanent, O(1))
      state.update(State(Nil, state.get.nSeen, closed = true))
      Iterator.empty
    } else {
      val prev = state.getOption.getOrElse(State(Nil, 0L, closed = false))
      // post-close straggler: dropped, re-opens nothing (contract 4)
      val incoming =
        if (prev.closed) Nil else it.map(e => (e.ts_us, e.step)).toList
      // the greedy ordered-subsequence match over the ts-sorted buffer
      def emit(buf: List[(Long, Int)], accepted: Int): Iterator[Snap] = {
        val merged = buf.take(cap)
        val nSeen = prev.nSeen + accepted
        state.update(State(merged, nSeen, closed = false))
        val t = Array.fill(nSteps)(-1L)
        for ((ts, s) <- merged) {
          if (s == 0 && t(0) == -1L) t(0) = ts
          else if (s > 0 && s < nSteps && t(s - 1) != -1L &&
            ts > t(s - 1) && t(s) == -1L) t(s) = ts
        }
        Iterator.single(
          Snap(uid, nSeen, t.toSeq, t.takeWhile(_ != -1L).length.toLong))
      }
      if (incoming.isEmpty) Iterator.empty
      else {
        val all = (prev.evs ++ incoming).sorted
        close match {
          case None => emit(all, incoming.size)
          case Some(c) =>
            // observation window: events past `first + window` cannot
            // participate (contract 2); the anchor is the min ts over
            // every pre-close arrival, so a late origin-rewriting event
            // re-filters the whole buffer (contract 3)
            val end = all.head._1 + c.windowMicros
            // ceil micros to the enclosing millisecond: flooring would
            // fire the close up to 999 µs BEFORE the window's
            // micro-precision end
            val closeMs = Math.addExact(Math.floorDiv(end + 999L, 1000L),
              c.latenessMillis)
            if (state.getCurrentWatermarkMs() >= closeMs) {
              // the (possibly rewritten) window is already past the
              // watermark: finalize now, drop the batch (contract 5) —
              // prior emissions stand as the max-n_seen winners
              state.update(State(Nil, prev.nSeen, closed = true))
              Iterator.empty
            } else {
              // the engine clears the armed timeout on every invocation
              state.setTimeoutTimestamp(closeMs)
              // only in-window events are ACCEPTED into n_seen; an
              // all-out-of-window batch changes nothing (the buffer and
              // anchor are untouched — an earlier event would be
              // in-window by definition), so it emits nothing
              val accepted = incoming.count(_._1 <= end)
              if (accepted == 0) Iterator.empty
              else emit(all.takeWhile(_._1 <= end), accepted)
            }
        }
      }
    }
  }

  /** `events` needs (user_id, ts, step) with step in 0..nSteps−1
    * (filter foreign steps upstream — they would waste buffer slots);
    * null-`ts` rows are excluded. `ts` is the event time (pass the
    * ORIGINAL event time so lateness means what the pipeline's
    * watermark means); the buffer-ordering key `ts_us` is DERIVED here
    * as `unix_micros(ts)` — any caller-supplied `ts_us` column is
    * overwritten, so the close/late-filter math's `ts_us` ≡
    * microseconds of `ts` holds by construction. */
  def funnel(events: DataFrame, nSteps: Int, cap: Int = 10000,
      close: Option[EventTimeClose] = None): Dataset[Snap] = {
    require(nSteps >= 1, s"nSteps must be >= 1, got $nSteps")
    require(cap >= nSteps,
      s"cap=$cap cannot hold even one event per step (nSteps=$nSteps)")
    val spark = events.sparkSession
    import spark.implicits._
    val withUs = events.filter(col("ts").isNotNull)
      .withColumn("ts_us", unix_micros(col("ts")))
    val (input, timeout) = close match {
      case None =>
        (withUs.select("user_id", "ts_us", "step"),
          GroupStateTimeout.NoTimeout)
      // `ts` stays in the rows: the engine drops input rows behind the
      // watermark by it before they reach fn
      case Some(c) =>
        (withUs.withWatermark("ts", c.watermarkDelay),
          GroupStateTimeout.EventTimeTimeout)
    }
    input.as[StepEvent](Encoders.product[StepEvent])
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        fn(nSteps, cap, close))
  }
}
