package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

/** Streaming event-rate anomaly monitor — the live twin of
  * [[graft.operators.Anomaly.rateZScores]] (q100): per-(key, minute)
  * trailing z-scores over the ZERO-FILLED minute spine, maintained as
  * events arrive. A feed outage shows up as strongly negative z rows
  * the moment a later minute for that key proves the silent minutes
  * really were silent.
  *
  * EXACTNESS UNDER DISORDER: a late event changes an already-scored
  * minute's count, which changes the mean/variance of every window
  * containing it — so bounded per-emission state cannot be exact.
  * Unbounded (`keepMinutes = None`, `stateTtl = None`, the q112 plan)
  * the state is the key's full minute→count map (bounded by the key's
  * active span — calendar-class, the same bound the batch spine
  * enforces; [[MaxSpanMinutes]] fails loudly on a corrupt timestamp)
  * and each batch re-scores the key's whole dense series, so a drained
  * run is EXACTLY the batch answer — q100's oracle gates it.
  *
  * EMISSION CONTRACT ([[FunnelStream]]'s progress-stream pattern): a
  * key re-emits its full scored series whenever a batch delivers
  * accepted events for it, tagged with `seen` (the key's accepted
  * event count — strictly increasing), and consumers keep the
  * max-`seen` emission per (key, minute). Gap minutes INSIDE the
  * observed span are known-zero and scored; minutes after the key's
  * last event are unknown (silence vs. not-yet-arrived) and never
  * scored until a later event closes them — identical to the batch
  * spine's [first, last] contract.
  *
  * BOUNDED STATE — for live deployments whose keys outlive any
  * retention you can afford. The contract is under-report only, never
  * fabricate. State carries a `horizon`: the minute from which history
  * is dense and trusted, and three things move it forward, each only
  * REMOVING emissions/revisions relative to the unbounded monitor:
  *
  *  1. RETENTION PRUNE (`keepMinutes`) — when a key's span exceeds
  *     `keepMinutes`, the horizon advances to `hi − keepMinutes + 1`
  *     and older counts drop. Windows reaching below the horizon are
  *     never (re)scored.
  *  2. LATE DROP — an event with `m < horizon` is discarded. Its
  *     minute's already-emitted rows are never revised (consumers get
  *     the answer over events that arrived within `keepMinutes` of the
  *     key's frontier — "retention-exact").
  *  3. IDLE DECAY (`stateTtl`) — a key silent for `stateTtl`
  *     (processing time, the [[NearDup]] pattern) collapses to
  *     `(∅, horizon = hi+1)`: a late event for the dead span re-opens
  *     NOTHING (it is below the horizon and drops), while a genuinely
  *     new event starts a fresh span that must re-accumulate
  *     `trailing` minutes before scoring — the monitor warms up again
  *     rather than scoring against a half-forgotten baseline. The
  *     tombstone is kept deliberately (removing it would let a late
  *     event resurrect the old span with forgotten minutes silently
  *     read as zero — the one failure mode the bound must exclude).
  *
  * Every row a bounded monitor DOES emit is computed by the same
  * scorer over the retained counts with the same known-zero fill; with
  * `keepMinutes` covering the whole span and no idle gap past the TTL,
  * the drained output is IDENTICAL to the unbounded one (spec-gated).
  * Scale: O(active keys · keepMinutes + tombstoned keys) vs the
  * unbounded O(keys · span); the scorer is a lazy O(trailing) ring.
  *
  * CHECKPOINT COMPATIBILITY: the state encoding is [[State]]; a query
  * restored from a checkpoint written with a different state shape
  * fails Spark's state-schema compatibility check at restart (loudly,
  * at query start — no silent misread) and must restart from a FRESH
  * checkpoint.
  *
  * Arithmetic mirrors the batch/oracle formula token for token:
  * exact integer window sums, `mean = s/c`,
  * `var = (ss − s·s/c)/(c−1)`, `z = round((n − mean)/√var, 4)`
  * (HALF_UP — the library-wide round contract), null z on zero
  * variance. */
object AnomalyStream {

  /** (key, epoch-minute) — pre-truncate upstream. */
  case class MinuteEvent(key: String, m: Long)
  /** `horizon` = first trusted minute (Long.MinValue until a bound
    * sets it; counts keys are all ≥ it); `seen` = accepted-event
    * count, strictly increasing; `decayed` = the horizon was set by
    * IDLE DECAY (wall-clock TTL), not by live data — which changes
    * what "far below the horizon" means (the drop-vs-die rule in
    * [[fn]]). */
  case class State(counts: Map[Long, Long], horizon: Long, seen: Long,
      decayed: Boolean = false)
  case class ZRow(key: String, m: Long, n: Long, z: Option[Double],
    seen: Long)

  /** Span guard of the unbounded monitor: 20 years of minutes. A key
    * spanning more is a corrupt timestamp that would explode the
    * state. */
  val MaxSpanMinutes: Long = 10512000L

  private def round4(v: Double): Double =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The dense re-scorer: z over [lo+trailing, hi] with known-zero
    * fill, LAZILY — flatMapGroupsWithState drains the returned
    * iterator on demand, so a sporadically active key with a
    * years-long span costs O(trailing) memory here, not an O(span)
    * materialized buffer. s/ss in BigInt — Σn² passes 2⁶³ on a ~10⁹
    * events/minute key (the batch twin's decimal(38,0) moments). */
  private def scoreSeries(key: String, counts: Map[Long, Long],
      lo: Long, hi: Long, trailing: Int, seen: Long): Iterator[ZRow] = {
    if (hi - lo < trailing) Iterator.empty
    else {
      val ring = new Array[Long](trailing)
      var s = BigInt(0)
      var ss = BigInt(0)
      var m = lo
      while (m < lo + trailing) { // pre-roll the first window
        val n = counts.getOrElse(m, 0L)
        ring(((m - lo) % trailing).toInt) = n
        s += n
        ss += BigInt(n) * n
        m += 1L
      }
      new Iterator[ZRow] {
        private var cur = lo + trailing
        override def hasNext: Boolean = cur <= hi
        override def next(): ZRow = {
          val n = counts.getOrElse(cur, 0L)
          val c = trailing.toDouble
          val mean = s.toDouble / c
          val varr = (ss.toDouble - s.toDouble * s.toDouble / c) /
            (c - 1.0)
          val z = if (varr > 0) Some(round4((n.toDouble - mean) /
            math.sqrt(varr))) else None
          val row = ZRow(key, cur, n, z, seen)
          val slot = ((cur - lo) % trailing).toInt
          s -= ring(slot)
          ss -= BigInt(ring(slot)) * ring(slot)
          ring(slot) = n
          s += n
          ss += BigInt(n) * n
          cur += 1L
          row
        }
      }
    }
  }

  /** `dropped` counts below-horizon events (test observability; the
    * count is at-least-once under task retries and replay). */
  private[graft] def fn(trailing: Int, keepMinutes: Option[Long],
      ttl: Option[java.time.Duration],
      dropped: Option[org.apache.spark.util.LongAccumulator] = None)(
      key: String, it: Iterator[MinuteEvent],
      state: GroupState[State]): Iterator[ZRow] = {
    if (state.hasTimedOut) {
      // idle past TTL: decay to the tombstone. No timeout re-armed —
      // the tombstone is permanent and O(1).
      val s = state.get
      val newHorizon =
        if (s.counts.isEmpty) s.horizon
        else s.counts.keysIterator.max + 1L
      state.update(State(Map.empty, newHorizon, s.seen, decayed = true))
      Iterator.empty
    } else {
      val prev = state.getOption
        .getOrElse(State(Map.empty, Long.MinValue, 0L))
      // late drop: below-horizon events are discarded (the
      // under-report contract). The LOUD exception — an event below
      // the horizon by MORE than keepMinutes — applies ONLY when the
      // horizon was set by LIVE data: there it is epochally
      // misaligned (this event's timestamp is corrupt, or a previous
      // corrupt far-future event dragged the horizon past all real
      // time and would silently blackhole the key FOREVER). A horizon
      // set by IDLE DECAY carries no such bound: a producer offline
      // longer than keepMinutes legitimately flushes a buffer
      // arbitrarily far below the tombstone's horizon — that is
      // lateness, not corruption, and it drops silently, never kills
      // the query (the crash-loop-on-checkpoint-replay class
      // QuantileStream.fn deliberately avoids).
      var accepted = 0L
      val add = it.foldLeft(Map.empty[Long, Long]) { (acc, e) =>
        if (e.m < prev.horizon) {
          require(prev.decayed ||
            keepMinutes.forall(prev.horizon - e.m <= _),
            s"AnomalyStream: key $key event at minute ${e.m} is " +
              s"${prev.horizon - e.m} minutes below the live-data " +
              s"retention horizon ${prev.horizon} — beyond keepMinutes=" +
              s"${keepMinutes.get}, so this is a corrupt timestamp " +
              "(either this event's, or an earlier one that dragged " +
              "the horizon into the far future), not lateness")
          dropped.foreach(_.add(1L))
          acc
        }
        else { accepted += 1L; acc.updated(e.m, acc.getOrElse(e.m, 0L) + 1L) }
      }
      // the engine clears the armed timeout on every invocation —
      // re-arm it whether or not anything was accepted
      ttl.foreach(t => state.setTimeoutDuration(t.toMillis))
      if (add.isEmpty) Iterator.empty
      else {
        val merged0 = add.foldLeft(prev.counts) { case (acc, (m, c)) =>
          acc.updated(m, acc.getOrElse(m, 0L) + c) }
        val hi = merged0.keysIterator.max
        val (merged, horizon, lo) = keepMinutes match {
          case None =>
            // unbounded: the span starts at its first observed minute,
            // and only a decay tombstone ever sets a horizon
            val lo = merged0.keysIterator.min
            require(hi - lo <= MaxSpanMinutes,
              s"AnomalyStream: key $key spans ${hi - lo} minutes — " +
                s"beyond MaxSpanMinutes=$MaxSpanMinutes; a corrupt " +
                "timestamp would explode the state")
            (merged0, prev.horizon, lo)
          case Some(keep) =>
            // a fresh (or tombstoned-empty) span starts at its first
            // observed minute; retention caps it at keepMinutes
            val spanStart =
              if (prev.counts.isEmpty) add.keysIterator.min
              else prev.horizon
            val h = math.max(spanStart, hi - keep + 1L)
            (if (h > spanStart) merged0.filter(_._1 >= h) else merged0,
              h, h)
        }
        val seen = prev.seen + accepted
        // accepted events make this a LIVE-set horizon again
        state.update(State(merged, horizon, seen, decayed = false))
        scoreSeries(key, merged, lo, hi, trailing, seen)
      }
    }
  }

  /** `events` needs (key: string, m: long epoch-minute). Null keys
    * and minutes are EXCLUDED here (matching the batch twin's
    * filter) — one malformed production event must not kill the
    * monitor that exists to detect feed problems.
    *
    * `keepMinutes`: retention bound (None = the whole span). It must
    * exceed `trailing` (a window must fit inside the retained span)
    * and also serves as the corrupt-timestamp guard — a year-9999
    * minute just prunes everything before it instead of exploding
    * state (the guard applies to LIVE-set horizons only; see [[fn]]).
    * `stateTtl`: idle decay after this much processing time without
    * events (None = keys never decay; no timeout is configured). */
  def zScores(events: DataFrame, trailing: Int = 30,
      keepMinutes: Option[Long] = None,
      stateTtl: Option[java.time.Duration] = None): Dataset[ZRow] = {
    require(trailing >= 2, s"trailing=$trailing needs >= 2 minutes")
    require(keepMinutes.forall(_ > trailing),
      s"keepMinutes=${keepMinutes.get} must exceed trailing=$trailing — " +
        "otherwise no window ever fits inside the retained span")
    val spark = events.sparkSession
    import spark.implicits._
    val timeout = if (stateTtl.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout
    else GroupStateTimeout.NoTimeout
    events
      .filter(org.apache.spark.sql.functions.col("key").isNotNull &&
        org.apache.spark.sql.functions.col("m").isNotNull)
      .as[MinuteEvent](Encoders.product[MinuteEvent])
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        fn(trailing, keepMinutes, stateTtl))
  }
}
