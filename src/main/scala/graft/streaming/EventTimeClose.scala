package graft.streaming

import java.time.Duration

/** Event-time close of a bounded monitor ([[FunnelStream]],
  * [[QuantileStream]]): the monitor reads `watermarkDelay` behind the
  * max event `ts` and finalizes a group to an O(1) CLOSED tombstone
  * once the watermark passes its window end + `allowedLateness`. What
  * `window` measures is the monitor's: the funnel's observation window
  * from a user's first event, the quantile's time-window length.
  * `watermarkDelay` should be ≥ `allowedLateness` (the watermark fires
  * the close; a shorter delay just closes groups earlier). */
case class EventTimeClose(window: Duration,
    allowedLateness: Duration = Duration.ofMinutes(10),
    watermarkDelay: String = "10 minutes") {
  require(!window.isNegative && !window.isZero,
    s"window=$window must be positive")
  require(!allowedLateness.isNegative,
    s"allowedLateness=$allowedLateness must be non-negative — a " +
      "negative lateness would arm timeouts behind the watermark")

  private[streaming] def windowMicros: Long = window.toNanos / 1000L
  private[streaming] def latenessMillis: Long = allowedLateness.toMillis
}
