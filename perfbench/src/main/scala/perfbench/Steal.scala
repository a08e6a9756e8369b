package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** CPU time the host took from this virtual machine ("steal", the
  * eighth field of the `cpu` line of /proc/stat).
  *
  * On a shared host the stolen share of CPU time moves from a few
  * percent to a fifth within minutes, and every wall time of a
  * CPU-bound run moves with it. The benchmark therefore reports its
  * times steal-adjusted: an interval's wall time times one minus the
  * share of the CPU time its runnable threads wanted that the host
  * took. The raw wall times go to the result file beside them. Where
  * /proc/stat is missing the share is 0 and times are plain wall
  * times. */
object Steal {
  private val stat = Paths.get("/proc/stat")

  /** (busy, stolen) clock ticks since boot, summed over CPUs. */
  private def ticks(): (Long, Long) =
    if (!Files.isReadable(stat)) (0L, 0L)
    else {
      val f = Files.readAllLines(stat).get(0).trim.split("\\s+").drop(1)
        .map(_.toLong)
      // user nice system idle iowait irq softirq steal
      (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    }

  private val samples = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  locally {
    val (busy, stolen) = ticks()
    samples += ((System.nanoTime(), busy, stolen))
  }

  private val sampler = new Thread(() => {
    while (true) {
      val (busy, stolen) = ticks()
      val at = System.nanoTime()
      samples.synchronized(samples += ((at, busy, stolen)))
      Thread.sleep(50)
    }
  }, "perfbench-steal")
  sampler.setDaemon(true)
  sampler.start()

  /** The last sample at or before `t`, or the first one. */
  private def at(t: Long): (Long, Long, Long) = samples.synchronized {
    var lo = 0
    var hi = samples.size - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) / 2
      if (samples(mid)._1 <= t) lo = mid else hi = mid - 1
    }
    samples(lo)
  }

  /** Share of the CPU time wanted in [t0, t1] (nanoTime) that the host
    * took. */
  def share(t0: Long, t1: Long): Double = {
    val (_, b0, s0) = at(t0)
    val (_, b1, s1) = at(t1)
    val stolen = (s1 - s0).toDouble
    val wanted = (b1 - b0) + stolen
    if (wanted <= 0) 0.0 else stolen / wanted
  }

  /** Steal-adjusted seconds of [t0, t1]. */
  def seconds(t0: Long, t1: Long): Double =
    (t1 - t0) / 1e9 * (1 - share(t0, t1))

  /** Steal-adjusted seconds from `t0` to now. */
  def since(t0: Long): Double = seconds(t0, System.nanoTime())

  /** Share stolen from `t0` to now. */
  def shareSince(t0: Long): Double = share(t0, System.nanoTime())
}
