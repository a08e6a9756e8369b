package perfbench

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What one measured phase of a workload produced. `workS` holds the
  * times of the workload's unit of work (one suite pass, one saturated
  * ingest block), of which the fastest is reported: on a shared machine
  * load only adds time. `latMs` holds one sample per operation whose
  * latency the workload reports, and `tailPct` the percentile of them
  * that `lat_tail_ms` reads (100: the slowest); `units` is what the engine-layer
  * counts are divided by (suite passes, micro-batches). */
final case class Measured(workS: Seq[Double], latMs: Seq[Double],
    tailPct: Double, attempted: Long, failed: Long, correct: Boolean,
    peakCachedMb: Double, units: Int, extra: Map[String, Any] = Map.empty)

/** The workload's first operation in a fresh session: its seconds, and
  * the operations it made, which count as attempted (and failed) like
  * the measured ones. */
final case class Cold(seconds: Double, attempted: Long, failed: Long)

/** A benchmark workload, driven through the engine's public functions
  * only. */
trait Workload {
  /** Set-ups per run. The first also pays the JVM's class loading and
    * is kept in the result file only; `setup_s` is the median of the
    * others, which redo the same session start and input preparation. */
  def setups: Int
  /** Load or generate the inputs into a fresh session. Called once per
    * set-up; must be idempotent. */
  def setup(spark: SparkSession): Unit
  /** The workload's first operation in a fresh JVM. */
  def cold(spark: SparkSession): Cold
  /** Operate for about `seconds`. */
  def measure(spark: SparkSession, seconds: Double): Measured
  /** Per-layer metrics read from the traced phase that just ran, and
    * that phase's result with any operations the layer probes made. */
  def layers(spark: SparkSession, traced: Measured)
      : (Map[String, Double], Measured)
  /** Stop whatever the workload left running. */
  def close(): Unit = ()
}

final case class Config(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: Path, work: Path, spans: Path)

object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def parse(args: Array[String]): Config = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String): String = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Config(need("--workload"), need("--seed").toLong,
      need("--seconds").toDouble, need("--trace") == "1",
      Paths.get(need("--data")), Paths.get(need("--work")),
      Paths.get(need("--spans")))
  }

  def session(cfg: Config): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // room for every generated class of the timed queries: with
      // Spark's default of 100 entries the queries evict each other's
      // classes, and a warm query recompiled 0 to 40 of them depending
      // on the order it ran in (0.4 s or 0.9 s for the same query)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // same plan-string cap as the engine's own harnesses: AQE plan
      // updates otherwise render the full composed plan on the driver
      .config("spark.sql.maxPlanStringLength", "32768")
      .config("spark.local.dir", cfg.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir",
        cfg.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Storage memory in use (cached and broadcast blocks), in MB. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1048576.0

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile; 0 for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100 * (s.size - 1)
      val lo = r.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** How many units of work of about `unitS` seconds fill `seconds`,
    * and at least two. The count depends only on the arguments, never on
    * how fast this run goes: a time-bounded loop ran more units on a
    * faster run, and the extra JIT warm-up alone moved the fastest unit
    * by up to 30%. */
  def units(seconds: Double, unitS: Double): Int =
    math.max(2, (seconds / unitS).toInt)

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    if (args.headOption.contains("--record")) return record(args)
    val cfg = parse(args)
    Files.createDirectories(cfg.work)
    val w: Workload = cfg.workload match {
      case "query_suite"    => new QuerySuite(cfg)
      case "egal_ingest"    => new Ingest(cfg)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    var spark: SparkSession = null
    val run0 = System.nanoTime()
    val setups = (1 to w.setups).map { _ =>
      // stopping the previous session, and its garbage, are no part of
      // the next set-up: in the timing they doubled some set-ups
      if (spark != null) { spark.stop(); System.gc() }
      val t0 = System.nanoTime()
      spark = session(cfg)
      w.setup(spark)
      Steal.since(t0)
    }
    val cold = w.cold(spark)
    def withCold(m: Measured): Measured = m.copy(
      attempted = m.attempted + cold.attempted,
      failed = m.failed + cold.failed,
      correct = m.correct && cold.failed == 0)
    if (!cfg.trace) {
      val m = w.measure(spark, cfg.seconds)
      emit(withCold(m), Seq(
        "setup_s" -> median(setups.tail),
        "cold_s" -> cold.seconds,
        "work_s" -> m.workS.min,
        "lat_p50_ms" -> percentile(m.latMs, 50),
        "lat_tail_ms" -> percentile(m.latMs, m.tailPct)),
        setups, cold.seconds, run0)
    } else {
      val plain = w.measure(spark, cfg.seconds / 2)
      Trace.start(spark)
      val t0 = System.currentTimeMillis()
      val traced = Trace.span(spark, "workload", cfg.workload) {
        w.measure(spark, cfg.seconds / 2)
      }
      Trace.drain(spark)
      val engine = EngineLayer.metrics(t0, System.currentTimeMillis(),
        traced.units)
      val (layers, probed) = w.layers(spark, traced)
      Trace.stop(spark)
      Trace.writeSpans(cfg.spans)
      val all = engine ++ layers ++ Map(
        "engine.peak_storage_mb" -> traced.peakCachedMb,
        "trace.overhead_frac" -> (traced.workS.min / plain.workS.min - 1))
      emit(withCold(probed.copy(
        attempted = plain.attempted + probed.attempted,
        failed = plain.failed + probed.failed,
        correct = plain.correct && probed.correct)),
        all.toSeq.sortBy(_._1), setups, cold.seconds, run0)
    }
    w.close()
    spark.stop()
  }

  /** `--record <dump> --data <dir> --digests <file>`: see
    * [[QuerySuite.record]]. */
  private def record(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val dump = Paths.get(m("--record"))
    val cfg = Config("record", 0L, 0.0, trace = false,
      Paths.get(m("--data")), dump.resolve("work"), dump.resolve("spans"))
    val spark = session(cfg)
    QuerySuite.record(spark, cfg.data.resolve("sf0.01").toString, dump,
      Paths.get(m("--digests")))
    spark.stop()
  }

  /** Print the result line: metric values by name. run.py attaches
    * each metric's unit from BENCHMARK.json, stamps the line and keeps
    * `detail` in the result file. */
  private def emit(m: Measured, metrics: Seq[(String, Double)],
      setups: Seq[Double], coldS: Double, run0: Long): Unit =
    println(json.writeValueAsString(Map(
      "correct" -> m.correct,
      "attempted" -> m.attempted,
      "failed" -> m.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*),
      "detail" -> (m.extra ++ Map("setup_samples_s" -> setups,
        "cold_s" -> coldS, "work_samples_s" -> m.workS,
        "lat_samples" -> m.latMs.size,
        "steal_share_run" -> Steal.shareSince(run0),
        "wall_run_s" -> elapsed(run0))))))
}

/** The `engine` layer: Spark jobs, stages and tasks, exchanges and
  * planning time over the traced phase, per unit of work. */
object EngineLayer {
  def metrics(t0Ms: Long, t1Ms: Long, units: Int): Map[String, Double] = {
    val e = Trace.engineTotal
    val n = math.max(units, 1).toDouble
    Map(
      "engine.jobs" -> e.jobs / n,
      "engine.stages" -> e.stages / n,
      "engine.tasks" -> e.tasks / n,
      "engine.exchanges" -> Trace.exchangeCount / n,
      "engine.empty_task_frac" ->
        (if (e.tasks == 0) 0.0 else e.emptyTasks.toDouble / e.tasks),
      "engine.driver_gap_s" -> Trace.idleSeconds(t0Ms, t1Ms) / n,
      "engine.planning_s" -> Trace.planningSeconds / n,
      "engine.executor_run_s" -> e.runMs / 1e3 / n,
      "engine.executor_cpu_s" -> e.cpuNs / 1e9 / n,
      "engine.gc_s" -> e.gcMs / 1e3 / n,
      "engine.shuffle_write_mb" -> e.shuffleWrite / 1048576.0 / n,
      "engine.shuffle_read_mb" -> e.shuffleRead / 1048576.0 / n,
      "engine.spill_mb" -> e.spill / 1048576.0 / n)
  }
}
