package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** The in-memory ES transport: counts bulk bytes and chunks and keeps
  * the (eventID, lastUpdateDate) key of every document posted. Tasks
  * run in the driver JVM in local mode, so a static collector sees all
  * of them. */
object EsCollector {
  private val IdRe = "\"eventID\":(\\d+)".r
  private val UpdRe = "\"lastUpdateDate\":\"([^\"]*)\"".r
  val bytes = new LongAdder
  val chunks = new LongAdder
  val keys = new ConcurrentLinkedQueue[(Long, String)]()

  val transport: graft.sources.EsSink.Transport = (_, payload) => {
    bytes.add(payload.getBytes("UTF-8").length)
    chunks.increment()
    payload.split('\n').iterator.filter(_.contains("\"eventID\"")).foreach {
      doc =>
        val id = IdRe.findFirstMatchIn(doc).map(_.group(1).toLong).get
        val upd = UpdRe.findFirstMatchIn(doc).map(_.group(1)).getOrElse("∅")
        keys.add((id, upd))
    }
  }

  def drain(): Seq[(Long, String)] =
    Iterator.continually(keys.poll()).takeWhile(_ != null).toSeq
}

/** EGAL's production path: AFAD messages into a `MemoryStream`, through
  * `Jobs.eventsToSink` (parse, normalize, enrich, watermarked dedup) to
  * a sink that writes every micro-batch to ES (`EsSink.write`, in-memory
  * transport) and upserts it into the lake (`Lake.upsertLatest`, keyed
  * on `eventID`, versioned by `lastUpdateDate`).
  *
  * `measure` runs two phases: a saturated closed loop of fixed
  * [[BlockMessages]]-message blocks, each drained before the next, for
  * throughput; then an open loop that offers [[OpenLoopRate]] events/s
  * on a fixed schedule, for latency from each event's due time to the
  * sink commit that contains it. */
final class Ingest(cfg: Config) extends Workload {
  import Ingest._

  private var feed: EventFeed = _
  private val pool = mutable.Queue.empty[Message]
  private val truth = new FeedTruth
  private var spark: SparkSession = _
  private var input: MemoryStream[String] = _
  private var query: StreamingQuery = _
  private val root = cfg.work.resolve("ingest")
  private def lakeDir = root.resolve("lake").toString
  /** A set-up takes about half a second, so it takes more of them to
    * make the median steady. */
  val setups = 9

  // sink-side accounting (written by the stream thread)
  private val posted = ConcurrentHashMap.newKeySet[(Long, String)]()
  private val committed = new AtomicLong()
  private val sentNew = new AtomicLong()
  private val due = new ConcurrentHashMap[(Long, String), java.lang.Long]()
  private val latencies = new ConcurrentLinkedQueue[java.lang.Double]()
  private val batches = new AtomicLong()
  private val badBatches = new AtomicLong()
  @volatile private var peak = 0.0
  @volatile private var lakeWritten = 0L
  private val lakeSeen = mutable.Set.empty[String]
  // what the current phase handed to the source, for the ops layer
  private val phasePayloads = mutable.ArrayBuffer.empty[String]
  private var phaseEvents = 0L

  def setup(s: SparkSession): Unit = {
    spark = s
    feed = new EventFeed(cfg.seed)
    pool.clear()
    pool ++= feed.take(PoolMessages)
    deleteTree(root)
    Files.createDirectories(root)
  }

  private def sink(batch: DataFrame, batchId: Long): Unit = {
    batch.persist()
    try {
      if (!batch.isEmpty) {
        Trace.span(spark, "sources", "EsSink.write") {
          graft.sources.EsSink.write(batch, "earthquakes",
            transport = EsCollector.transport)
        }
        Trace.span(spark, "sources", "Lake.upsertLatest") {
          graft.sources.Lake.upsertLatest(spark, lakeDir, batch,
            "eventID", "lastUpdateDate", "event_ts")
        }
        val at = System.nanoTime()
        val keys = EsCollector.drain()
        if (keys.exists(k => !posted.add(k))) badBatches.incrementAndGet()
        keys.foreach { k =>
          Option(due.remove(k)).foreach(d =>
            latencies.add(Steal.seconds(d.longValue, at) * 1000))
        }
        committed.addAndGet(keys.size)
        peak = math.max(peak, Main.cachedMb(spark))
        if (Trace.enabled) lakeWritten += newLakeBytes()
      }
      batches.incrementAndGet()
    } catch { case e: Throwable =>
      badBatches.incrementAndGet(); throw e
    } finally batch.unpersist()
  }

  /** Bytes of lake files that appeared since the last call. */
  private def newLakeBytes(): Long = {
    val files = lakeFiles()
    val fresh = files.filterNot { case (p, _) => lakeSeen(p) }
    lakeSeen ++= fresh.map(_._1)
    fresh.map(_._2).sum
  }

  private def lakeFiles(): Seq[(String, Long)] = {
    val dir = java.nio.file.Paths.get(lakeDir)
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => (p.toString + "@" + Files.getLastModifiedTime(p).toMillis,
          Files.size(p))).toSeq
      finally s.close()
    }
  }

  /** The next `n` messages: pre-generated in set-up while they last. */
  private def take(n: Int): Seq[Message] =
    Seq.fill(n)(if (pool.nonEmpty) pool.dequeue() else feed.next())

  /** Hand messages to the source, remembering when each new pair was
    * due if the phase measures latency. */
  private def send(msgs: Seq[Message], dueNs: Long, timed: Boolean): Unit = {
    msgs.foreach(m => m.events.foreach { e =>
      if (truth.add(e)) {
        sentNew.incrementAndGet()
        if (timed) due.put((e.id, e.lastUpdate), dueNs)
      }
    })
    phasePayloads ++= msgs.map(_.payload)
    phaseEvents += msgs.map(_.events.size).sum
    input.addData(msgs.map(_.payload): _*)
  }

  /** The stream's start and its first block: the first micro-batch in
    * a fresh session. [[WarmBlocks]] more blocks follow untimed, so the
    * measured phases start with the micro-batch path compiled. */
  def cold(s: SparkSession): Cold = {
    val t0 = System.nanoTime()
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    input = MemoryStream[String]
    val raw = input.toDF().selectExpr("cast(value as binary) as value")
    query = graft.streaming.Jobs.eventsToSink(raw,
      root.resolve("checkpoint").toString, sink).start()
    send(take(BlockMessages), 0L, timed = false)
    query.processAllAvailable()
    val first = Steal.since(t0)
    (1 to WarmBlocks).foreach { _ =>
      send(take(BlockMessages), 0L, timed = false)
      query.processAllAvailable()
    }
    // the sink's outputs of these batches are checked with the rest
    // against the feed's truth at the end of the measured phase
    Cold(first, batches.get, badBatches.get)
  }

  private var phase: PhaseStats = _

  def measure(s: SparkSession, seconds: Double): Measured = {
    val b0 = batches.get
    val bad0 = badBatches.get
    peak = 0.0
    phasePayloads.clear()
    phaseEvents = 0L
    EsCollector.bytes.reset()
    EsCollector.chunks.reset()
    if (Trace.enabled) {
      lakeSeen.clear()
      lakeSeen ++= lakeFiles().map(_._1)
      lakeWritten = 0L
    }
    // saturated closed loop
    val sat = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    for (_ <- 1 to Main.units(seconds * SaturatedShare, BlockS)) {
      val block = take(BlockMessages)
      val tb = System.nanoTime()
      send(block, 0L, timed = false)
      query.processAllAvailable()
      sat += Steal.since(tb)
    }
    // open loop on a fixed schedule
    latencies.clear()
    val late = mutable.ArrayBuffer.empty[Double]
    var backlog = 0L
    val intervalNs = (EventFeed.EventsPer50 / 50.0 / OpenLoopRate * 1e9).toLong
    val endNs = (seconds * (1 - SaturatedShare) * 1e9).toLong
    val pairsBefore = truth.pairs.size
    val start = System.nanoTime()
    var i = 0L
    while (i * intervalNs < endNs) {
      val dueNs = start + i * intervalNs
      val wait = dueNs - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      send(take(1), dueNs, timed = true)
      late += (System.nanoTime() - dueNs) / 1e6
      backlog = math.max(backlog, sentNew.get - committed.get)
      i += 1
    }
    query.processAllAvailable()
    val lat = latencies.asScala.map(_.doubleValue).toSeq
    phase = PhaseStats(late.toSeq, backlog)
    val n = batches.get - b0
    val failed = badBatches.get - bad0
    Measured(
      workS = sat.toSeq, latMs = lat, tailPct = 99,
      attempted = math.max(n, 1), failed = failed,
      correct = failed == 0 && query.exception.isEmpty && verify(),
      peakCachedMb = peak, units = n.toInt,
      extra = Map(
        "steal_share_measure" -> Steal.shareSince(t0),
        "events_per_s" -> BlockMessages / 50.0 * EventFeed.EventsPer50 /
          sat.min,
        "saturated_blocks" -> sat.size,
        "open_loop_rate" -> OpenLoopRate,
        "open_loop_new_pairs" -> (truth.pairs.size - pairsBefore),
        "latency_samples" -> lat.size))
  }

  /** ES and lake against the feed's own truth: one ES document per
    * distinct valid pair, and one lake row per event, at its latest
    * version. */
  private def verify(): Boolean = {
    val esOk = posted.size == truth.pairs.size
    val rows = spark.read.parquet(lakeDir)
      .select("eventID", "lastUpdateDate", "magnitude").collect()
    val lake = rows.map(r => r.getLong(0) ->
      (r.getString(1), r.getDouble(2))).toMap
    val lakeOk = rows.length == truth.latest.size &&
      truth.latest.forall { case (id, (upd, mag)) =>
        lake.get(id).contains((upd, mag.toDouble)) }
    if (!esOk) System.err.println(
      s"[perfbench] ES holds ${posted.size} docs, expected ${truth.pairs.size}")
    if (!lakeOk) System.err.println(
      s"[perfbench] lake holds ${rows.length} rows, expected ${truth.latest.size}")
    esOk && lakeOk
  }

  override def close(): Unit = if (query != null) query.stop()

  def layers(s: SparkSession, traced: Measured)
      : (Map[String, Double], Measured) = {
    val spans = Trace.spans
    def p50(name: String): Double =
      Main.median(spans.filter(_.name == name).map(_.seconds * 1000))
    val progress = Trace.streamProgress
    def dur(k: String): Double = Main.median(progress.flatMap(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue)))
    val ops = progress.flatMap(_.stateOperators.headOption)
    val lastOp = ops.lastOption
    // the ops layer: parse every message of the phase as one batch and
    // compare with the events the feed generated
    val parsed = Trace.span(spark, "ops", "EarthquakeOps.parseEvents") {
      import s.implicits._
      val all = phasePayloads.toSeq.toDF("value")
        .selectExpr("cast(value as binary) as value")
      graft.ops.EarthquakeOps.parseEvents(all).count()
    }
    val lake = lakeFiles()
    val lakeBytes = lake.map(_._2).sum.toDouble
    (Map(
      "streaming.batches" -> progress.size.toDouble,
      "streaming.trigger_ms_p50" -> dur("triggerExecution"),
      "streaming.planning_ms_p50" -> dur("queryPlanning"),
      "streaming.addbatch_ms_p50" -> dur("addBatch"),
      "streaming.commit_ms_p50" -> dur("commitOffsets"),
      "streaming.state_rows" -> lastOp.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_mb" ->
        lastOp.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
      "streaming.state_commit_ms_p50" ->
        Main.median(ops.map(_.commitTimeMs.toDouble)),
      "streaming.dup_dropped_rows" -> ops.map(o =>
        Option(o.customMetrics.get("numDroppedDuplicateRows"))
          .map(_.doubleValue).getOrElse(0.0)).sum,
      "streaming.late_dropped_rows" ->
        ops.map(_.numRowsDroppedByWatermark.toDouble).sum,
      "ops.messages_in" -> phasePayloads.size.toDouble,
      "ops.events_parsed" -> parsed.toDouble,
      "ops.parse_keep_frac" -> parsed.toDouble / math.max(phaseEvents, 1L),
      "sources.es_write_ms_p50" -> p50("EsSink.write"),
      "sources.es_bulk_mb" -> EsCollector.bytes.sum / 1048576.0,
      "sources.es_chunks" -> EsCollector.chunks.sum.toDouble,
      "sources.lake_upsert_ms_p50" -> p50("Lake.upsertLatest"),
      "sources.lake_files" -> lake.size.toDouble,
      "sources.lake_mb" -> lakeBytes / 1048576.0,
      "sources.lake_write_amp" -> lakeWritten / math.max(lakeBytes, 1.0),
      "generator.late_ms_p99" -> Main.percentile(phase.lateMs, 99),
      "generator.backlog_max_events" -> phase.backlogMax.toDouble),
      traced)
  }
}

final case class PhaseStats(lateMs: Seq[Double], backlogMax: Long)

object Ingest {
  /** Messages per saturated block (1,764 events). */
  val BlockMessages = 50
  /** Seconds of one saturated block when the benchmark was defined;
    * sets how many blocks a run makes. */
  val BlockS = 2.2
  /** Untimed blocks after the first one: block times still fell by
    * about a tenth from the fourth block to the sixth. */
  val WarmBlocks = 3
  /** Messages generated in set-up; a longer run generates the rest as
    * it goes. */
  val PoolMessages = 600
  /** Offered rate of the open loop, events/s: a constant, never
    * derived at run time. About a quarter of the saturated rate measured
    * when the benchmark was defined (about 630 events/s): at half that
    * rate, queueing amplified run-to-run noise in the latency. */
  val OpenLoopRate = 150.0
  /** Share of a run's seconds spent in the saturated phase. */
  val SaturatedShare = 0.45

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}
