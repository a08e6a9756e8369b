package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call: `layer` is the repo module the call enters. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Engine work a span caused, read from the Spark events whose jobs
  * carried the span's id as a local property. */
final class EngineTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var emptyTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  def add(o: EngineTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    emptyTasks += o.emptyTasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill
  }
}

/** In-memory span recorder plus the Spark listeners of the traced run.
  *
  * Spans are kept in memory and written once, at the end of the run.
  * The listeners are registered only by [[start]], so an untraced run
  * (or the untraced half of a traced run) pays nothing for them. Jobs
  * are attributed to the innermost open span of the thread that
  * submitted them through the `perfbench.span` local property, which
  * Spark copies into every job's properties; stages and tasks follow
  * their job. */
object Trace {
  val SpanProperty = "perfbench.span"

  @volatile private var on = false
  private val ids = new AtomicLong()
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val engine = mutable.Map.empty[Long, EngineTotals]
  private val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private var planningMs = 0L
  private var exchanges = 0L
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  private var sparkListener: SparkListener = _
  private var qeListener: QueryExecutionListener = _
  private var streamListener: StreamingQueryListener = _

  def enabled: Boolean = on

  /** Time `body` as a span of `layer`; a no-op wrapper when tracing is
    * off. */
  def span[T](spark: SparkSession, layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.getOrElse(0L)
      val sc = spark.sparkContext
      val before = sc.getLocalProperty(SpanProperty)
      open.set(id :: stack)
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, name, layer, t0, System.nanoTime()))
        open.set(stack)
        sc.setLocalProperty(SpanProperty, before)
      }
    }

  /** Register the listeners and start recording spans. */
  def start(spark: SparkSession): Unit = {
    sparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val id = Option(e.properties).flatMap(p =>
          Option(p.getProperty(SpanProperty))).map(_.toLong).getOrElse(0L)
        e.stageIds.foreach(s => stageSpan.put(s, id))
        Trace.synchronized(totals(id).jobs += 1)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Trace.synchronized(totals(spanOf(e.stageInfo.stageId)).stages += 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        val info = e.taskInfo
        Trace.synchronized {
          val t = totals(spanOf(e.stageId))
          t.tasks += 1
          taskIntervals += ((info.launchTime, info.finishTime))
          if (m != null) {
            if (m.inputMetrics.recordsRead == 0 &&
                m.shuffleReadMetrics.recordsRead == 0) t.emptyTasks += 1
            t.runMs += m.executorRunTime
            t.cpuNs += m.executorCpuTime
            t.gcMs += m.jvmGCTime
            t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    }
    qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = {
        val n = collect(qe.executedPlan) { case x: Exchange => x }.size
        val ms = qe.tracker.phases.values.map(_.durationMs).sum
        Trace.synchronized { exchanges += n; planningMs += ms }
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Trace.synchronized(progress += e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  /** Stop recording; waits for the listener bus to drain first so no
    * event of the traced work is lost. */
  def stop(spark: SparkSession): Unit = {
    on = false
    if (sparkListener != null) {
      drain(spark)
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
      sparkListener = null
    }
  }

  /** Block until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.ListenerBusAccess.waitUntilEmpty(spark.sparkContext, 60000)

  private def spanOf(stage: Int): Long =
    Option(stageSpan.get(stage)).getOrElse(0L)

  private def totals(span: Long): EngineTotals =
    engine.getOrElseUpdate(span, new EngineTotals)

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  def streamProgress: Seq[StreamingQueryProgress] = synchronized(progress.toSeq)

  def engineTotal: EngineTotals = synchronized {
    val all = new EngineTotals
    engine.values.foreach(all.add)
    all
  }

  def planningSeconds: Double = synchronized(planningMs / 1e3)
  def exchangeCount: Long = synchronized(exchanges)

  /** Wall time inside [t0Ms, t1Ms] during which no task was running. */
  def idleSeconds(t0Ms: Long, t1Ms: Long): Double = synchronized {
    val iv = taskIntervals.map { case (a, b) =>
      (math.max(a, t0Ms), math.min(b, t1Ms)) }.filter(x => x._2 > x._1)
      .sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, (t1Ms - t0Ms) - covered) / 1e3
  }

  /** A span's duration minus the part of it its child spans cover. */
  def selfSeconds(all: Seq[Span]): Map[Long, Double] = {
    val children = all.groupBy(_.parent)
    all.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k =>
        (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      kids.foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) covered += b - from
        end = math.max(end, b)
      }
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }

  /** The span file: every span with its parent, self time and the
    * engine work its jobs caused. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val all = spans
    val self = selfSeconds(all)
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    val rows = all.map { s =>
      val e = synchronized(engine.getOrElse(s.id, new EngineTotals))
      Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_s" -> (s.startNs - t0) / 1e9,
        "end_s" -> (s.endNs - t0) / 1e9, "self_s" -> self(s.id),
        "jobs" -> e.jobs, "stages" -> e.stages, "tasks" -> e.tasks,
        "executor_run_s" -> e.runMs / 1e3)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    Main.json.writeValue(path.toFile, rows)
  }
}
