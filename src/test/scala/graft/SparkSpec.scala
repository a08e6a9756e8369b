package graft

import org.apache.spark.sql.{Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.functions.{col, max_by, struct}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session (one per suite, SURVEY §5).
  *
  * Known shared-state leak: TrainingPipelineSpec's reliable-checkpoint
  * test calls `sparkContext.setCheckpointDir` (irreversible) on this
  * JVM-global context, so any suite running after it sees a checkpoint
  * dir set. Tests that depend on the dir being UNSET must guard on
  * `sparkContext.getCheckpointDir.isEmpty` rather than assume order. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Jobs `body` starts, counted by a listener (the PlanQualitySpec
    * pattern) over the jobs tagged with a local property. A sentinel
    * job run afterwards drains the listener queue: events reach one
    * listener in order, so once the sentinel's start arrives every
    * job of `body` has been counted. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = "graft.spec.gate"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(tag)) match {
          case Some("body") => jobs.incrementAndGet()
          case Some("sentinel") => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      try body finally sc.setLocalProperty(tag, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "the listener never saw the sentinel job")
      jobs.get()
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  /** Restart gate for a stateful streaming query (SessionizeSpec's
    * checkpoint-recovery pattern): feeds `batches` through
    * `query(input)` twice — once uninterrupted, once stopped after
    * batch `stopAfter` and restarted from the same checkpoint — into a
    * parquet sink, and requires equal drained output: per `keys`
    * group, the row with the max `tag` (the progress-stream consumer
    * rule of the `seen`/`n_seen` monitors). */
  def assertRestartInvariant[A: Encoder](batches: Seq[Seq[A]],
      stopAfter: Int, keys: Seq[String], tag: String)(
      query: org.apache.spark.sql.DataFrame => Dataset[_]): Unit =
    assertRestartDrains(batches, stopAfter) { (input, dir) =>
      query(input).toDF().writeStream
        .format("parquet").option("path", dir.resolve("out").toString)
        .option("checkpointLocation", dir.resolve("cp").toString)
        .outputMode("append").start()
    } { dir =>
      val df = spark.read.parquet(dir.resolve("out").toString)
      val rest = df.columns.filterNot(c => c == tag || keys.contains(c))
      df.groupBy(keys.map(col): _*)
        .agg(max_by(struct(rest.map(col): _*), col(tag)).as("f"))
        .select(keys.map(col) :+ col("f.*"): _*)
        .collect().toSet
    }

  /** The restart gate's core, for any sink: `start(input, dir)` starts
    * the query over the memory stream with its checkpoint and output
    * under `dir`; `drain(dir)` reads what the run left. Runs `batches`
    * uninterrupted and again stopped after batch `stopAfter` and
    * restarted from the same checkpoint, and requires equal drains. */
  def assertRestartDrains[A: Encoder](batches: Seq[Seq[A]],
      stopAfter: Int)(
      start: (org.apache.spark.sql.DataFrame, java.nio.file.Path) =>
        org.apache.spark.sql.streaming.StreamingQuery)(
      drain: java.nio.file.Path => Set[Row]): Unit = {
    require(stopAfter >= 1 && stopAfter < batches.size,
      s"stopAfter=$stopAfter must leave batches on both sides")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def drained(restartAfter: Option[Int]): Set[Row] = {
      val dir = java.nio.file.Files.createTempDirectory("restart-gate")
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[A]
      var q = start(input.toDF(), dir)
      try batches.zipWithIndex.foreach { case (b, i) =>
        input.addData(b)
        q.processAllAvailable()
        if (restartAfter.contains(i + 1)) {
          q.stop(); q = start(input.toDF(), dir)
        }
      } finally q.stop()
      drain(dir)
    }
    val straight = drained(None)
    assert(straight.nonEmpty, "the gate's input drained to nothing")
    val restarted = drained(Some(stopAfter))
    assert(restarted === straight,
      s"restart changed the drained output:\nrestarted=$restarted\n" +
        s"straight=$straight")
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
