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
      query: org.apache.spark.sql.DataFrame => Dataset[_]): Unit = {
    require(stopAfter >= 1 && stopAfter < batches.size,
      s"stopAfter=$stopAfter must leave batches on both sides")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def drained(restartAfter: Option[Int]): Set[Row] = {
      val dir = java.nio.file.Files.createTempDirectory("restart-gate")
      val out = dir.resolve("out").toString
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[A]
      def start() = query(input.toDF()).toDF().writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", dir.resolve("cp").toString)
        .outputMode("append").start()
      var q = start()
      try batches.zipWithIndex.foreach { case (b, i) =>
        input.addData(b)
        q.processAllAvailable()
        if (restartAfter.contains(i + 1)) { q.stop(); q = start() }
      } finally q.stop()
      val df = spark.read.parquet(out)
      val rest = df.columns.filterNot(c => c == tag || keys.contains(c))
      df.groupBy(keys.map(col): _*)
        .agg(max_by(struct(rest.map(col): _*), col(tag)).as("f"))
        .select(keys.map(col) :+ col("f.*"): _*)
        .collect().toSet
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
