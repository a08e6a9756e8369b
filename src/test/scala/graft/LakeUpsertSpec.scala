package graft

import graft.sources.Lake
import graft.streaming.Jobs
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Latest-wins lake MERGE: partition-scoped rewrite, version
  * resolution, idempotent replay, and the streaming foreachBatch
  * wrapper. */
class LakeUpsertSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-upsert").toString

  private def seed(path: String): Unit =
    Lake.upsertLatest(spark, path,
      Seq(
        (1L, 1L, "2024-01-01 10:00:00", "a-v1"),
        (2L, 1L, "2024-01-01 11:00:00", "b-v1"),
        (3L, 1L, "2024-01-02 09:00:00", "c-v1"))
        .toDF("id", "version", "ts", "payload")
        .withColumn("ts", col("ts").cast("timestamp")),
      "id", "version", "ts")

  private def state(path: String): Map[Long, (Long, String)] =
    spark.read.parquet(path).select($"id", $"version", $"payload")
      .as[(Long, Long, String)].collect()
      .map { case (i, v, p) => i -> (v, p) }.toMap

  test("upsert replaces lower versions, inserts new keys, keeps the rest") {
    val path = tmp()
    seed(path)
    Lake.upsertLatest(spark, path,
      Seq(
        (1L, 2L, "2024-01-01 10:00:00", "a-v2"), // update
        (4L, 1L, "2024-01-01 12:00:00", "d-v1")) // insert
        .toDF("id", "version", "ts", "payload")
        .withColumn("ts", col("ts").cast("timestamp")),
      "id", "version", "ts")
    assert(state(path) === Map(
      1L -> (2L, "a-v2"), 2L -> (1L, "b-v1"),
      3L -> (1L, "c-v1"), 4L -> (1L, "d-v1")))
  }

  test("atomicDays commit mode is result-identical to the dynamic " +
      "overwrite (same merge, different commit protocol), across " +
      "update + insert + a fresh-day batch") {
    val path1 = tmp(); val path2 = tmp()
    def run(p: String, atomic: Boolean): Unit = {
      Lake.upsertLatest(spark, p,
        Seq(
          (1L, 1L, "2024-01-01 10:00:00", "a-v1"),
          (3L, 1L, "2024-01-02 09:00:00", "c-v1"))
          .toDF("id", "version", "ts", "payload")
          .withColumn("ts", col("ts").cast("timestamp")),
        "id", "version", "ts", atomicDays = atomic)
      Lake.upsertLatest(spark, p,
        Seq(
          (1L, 2L, "2024-01-01 10:00:00", "a-v2"), // same-day update
          (4L, 1L, "2024-01-03 12:00:00", "d-v1")) // fresh day
          .toDF("id", "version", "ts", "payload")
          .withColumn("ts", col("ts").cast("timestamp")),
        "id", "version", "ts", atomicDays = atomic)
    }
    run(path1, atomic = false)
    run(path2, atomic = true)
    assert(state(path2) === state(path1))
    // partition layout is equivalent too (same event_date dirs)
    def dates(p: String) = spark.read.parquet(p)
      .select($"event_date".cast("string")).as[String].collect().toSet
    assert(dates(path2) === dates(path1))
    // no commit-machinery residue next to the atomic lake
    val fs = new org.apache.hadoop.fs.Path(path2)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (suffix <- Seq("__upsert_day_stage", "__upsert_day_old"))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(path2 + suffix)),
        s"leftover $suffix")
  }

  test("stale update loses; same-version collision prefers the update") {
    val path = tmp()
    seed(path)
    Lake.upsertLatest(spark, path,
      Seq(
        (1L, 0L, "2024-01-01 10:00:00", "a-stale"),
        (2L, 1L, "2024-01-01 11:00:00", "b-v1-rewrite"))
        .toDF("id", "version", "ts", "payload")
        .withColumn("ts", col("ts").cast("timestamp")),
      "id", "version", "ts")
    val s = state(path)
    assert(s(1L) === (1L, "a-v1"))         // stale version rejected
    assert(s(2L) === (1L, "b-v1-rewrite")) // tie → incoming wins
  }

  test("replaying the same batch is idempotent (foreachBatch retries)") {
    val path = tmp()
    seed(path)
    val batch = Seq((1L, 2L, "2024-01-01 10:00:00", "a-v2"))
      .toDF("id", "version", "ts", "payload")
      .withColumn("ts", col("ts").cast("timestamp"))
    Lake.upsertLatest(spark, path, batch, "id", "version", "ts")
    val first = state(path)
    Lake.upsertLatest(spark, path, batch, "id", "version", "ts")
    assert(state(path) === first)
  }

  test("duplicate (key, version) rows WITHIN one batch pick a " +
      "content-deterministic winner — replay persists the same row") {
    val batch = Seq(
      (9L, 7L, "2024-01-05 10:00:00", "payload-A"),
      (9L, 7L, "2024-01-05 10:00:00", "payload-B"))
      .toDF("id", "version", "ts", "payload")
    val path1 = tmp(); val path2 = tmp()
    // two independent lakes, same batch (fresh shuffles each): the
    // winner must agree — shuffle order may not decide it
    Lake.upsertLatest(spark, path1, batch, "id", "version", "ts")
    Lake.upsertLatest(spark, path2,
      batch.repartition(7), "id", "version", "ts")
    val w1 = Lake.read(spark, path1).select("payload").as[String].head()
    val w2 = Lake.read(spark, path2).select("payload").as[String].head()
    assert(w1 === w2, s"$w1 vs $w2")
    assert(Lake.read(spark, path1).count() === 1L)
  }

  test("a read failure of an EXISTING lake propagates — it must not " +
      "present as an empty lake and wipe the touched partitions") {
    val path = tmp()
    seed(path)
    // plant a corrupt parquet file inside a data partition: the
    // pre-fix Try(...).toOption swallowed the read error, took the
    // first-batch branch, and the dynamic overwrite DELETED all
    // pre-existing rows of the touched dates
    val part = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("event_date=")).head
    java.nio.file.Files.write(
      java.nio.file.Paths.get(part.getPath, "corrupt.parquet"),
      "not a parquet file".getBytes)
    intercept[Throwable] {
      Lake.upsertLatest(spark,
        path, Seq((1L, 9L, "2024-01-01 12:00:00", "a-v9"))
          .toDF("id", "version", "ts", "payload"),
        "id", "version", "ts")
    }
    // and nothing was destroyed
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(part.getPath, "corrupt.parquet"))
    assert(Lake.read(spark, path).count() === 3L)
  }

  test("untouched date partitions are not rewritten") {
    val path = tmp()
    seed(path)
    def fileSet(p: String) = {
      val d = new java.io.File(s"$path/event_date=$p")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val before = fileSet("2024-01-02")
    Lake.upsertLatest(spark, path,
      Seq((1L, 2L, "2024-01-01 10:00:00", "a-v2"))
        .toDF("id", "version", "ts", "payload")
        .withColumn("ts", col("ts").cast("timestamp")),
      "id", "version", "ts")
    assert(fileSet("2024-01-02") === before) // day-2 partition untouched
    assert(state(path)(1L) === (2L, "a-v2"))
  }

  test("re-dating a key is partition-scoped (documented contract) and " +
      "dropSupersededVersions cleans the stray") {
    val path = tmp()
    seed(path)
    // key 1 moves from 2024-01-01 to 2024-01-03 at a higher version:
    // the new date's partition gets the winner; the superseded row in
    // the old partition is NOT rewritten — upsertLatest is a
    // partition-scoped MERGE (the old day isn't in the affected set)
    Lake.upsertLatest(spark, path,
      Seq((1L, 2L, "2024-01-03 08:00:00", "a-v2-redated"))
        .toDF("id", "version", "ts", "payload")
        .withColumn("ts", col("ts").cast("timestamp")),
      "id", "version", "ts")
    val rows = spark.read.parquet(path)
      .filter($"id" === 1L)
      .select($"version", $"payload", $"event_date".cast("string"))
      .as[(Long, String, String)].collect().toSet
    assert(rows === Set(
      (1L, "a-v1", "2024-01-01"),        // stranded superseded row
      (2L, "a-v2-redated", "2024-01-03"))) // the new winner
    // the maintenance pass removes the stranded version globally
    Lake.dropSupersededVersions(spark, path, "id", "version")
    val after = spark.read.parquet(path)
      .select($"id", $"version", $"payload").as[(Long, Long, String)]
      .collect().groupBy(_._1).view.mapValues(_.toSet).toMap
    assert(after(1L) === Set((1L, 2L, "a-v2-redated")))
    assert(after(2L) === Set((2L, 1L, "b-v1"))) // untouched keys intact
    assert(after(3L) === Set((3L, 1L, "c-v1")))
  }

  test("schema evolution: appended files with new columns read back merged") {
    val path = tmp()
    Seq((1L, "2024-01-01 10:00:00"))
      .toDF("id", "ts").withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("event_date", to_date(col("ts")))
      .write.partitionBy("event_date").mode("append").parquet(path)
    // later writer adds a column — the archive must stay readable
    Seq((2L, "2024-01-02 10:00:00", "extra"))
      .toDF("id", "ts", "note").withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("event_date", to_date(col("ts")))
      .write.partitionBy("event_date").mode("append").parquet(path)
    val merged = Lake.readEvolving(spark, path)
    assert(merged.columns.toSet === Set("id", "ts", "note", "event_date"))
    val byId = merged.select($"id", $"note").as[(Long, Option[String])]
      .collect().toMap
    assert(byId(1L) === None) // old file: new column null
    assert(byId(2L) === Some("extra"))
  }

  test("schema evolution day-2 contract: a widened UPSERT null-fills " +
      "old rows, survives maintenance, and z-orders; a type CHANGE " +
      "fails loudly") {
    val path = tmp()
    seed(path) // (id, version, ts, payload)
    // the stream gains `region`: the upsert must merge, old partitions
    // and losing rows surfacing NULL in the new column
    Lake.upsertLatest(spark, path,
      Seq((2L, 2L, "2024-01-01 12:00:00", "b-v2", "eu"),
          (4L, 1L, "2024-01-03 08:00:00", "d-v1", "us"))
        .toDF("id", "version", "ts", "payload", "region")
        .withColumn("ts", col("ts").cast("timestamp")),
      "id", "version", "ts")
    val widened = Lake.readEvolving(spark, path)
      .select($"id", $"version", $"payload", $"region")
      .as[(Long, Long, String, Option[String])].collect()
      .map { case (i, v, p, r) => i -> ((v, p, r)) }.toMap
    assert(widened === Map(
      1L -> ((1L, "a-v1", None)),       // untouched partition: null-fill
      2L -> ((2L, "b-v2", Some("eu"))), // updated row carries the column
      3L -> ((1L, "c-v1", None)),
      4L -> ((1L, "d-v1", Some("us")))), widened.toString)
    // an OLD-schema producer still upserting after the widening also
    // merges (its rows null-fill the column it does not know about)
    Lake.upsertLatest(spark, path,
      Seq((3L, 2L, "2024-01-02 10:00:00", "c-v2"))
        .toDF("id", "version", "ts", "payload")
        .withColumn("ts", col("ts").cast("timestamp")),
      "id", "version", "ts")
    // maintenance over the mixed-schema lake must PRESERVE the new
    // column (a non-merged read would sample one old footer and the
    // rewrite would destroy it) and homogenize old rows to NULL
    Lake.dropSupersededVersions(spark, path, "id", "version")
    Lake.compact(spark, path)
    val after = spark.read.parquet(path) // plain read: post-compaction
      .select($"id", $"version", $"region")
      .as[(Long, Long, Option[String])].collect()
      .map { case (i, v, r) => i -> ((v, r)) }.toMap
    assert(after === Map(
      1L -> ((1L, None)), 2L -> ((2L, Some("eu"))),
      3L -> ((2L, None)), 4L -> ((1L, Some("us")))), after.toString)
    // the widened lake z-orders (evolution-neutral write path)
    val zpath = tmp()
    Lake.writeZOrdered(Lake.readEvolving(spark, path)
        .withColumn("vv", $"version" + lit(10L)),
      zpath, Seq("version", "vv"), bits = 4, nFiles = 2)
    assert(spark.read.parquet(zpath).columns.contains("region"))
    // a TYPE CHANGE on a shared column dies loudly — silent union
    // coercion would rewrite history (long payload over string)
    val e = intercept[IllegalArgumentException] {
      Lake.upsertLatest(spark, path,
        Seq((5L, 1L, "2024-01-03 09:00:00", 42L))
          .toDF("id", "version", "ts", "payload")
          .withColumn("ts", col("ts").cast("timestamp")),
        "id", "version", "ts")
    }
    assert(e.getMessage.contains("type CHANGE") &&
      e.getMessage.contains("payload"), e.getMessage)
  }

  /** Every regular file under `path` (relative name → mtime). */
  private def files(path: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(path)
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => root.relativize(f).toString ->
        Files.getLastModifiedTime(f).toMillis).toMap
    finally s.close()
  }

  private def persistentIds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a batch with a null ts row fails before the lake is read or " +
      "written: files, mtimes and rows unchanged") {
    val path = tmp()
    seed(path)
    val filesBefore = files(path)
    val stateBefore = state(path)
    val e = intercept[IllegalArgumentException] {
      Lake.upsertLatest(spark, path,
        Seq((1L, 2L, Some("2024-01-01 10:00:00"), "a-v2"),
            (5L, 1L, None, "e-v1"))
          .toDF("id", "version", "ts", "payload")
          .withColumn("ts", col("ts").cast("timestamp")),
        "id", "version", "ts")
    }
    assert(e.getMessage.contains("cannot be partition-merged"),
      e.getMessage)
    assert(files(path) === filesBefore)
    assert(state(path) === stateBefore)
  }

  test("default-mode upsert into an existing lake: at most 2 jobs, no " +
      "pinned blocks and no staging directories left behind") {
    val path = tmp()
    seed(path)
    val pinned = persistentIds()
    val batch = Seq(
      (1L, 2L, "2024-01-01 10:00:00", "a-v2"),
      (4L, 1L, "2024-01-02 12:00:00", "d-v1"))
      .toDF("id", "version", "ts", "payload")
      .withColumn("ts", col("ts").cast("timestamp"))
    val jobs = jobsOf {
      Lake.upsertLatest(spark, path, batch, "id", "version", "ts")
    }
    info(s"jobs per upsert: $jobs")
    assert(jobs <= 2, s"$jobs jobs for one upsert")
    assert((persistentIds() -- pinned).isEmpty, persistentIds() -- pinned)
    val parent = new java.io.File(path).getParentFile
    val base = new java.io.File(path).getName
    assert(!new java.io.File(parent, base + "__upsert_stage").exists())
    val entries = new java.io.File(path).list().toSeq
    assert(!entries.exists(_.startsWith(".spark-staging-")),
      entries.mkString(", "))
    assert(state(path) === Map(
      1L -> (2L, "a-v2"), 2L -> (1L, "b-v1"),
      3L -> (1L, "c-v1"), 4L -> (1L, "d-v1")))
  }

  test("streaming upsert via foreachBatch reaches latest-wins state") {
    implicit val sqlCtx = spark.sqlContext
    val pinned = persistentIds()
    val path = tmp()
    val input = MemoryStream[(Long, Long, String, String)]
    val updates = input.toDF()
      .toDF("id", "version", "ts", "payload")
      .withColumn("ts", col("ts").cast("timestamp"))
    val query = Jobs.upsertStream(updates, path,
      Files.createTempDirectory("graft-upsert-ck").toString,
      "id", "version", "ts").start()
    try {
      input.addData((1L, 1L, "2024-01-01 10:00:00", "a-v1"))
      query.processAllAvailable()
      input.addData(
        (1L, 2L, "2024-01-01 10:00:00", "a-v2"),
        (2L, 1L, "2024-01-02 09:00:00", "b-v1"))
      query.processAllAvailable()
      assert(state(path) === Map(1L -> (2L, "a-v2"), 2L -> (1L, "b-v1")))
    } finally query.stop()
    // every micro-batch's pin (and the upsert's staging blocks) is
    // gone; earlier suites' pins may only have been GC-released since
    assert((persistentIds() -- pinned).isEmpty,
      persistentIds() -- pinned)
  }

  /** `body` with Spark's coalescing target at `bytes`, restored after:
    * at "1" no slice fits, so the upsert keeps the shuffle plan. */
  private def withAdvisory[T](bytes: String)(body: => T): T = {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Three seeded update batches over 30 keys on three days (a key's
    * day derives from the key, the upsert's contract); versions
    * collide within and across batches, and the last batch gains a
    * column. */
  private def seededBatches(rngSeed: Long): Seq[DataFrame] = {
    val r = new scala.util.Random(rngSeed)
    (1 to 3).map { b =>
      val rows = Seq.fill(60) {
        val id = r.nextInt(30).toLong
        (id, r.nextInt(4).toLong,
          f"2024-01-0${1 + id % 3} ${r.nextInt(24)}%02d:00:00",
          s"p${r.nextInt(1000)}")
      }
      val df = rows.toDF("id", "version", "ts", "payload")
        .withColumn("ts", col("ts").cast("timestamp"))
      if (b < 3) df else df.withColumn("region", concat(lit("r"), $"id" % 4))
    }
  }

  private def lakeRows(path: String): (org.apache.spark.sql.types.StructType,
      Set[Row]) = {
    val df = Lake.readEvolving(spark, path)
    (df.schema, df.collect().toSet)
  }

  test("the single-task merge and the shuffle plan leave the same lake " +
      "rows and schema on the same seeded batches") {
    val small = tmp(); val forced = tmp()
    for (batch <- seededBatches(11)) {
      Lake.upsertLatest(spark, small, batch, "id", "version", "ts")
      withAdvisory("1") {
        Lake.upsertLatest(spark, forced, batch, "id", "version", "ts")
      }
    }
    val (schema, rows) = lakeRows(small)
    assert(schema.fieldNames.toSeq ===
      Seq("id", "version", "ts", "payload", "region", "event_date"))
    assert(rows.size === 30)
    assert(lakeRows(forced) === ((schema, rows)))
  }

  /** The executed plans of the write commands `body` ran. */
  private def writePlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // jobsOf's sentinel drains the listener queue the callbacks ride on
    try jobsOf(body) finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq.filter(p =>
      planHelper.find(p)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
  }

  /** Walks plans through AQE's wrapper and query stages. */
  private val planHelper = new AdaptiveSparkPlanHelper {}

  test("a small upsert writes with no Exchange; the forced plan keeps " +
      "the hash exchange") {
    def exchanges(p: SparkPlan) =
      planHelper.collect(p) { case e: ShuffleExchangeLike => e }
    def upsert(path: String): Seq[SparkPlan] = writePlans {
      Lake.upsertLatest(spark, path,
        Seq((1L, 2L, "2024-01-01 10:00:00", "a-v2"),
            (4L, 1L, "2024-01-02 12:00:00", "d-v1"))
          .toDF("id", "version", "ts", "payload")
          .withColumn("ts", col("ts").cast("timestamp")),
        "id", "version", "ts")
    }
    val small = tmp(); seed(small)
    val one = upsert(small)
    assert(one.size === 1, one.mkString("\n"))
    assert(exchanges(one.head).isEmpty, one.head.treeString)
    val forced = tmp(); seed(forced)
    val shuffled = withAdvisory("1")(upsert(forced))
    assert(shuffled.size === 1, shuffled.mkString("\n"))
    assert(exchanges(shuffled.head).exists(_.outputPartitioning.toString
      .startsWith("hashpartitioning(id")), shuffled.head.treeString)
    assert(state(forced) === state(small))
  }

  test("lakeSchema equals mergeSchema inference (names, types, order) " +
      "with a wider unaffected day, and re-reads a rewritten file") {
    val path = tmp()
    seed(path)
    Seq((7L, 1L, "2024-01-05 10:00:00", "g-v1", 3.5, "x"))
      .toDF("id", "version", "ts", "payload", "score", "note")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("event_date", to_date($"ts"))
      .write.mode("append").partitionBy("event_date").parquet(path)
    Lake.upsertLatest(spark, path,
      Seq((1L, 2L, "2024-01-01 10:00:00", "a-v2"))
        .toDF("id", "version", "ts", "payload")
        .withColumn("ts", col("ts").cast("timestamp")),
      "id", "version", "ts")
    def inferred() = spark.read.option("mergeSchema", "true").parquet(path)
      .schema
    assert(Lake.lakeSchema(spark, path) === inferred())
    assert(Lake.lakeSchema(spark, path).fieldNames.toSeq === Seq("id",
      "version", "ts", "payload", "score", "note", "event_date"))
    assert(jobsOf(Lake.readEvolving(spark, path)) === 0)
    assert(Lake.readEvolving(spark, path).count() === 4L)
    // the wide day's file replaced in place by one with another column
    val day = new java.io.File(path, "event_date=2024-01-05")
    val old = day.listFiles().filter(_.getName.endsWith(".parquet")).head
    val stage = tmp()
    Seq((7L, 1L, "2024-01-05 10:00:00", "g-v1", 9L))
      .toDF("id", "version", "ts", "payload", "rank")
      .withColumn("ts", col("ts").cast("timestamp"))
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val fresh = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(fresh.toPath, old.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.deleteIfExists(new java.io.File(day, s".${old.getName}.crc").toPath)
    assert(jobsOf(Lake.readEvolving(spark, path)) === 0)
    assert(Lake.lakeSchema(spark, path) === inferred())
    // the upsert widened day 1 to the lake's columns; day 5 now has rank
    assert(Lake.lakeSchema(spark, path).fieldNames.toSeq === Seq("id",
      "version", "ts", "payload", "score", "note", "rank", "event_date"))
  }

  test("restart gate: upsertStream stopped after a batch and restarted " +
      "from its checkpoint leaves the same lake rows") {
    val r = new scala.util.Random(23)
    val batches = Seq.fill(4)(Seq.fill(25) {
      val id = r.nextInt(20).toLong
      (id, r.nextInt(5).toLong,
        f"2024-02-0${1 + id % 4} ${r.nextInt(24)}%02d:00:00",
        s"p${r.nextInt(100)}")
    })
    assertRestartDrains(batches, stopAfter = 2) { (input, dir) =>
      Jobs.upsertStream(
        input.toDF("id", "version", "ts", "payload")
          .withColumn("ts", col("ts").cast("timestamp")),
        dir.resolve("lake").toString, dir.resolve("cp").toString,
        "id", "version", "ts").start()
    } { dir => spark.read.parquet(dir.resolve("lake").toString)
      .collect().toSet }
  }
}
