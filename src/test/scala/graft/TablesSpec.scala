package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.LongType
import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.util.{Failure, Success, Try}

/** The per-file schema memo of [[Tables]]: a warm read starts no Spark
  * job, and the key (path, length, mtime, parquet confs) re-infers
  * whenever a fresh `spark.read.parquet` could infer differently. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): File =
    Files.createTempDirectory("graft-tables").toFile

  /** Writes `df` as the ONE file `<dir>/<name>.parquet` (the layout of
    * the scale-factor tables), replacing any file already there. */
  private def tableFile(dir: File, name: String, df: DataFrame): String = {
    val out = new File(dir, s"$name.out")
    df.coalesce(1).write.mode("overwrite").parquet(out.getPath)
    val part = out.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(fail(s"no part file under $out"))
    val target = new File(dir, s"$name.parquet")
    Files.move(part.toPath, target.toPath, StandardCopyOption.REPLACE_EXISTING)
    target.getPath
  }

  /** `<dir>/events.parquet` with a TIMESTAMP(NANOS) `ts` — the legacy
    * encoding Spark reads only under `nanosAsLong` and cannot write. */
  private def nanosEvents(dir: File): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val path = new File(dir, "events.parquet").getPath
    val conf = spark.sparkContext.hadoopConfiguration
    val writer = ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(new org.apache.hadoop.fs.Path(path), conf))
      .withConf(conf).withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1675657800123456789L))
    finally writer.close()
    path
  }

  test("a second Tables.table of the same file starts no Spark job") {
    val dir = tmpDir()
    tableFile(dir, "t", Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    assert(jobsOf(Tables.table(spark, dir.getPath, "t")) === 1)
    var warm: DataFrame = null
    assert(jobsOf { warm = Tables.table(spark, dir.getPath, "t") } === 0)
    val fresh = spark.read.parquet(s"$dir/t.parquet")
    assert(warm.schema === fresh.schema)
    assert(warm.as[(Long, String)].collect().sorted ===
      fresh.as[(Long, String)].collect().sorted)
  }

  test("Tables.events: the memo follows nanosAsLong, matching a fresh " +
      "inference under each setting") {
    val dir = tmpDir()
    val path = nanosEvents(dir)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    def agree(): Unit =
      (Try(spark.read.parquet(path).schema),
        Try(Tables.schemaOf(spark, path))) match {
        case (Success(fresh), Success(memo)) => assert(memo === fresh)
        case (Failure(fresh), Failure(memo)) =>
          assert(memo.getMessage === fresh.getMessage)
        case other => fail(s"fresh inference and memo disagree: $other")
      }
    try {
      spark.conf.set(key, "true")
      agree()
      assert(Tables.schemaOf(spark, path)("ts").dataType === LongType)
      val events = Tables.events(spark, dir.getPath)
      assert(events.schema ===
        Tables.normalizeEventTs(spark.read.parquet(path)).schema)
      assert(events.select("ts_ns").as[Long].collect() ===
        Array(1675657800123456789L))
      // a memo keyed without the conf would return the LongType schema
      spark.conf.set(key, "false")
      agree()
      // Tables.events sets the flag itself: its entry is warm
      assert(jobsOf(Tables.events(spark, dir.getPath)) === 0)
      assert(spark.conf.get(key) === "true")
      agree()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("a file rewritten at the same path with another schema is " +
      "re-inferred") {
    val dir = tmpDir()
    tableFile(dir, "t", Seq((1L, "a")).toDF("id", "s"))
    assert(Tables.table(spark, dir.getPath, "t").columns.toSeq ===
      Seq("id", "s"))
    tableFile(dir, "t", Seq((1.5, 2, true)).toDF("x", "y", "z"))
    val reread = Tables.table(spark, dir.getPath, "t")
    assert(reread.schema === spark.read.parquet(s"$dir/t.parquet").schema)
    assert(reread.as[(Double, Int, Boolean)].collect() ===
      Array((1.5, 2, true)))
  }

  test("a directory path keeps Spark's inference on every read") {
    val dir = tmpDir()
    Seq((1L, "2024-01-01"), (2L, "2024-01-02")).toDF("id", "day")
      .write.partitionBy("day").parquet(s"$dir/lake.parquet")
    for (_ <- 1 to 2)
      assert(jobsOf(Tables.table(spark, dir.getPath, "lake")) >= 1)
    // a partition added under the root is seen by the next read
    Seq((3L, "2024-01-03")).toDF("id", "day")
      .write.mode("append").partitionBy("day").parquet(s"$dir/lake.parquet")
    assert(Tables.table(spark, dir.getPath, "lake").count() === 3)
  }

  test("Tables.events on a µs-ts file leaves nanosAsLong as the " +
      "caller set it") {
    val dir = tmpDir()
    tableFile(dir, "events", Seq((1L, "2024-01-01 10:00:00.123456"))
      .toDF("event_id", "ts").withColumn("ts", $"ts".cast("timestamp")))
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      val events = Tables.events(spark, dir.getPath)
      assert(spark.conf.get(key) === "false")
      assert(events.select("ts_ns").as[Long].collect() ===
        Array(1704103200123456000L))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
