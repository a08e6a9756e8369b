package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table loaders for the driver's deterministic parquet tables
  * (TESTDATA.md): `region nation customer supplier part orders lineitem
  * events documents embeddings`, one parquet file per table under a
  * scale-factor directory.
  *
  * At cluster scale the same loaders work against a partitioned lake
  * (directory of files); nothing here assumes a single file.
  *
  * SCHEMA MEMO: `spark.read.parquet(path)` runs one footer-scan Spark
  * job per reader to infer the schema, even for one file: one job per
  * table a query reads. [[schemaOf]] infers each
  * table FILE's schema once per JVM and [[table]] reads with it, so a
  * warm read starts no job.
  *  - Key: the qualified path, the file's length and modification
  *    time, and the session's parquet-inference confs (every set conf
  *    whose key contains `parquet`, e.g.
  *    `spark.sql.legacy.parquet.nanosAsLong`, plus
  *    `spark.sql.caseSensitive`). A rewritten file or a flipped conf
  *    is a new key.
  *  - Scope: regular files only. A directory (the partitioned lake)
  *    keeps Spark's own inference on every read: a file added under a
  *    partition subdirectory leaves the root's mtime as it was, so a
  *    directory key could go stale.
  *  - Miss: exactly the unmemoized call, `spark.read.parquet(path)
  *    .schema`, so a miss infers (or fails) as Spark does.
  */
object Tables {
  private val fileSchemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long,
      Map[String, String]), StructType]()

  /** The schema `spark.read.parquet(path)` would infer, memoized per
    * table file (the key and scope above). The inference runs OUTSIDE
    * the map's locks (computeIfAbsent would hold a bin lock across a
    * Spark job): concurrent misses may both infer; the first put wins. */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    def infer(): StructType = spark.read.parquet(path).schema
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val file =
      try Some(fs.getFileStatus(p)).filter(_.isFile)
      catch { case _: java.io.FileNotFoundException => None }
    file.fold(infer()) { f =>
      val confs = spark.conf.getAll.filter { case (k, _) =>
        k.contains("parquet") || k == "spark.sql.caseSensitive" }
      val key = (f.getPath.toString, f.getLen, f.getModificationTime, confs)
      Option(fileSchemas.get(key)).getOrElse {
        val inferred = infer()
        Option(fileSchemas.putIfAbsent(key, inferred)).getOrElse(inferred)
      }
    }
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** The events table's raw `ts` has shipped in two encodings across
    * testdata generations: TIMESTAMP(NANOS) (int64 ns — Spark 4 reads
    * it only via nanosAsLong) and a plain µs parquet timestamp (which
    * Spark surfaces as TIMESTAMP_NTZ under default NTZ inference).
    * Normalize EITHER to the same two columns every consumer uses:
    *  - `ts_ns`: exact int64 nanoseconds — use for ordering/arithmetic
    *    (bit-exact vs DuckDB's epoch_ns / epoch_us semantics);
    *  - `ts`: µs TimestampType — use for date/window functions.
    *
    * Only the legacy encoding needs `spark.sql.legacy.parquet.nanosAsLong`
    * (Spark 4 rejects TIMESTAMP(NANOS) without it). The file's footer
    * decides: for a NANOS `ts` this sets the conf on the session and
    * leaves it set, because the scan reads the file at action time, not
    * here; a µs `ts` leaves the session's confs as they were.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    if (nanosTs(s, s"$d/events.parquet"))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(table(s, d, "events"))
  }

  private val nanosFiles = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), java.lang.Boolean]()

  /** Whether the first data file under `path` (the file Spark's
    * non-merging inference reads) stores `ts` as TIMESTAMP(NANOS),
    * memoized under the [[schemaOf]] file key. */
  private def nanosTs(s: SparkSession, path: String): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    graft.sources.Lake.dataFiles(s, path).headOption.exists { f =>
      nanosFiles.computeIfAbsent(
        (f.getPath.toString, f.getLen, f.getModificationTime), _ => {
          val schema =
            graft.sources.Lake.footer(s, f).getFileMetaData.getSchema
          schema.containsField("ts") &&
            (schema.asGroupType.getType("ts").getLogicalTypeAnnotation match {
              case t: TimestampLogicalTypeAnnotation =>
                t.getUnit == TimeUnit.NANOS
              case _ => false
            })
        })
    }
  }

  /** Schema-adaptive `ts` normalization, shared with the streaming
    * events reader: a LongType `ts` is legacy exact nanoseconds; a
    * (possibly NTZ) timestamp `ts` is µs since epoch with `ts_ns`
    * derived ×1000 — exact ONLY while |µs| ≤ Long.Max/1000 (year
    * ~2262), a bound the legacy NANOS encoding enforced structurally
    * but a µs timestamp can exceed (it represents out to year
    * ~294247). Out-of-range rows FAIL the job rather than silently
    * wrapping negative — a wrapped ts_ns would misorder every as-of
    * join, sessionization, and watermark downstream. The
    * NTZ→timestamp cast is instant-preserving under the UTC session
    * timezone every entry point pins. */
  private[graft] def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", expr(
            """CASE WHEN abs(unix_micros(ts)) <= 9223372036854775
              |  THEN unix_micros(ts) * 1000
              |  ELSE raise_error(concat('events.ts ', cast(ts as string),
              |    ' overflows int64 nanoseconds (post-2262) — ts_ns cannot',
              |    ' represent it; filter or re-encode the feed'))
              |END""".stripMargin))
    }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}

/** Shared helpers for oracle-stable arithmetic.
  *
  * The driver hash-compares our parquet output against DuckDB running
  * the `oracleSql` on the same tables. Floating-point aggregation order
  * differs between engines, so raw `sum(double)` is not hash-stable.
  * Strategy: cast inputs to exact decimals, aggregate exactly, cast the
  * exact result back to double (a deterministic IEEE value), and do any
  * residual arithmetic (avg, variance) as an identical explicit tree of
  * IEEE double ops on both sides.
  */
object OracleMath {
  import org.apache.spark.sql.Column

  val Dec: DecimalType = DecimalType(18, 4)

  /** Exact decimal sum of a double column, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(Dec)).cast(DoubleType)
}
