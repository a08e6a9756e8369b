package graft.streaming

import graft.ops.EarthquakeOps
import graft.operators.Hydration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Structured Streaming jobs (SURVEY §2.1/§2.9).
  *
  * The reference runs four copy-pasted Kafka→Parquet archivers
  * (eQRawToParquet.py and siblings) plus a hand-rolled parquet-dir
  * poller (sparktoELKstream.py:130-144). Here: one parameterized
  * archiver, and the poller is replaced by Spark's file streaming
  * source (native new-file discovery + exactly-once bookkeeping via
  * the checkpoint, instead of a seen-files set in Python memory).
  *
  * Transforms are pure DataFrame→DataFrame so tests drive them with
  * MemoryStream and production wires them to Kafka.
  */
object Jobs {

  /** S1: Kafka streaming source, tolerant of retention gaps
    * (`failOnDataLoss=false`, eQRawToParquet.py:20). */
  def kafkaSource(spark: SparkSession, servers: String, topic: String): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("failOnDataLoss", "false")
      .load()

  /** S2: raw archiver sink — append-mode parquet with a per-query
    * checkpoint, partitioned by ingest date so the lake is prunable
    * (the reference's flat dirs force full scans; date partitioning is
    * what survives 100 TB). */
  def rawToParquet(raw: DataFrame, path: String, checkpoint: String): DataStreamWriter[Row] =
    raw.withColumn("ingest_date", to_date(col("timestamp")))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("ingest_date")

  /** S3 replacement: stream the raw lake itself (file source discovers
    * new parquet natively). */
  def lakeSource(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(graft.model.Wire.kafkaSchema).parquet(path)

  /** The analytics pipeline (sparktoELKstream.py's sparktoELK, minus
    * the RDD hop): parse → minute-normalized date → typed enrichment.
    * Works identically on batch and streaming frames. */
  def eventsPipeline(raw: DataFrame): DataFrame =
    EarthquakeOps.enrich(
      EarthquakeOps.normalizeDate(EarthquakeOps.parseEvents(raw)))
      .withColumn("event_ts", to_timestamp(col("date"), "yyyy-MM-dd'T'HH:mm"))

  /** Streaming dedup (O9): drops a row whose (eventID, lastUpdateDate)
    * key was seen within the watermark delay of that key's first
    * event time — the reference re-polls 7-day windows (S5), so
    * duplicates arrive up to a week late, and the 8-day delay covers
    * that horizon. The key carries no event-time column, so a plain
    * `dropDuplicates` on it could never evict;
    * `dropDuplicatesWithinWatermark` keeps each key's state until the
    * watermark passes its first event time plus the delay. A re-polled
    * copy arriving after that is older than the watermark and is
    * dropped as late. */
  def dedupStream(events: DataFrame, watermark: String = "8 days"): DataFrame =
    events
      .withWatermark("event_ts", watermark)
      .dropDuplicatesWithinWatermark("eventID", "lastUpdateDate")

  /** Windowed region analytics on the stream: events per fault line
    * per tumbling day (replaces the reference's duplicate
    * `earthquakeRawWeek` topic + batch re-aggregation pattern). */
  def regionWindowCounts(events: DataFrame, window_ : String = "1 day"): DataFrame =
    events
      .withWatermark("event_ts", "8 days")
      .groupBy(window(col("event_ts"), window_), col("fault_line"))
      .agg(count(lit(1)).as("n"),
        max(col("magnitude")).as("max_magnitude"))

  /** Full streaming job: raw topic → parsed/enriched/deduped → sink
    * via foreachBatch (ES in production; any DataFrame sink in test). */
  def eventsToSink(raw: DataFrame, checkpoint: String,
      sink: (DataFrame, Long) => Unit,
      trigger: Trigger = Trigger.ProcessingTime(0)): DataStreamWriter[Row] =
    dedupStream(eventsPipeline(raw))
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(sink)

  /** Streaming MERGE: each micro-batch upserts latest-wins into the
    * keyed date-partitioned lake ([[graft.sources.Lake.upsertLatest]]).
    * foreachBatch retries replay the same batch — the upsert is
    * idempotent, so exactly-once lake state falls out. This closes the
    * reference's update-handling gap: `isEventUpdate` rows REPLACE the
    * stale event in the archive instead of accumulating beside it.
    *
    * The batch is persisted for the call: the upsert reads it twice
    * (probe, then merge), and an unpersisted foreachBatch frame
    * re-runs its source on every pass — a Kafka batch would be fetched
    * once per read. Released by a [[Hydration.scoped]] block,
    * so no batch stays pinned, even when the upsert throws. */
  def upsertStream(updates: DataFrame, path: String, checkpoint: String,
      keyCol: String, versionCol: String, tsCol: String,
      trigger: Trigger = Trigger.ProcessingTime(0)): DataStreamWriter[Row] =
    updates.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Hydration.scoped(graft.sources.Lake.upsertLatest(batch.sparkSession,
          path, Hydration.persist(batch), keyCol, versionCol, tsCol))
      }
}
