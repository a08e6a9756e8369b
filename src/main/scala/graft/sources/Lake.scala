package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._

/** Partitioned parquet lake writer/reader.
  *
  * The reference's raw lake is a flat directory per topic
  * (eQRawToParquet.py:23) — every query scans everything. At 100 TB
  * the lake must be partitioned by event date so date predicates prune
  * at the directory level (PartitionFilters in the scan, zero I/O for
  * untouched days), with file sizes controlled to avoid the
  * small-files problem micro-batches create.
  */
object Lake {

  /** The fan-out salt shared by [[write]] and [[compact]]: a stable
    * per-row value mod `n`. Determinism is the only requirement (a
    * retry must land rows in the same file), NOT full-row coverage —
    * so callers with text/media-heavy rows should name a cheap stable
    * subset (a timestamp + an id) via `saltCols` instead of paying a
    * full-row stringify per row. All-columns stays the DEFAULT
    * because it is the only subset that cannot degenerate (any fixed
    * cheap choice collapses on some feed — tsCol-only on constant
    * backfill stamps); the salt's quality only affects file-size
    * balance, never results. */
  private def fanOutSalt(saltCols: Seq[String], n: Int): Column =
    pmod(xxhash64(saltCols.map(c => col(c).cast("string")): _*),
      lit(n.toLong))

  /** Write a frame as a date-partitioned lake. `tsCol` drives the
    * `event_date` partition column; `filesPerPartition` bounds the
    * file count per date — 1 coalesces micro-batch dribble, > 1 salts
    * the date so a heavy day FANS OUT across writers
    * (`repartition(n, event_date)` alone can never do that: every row
    * of a date hashes to ONE task, making the knob a no-op above 1 and
    * a single-writer bottleneck on backfills). The salt hashes
    * `saltCols` when given — the cheap-subset knob for text/media-
    * heavy lakes, where stringifying every column per row costs more
    * than the write — and ALL columns otherwise (always correct:
    * a cheap default like tsCol-only would quietly collapse the
    * fan-out on constant-timestamp backfills, the exact case the
    * knob exists for). */
  def write(df: DataFrame, path: String, tsCol: String,
      mode: String = "append", filesPerPartition: Int = 1,
      saltCols: Seq[String] = Seq.empty): Unit = {
    require(filesPerPartition >= 1,
      s"filesPerPartition=$filesPerPartition must be >= 1")
    val dated = df.withColumn("event_date", to_date(col(tsCol)))
    val parted =
      if (filesPerPartition == 1) dated.repartition(col("event_date"))
      // EXPLICIT partition count: an unnumbered repartition is
      // AQE-coalescible, which re-merges the salt's fan-out on small
      // batches and would quietly re-no-op the knob
      else dated.repartition(
        math.max(filesPerPartition, df.sparkSession.conf
          .get("spark.sql.shuffle.partitions", "200").toInt),
        col("event_date"),
        fanOutSalt(if (saltCols.nonEmpty) saltCols
          else dated.columns.toSeq, filesPerPartition))
    parted.write.mode(mode)
      .partitionBy("event_date")
      .parquet(path)
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** The ONE "does this lake already hold data?" probe, shared by
    * [[upsertLatest]] and every incremental fold over a lake
    * ([[graft.operators.MaterializedRollup.refreshLake]]) — only
    * ABSENCE may take a writer's fresh-target branch, never a
    * swallowed read failure.
    *
    * RESIDUAL, stated once for every caller: on a listing-
    * inconsistent object store a FALSE-EMPTY listing (the path
    * exists-but-lists-empty window some stores exhibit) presents as
    * "no data" and routes the caller to its fresh-lake branch — an
    * upsert then rewrites touched partitions from the batch alone and
    * an incremental fold prefers the freshly-stamped delta partials
    * over the accumulated history, silently REPLACING prior rows for
    * the touched keys. Deployments on such stores front this probe
    * with their store's consistency mechanism (listing barriers /
    * strongly-consistent metadata); HDFS/local listings are
    * consistent and carry no such window. Genuine read FAILURES
    * (permissions, transient throttling) are not swallowed here —
    * `exists`/`listStatus` exceptions propagate. */
  private[graft] def probeHasData(spark: SparkSession,
      path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }

  /** Read a lake whose files span schema versions (columns added over
    * time, the normal fate of a long-lived archive): union the per-file
    * schemas, old files surface the new columns as null. The schema is
    * [[lakeSchema]]'s: a driver-side listing plus a footer read per
    * file NOT yet memoized, so a warm read starts no Spark job (before:
    * a `mergeSchema` footer-scan job over every file on every read). */
  def readEvolving(spark: SparkSession, path: String): DataFrame =
    evolving(spark, path, footers(spark, path))

  /** The schema `spark.read.option("mergeSchema", "true").parquet(path)`
    * infers, without its footer-scan job.
    *
    * FOOTER MEMO: the lake's data files are listed on the driver with
    * Spark's own filter (every file with no `_`- or `.`-prefixed
    * component below the root, as `InMemoryFileIndex` keeps them), and
    * each file's footer is read once per JVM with parquet-hadoop's
    * `ParquetFileReader`.
    *  - Key: the qualified path, the file's length and modification
    *    time (the [[graft.Tables.schemaOf]] key); a rewritten file is a
    *    new key. A file replaced by another with the same length AND
    *    modification time would be read with the old footer.
    *  - Entry: the Spark schema stored in the footer
    *    (`org.apache.spark.sql.parquet.row.metadata`, what Spark's
    *    inference reads first) and the file's row count.
    *  - Scope: per lake root; each listing keeps only the entries of the
    *    files it found, so files a rewrite deleted leave the memo.
    *  - Merge: the footer schemas in path order, folded with Spark's own
    *    `StructType.merge` (same names, types, order and conflict
    *    errors as `mergeSchema`); the partition columns come from
    *    Spark's partition discovery on the read.
    *  - Fallback: exactly Spark's inference (one job, as before) when a
    *    footer cannot be read, a file lacks the Spark key, a parquet
    *    summary file is present, or the lake holds no data file — so a
    *    corrupt file fails (or is skipped under
    *    `spark.sql.files.ignoreCorruptFiles`) as Spark decides. */
  private[graft] def lakeSchema(spark: SparkSession, path: String): StructType =
    readEvolving(spark, path).schema

  /** One memoized footer: the Spark schema it carries, if any, and the
    * file's row count. */
  private final case class Footer(schema: Option[StructType], rows: Long)

  private val footerMemo = new java.util.concurrent.ConcurrentHashMap[
    String, Map[(String, Long, Long), Footer]]()

  /** The files `InMemoryFileIndex` lists under `path` (`path` itself if
    * it is a file; nothing if it does not exist), in path order. */
  private[graft] def dataFiles(spark: SparkSession,
      path: String): Seq[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hidden(name: String): Boolean =
      (name.startsWith("_") && !name.contains("=") &&
        !name.startsWith("_metadata") &&
        !name.startsWith("_common_metadata")) ||
        name.startsWith(".") || name.endsWith("._COPYING_")
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => hidden(c.getPath.getName)).flatMap(leaves)
    if (!fs.exists(root)) Nil
    else leaves(fs.getFileStatus(root)).sortBy(_.getPath.toString)
  }

  /** The parquet footer of one file, read on the driver. The static
    * reader, not `ParquetFileReader.open`: on a 4-cpu VM `open` took
    * 13–16 ms per small file and this about 1 ms. */
  private[graft] def footer(spark: SparkSession,
      file: FileStatus): ParquetMetadata = {
    val conf = spark.sparkContext.hadoopConfiguration
    val in = HadoopInputFile.fromStatus(file, conf)
    val stream = in.newStream()
    try ParquetFileReader.readFooter(in,
      HadoopReadOptions.builder(conf, file.getPath).build(), stream)
    finally stream.close()
  }

  /** Every data file of the lake with its memoized footer (the
    * [[lakeSchema]] memo), or None when Spark's inference must decide:
    * no data file, a summary file, or a footer that cannot be read. */
  private def footers(spark: SparkSession,
      path: String): Option[Seq[(FileStatus, Footer)]] = {
    val files = dataFiles(spark, path)
    val summary = files.exists(f =>
      SummaryFiles.contains(f.getPath.getName))
    if (files.isEmpty || summary) None
    else scala.util.Try {
      val root = files.head.getPath.getFileSystem(spark.sparkContext
        .hadoopConfiguration).makeQualified(new Path(path)).toString
      val known = Option(footerMemo.get(root)).getOrElse(Map.empty)
      val read = files.map { f =>
        val key = (f.getPath.toString, f.getLen, f.getModificationTime)
        key -> known.getOrElse(key, {
          val meta = footer(spark, f)
          Footer(
            Option(meta.getFileMetaData.getKeyValueMetaData
              .get(SparkSchemaKey)).flatMap(json => scala.util.Try(
              DataType.fromJson(json).asInstanceOf[StructType]).toOption),
            meta.getBlocks.asScala.map(_.getRowCount).sum)
        })
      }
      footerMemo.put(root, read.toMap)
      files.zip(read.map(_._2))
    }.toOption
  }

  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"
  private val SummaryFiles = Set("_metadata", "_common_metadata")

  /** [[readEvolving]] over an already-read footer list. */
  private def evolving(spark: SparkSession, path: String,
      files: Option[Seq[(FileStatus, Footer)]]): DataFrame =
    files.map(_.map(_._2.schema)).filter(_.forall(_.isDefined)) match {
      case Some(schemas) =>
        spark.read.schema(GraftShims.mergeSchemas(spark, schemas.flatten))
          .parquet(path)
      case None => spark.read.option("mergeSchema", "true").parquet(path)
    }

  /** Write as a BUCKETED table (hash-bucketed + sorted by `key`,
    * registered in the session catalog). Two tables bucketed the same
    * way join WITHOUT a shuffle — at 100 TB, pre-bucketing the fact
    * tables on their join key removes the dominant cost of every
    * recurring join (gated by AnalyticsSpec's q90 plan check: a
    * SortMergeJoin with zero Exchange of any kind).
    *
    * SORT CONTRACT: the files are written key-sorted and single-file-
    * per-bucket, but Spark ≥ 3.0 deliberately does not trust
    * write-time order on read (a bucket that ever gains a second file
    * would silently break the merge) — so the join still plans a LOCAL
    * per-bucket sort: linear in-task work over already-sorted runs, no
    * exchange. Sessions that guarantee single-file buckets can opt
    * into sort-free scans with
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=true`; the
    * library does not set it for you, because under multi-file buckets
    * that flag produces WRONG JOINS, not slow ones. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      nBuckets: Int, mode: String = "overwrite",
      path: Option[String] = None): Unit = {
    // pre-shuffle into the bucket layout (same Murmur3 hash the bucket
    // spec uses) so every bucket is written by exactly ONE task → ONE
    // file: Spark's scan only trusts the per-bucket sort order when a
    // bucket is a single file, so multi-file buckets would re-Sort on
    // read and the sortBy investment buys nothing
    val w = df.repartition(nBuckets, col(key)).write.mode(mode)
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .format("parquet")
    // an explicit path makes the table EXTERNAL (data outlives / lives
    // outside the session warehouse) — lets ephemeral jobs bucket into
    // scratch space without touching spark-warehouse
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Bit-interleaved z-value over quantized dimensions: result bit
    * `i·n + j` is bit `i` of dimension `j` — points close in EVERY
    * dimension get close z-values, so range-sorting by z clusters a
    * multi-dimensional box predicate into few parquet row groups. */
  private[graft] def zValue(dims: Seq[Column], bits: Int): Column = {
    val n = dims.size
    val parts = for {
      i <- 0 until bits
      (d, j) <- dims.zipWithIndex
    } yield shiftleft(shiftright(d, i).bitwiseAND(lit(1L)), i * n + j)
    parts.reduce(_ bitwiseOR _)
  }

  /** Write `df` Z-ORDERED on `zCols`: rows clustered by the interleaved
    * bits of the (min-max quantized) dimensions, so parquet row-group
    * min/max statistics become TIGHT on every z column at once and a
    * multi-column range predicate prunes most row groups at scan time
    * (`PushedFilters` + footer stats — no index structure needed). At
    * 100 TB this is the difference between scanning a day of data and
    * scanning the 2% of row groups a (key₁, key₂) box actually
    * touches; the single-column analog (plain sort) only skips for the
    * leading column. Layout-only: query RESULTS are identical under
    * any layout (q95's oracle runs the same filter on the unordered
    * table).
    *
    * Quantization is linear min-max over each column (driver-side: one
    * tiny 1-row stats aggregate) — right for roughly uniform keys;
    * heavily skewed columns cluster poorly at the hot end and want a
    * quantile-based bucketing fed in via a derived column instead.
    * Columns must be integral and non-negative. */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
      bits: Int = 8, nFiles: Int = 16, mode: String = "overwrite"): Unit = {
    require(zCols.size >= 2,
      "writeZOrdered: < 2 dims — use a plain sortWithinPartitions")
    require(zCols.size * bits <= 62,
      s"writeZOrdered: ${zCols.size} dims × $bits bits overflows a long")
    val statCols = zCols.flatMap(c =>
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long")))
    val stats = df.agg(statCols.head, statCols.tail: _*).head()
    val mask = (1L << bits) - 1L
    val dims = zCols.zipWithIndex.map { case (c, j) =>
      require(!stats.isNullAt(2 * j),
        s"writeZOrdered: empty input or all-null column $c — nothing " +
          "to quantize")
      val lo = stats.getLong(2 * j)
      val hi = stats.getLong(2 * j + 1)
      require(lo >= 0, s"writeZOrdered: $c has negative values")
      val span = math.max(hi - lo, 1L)
      // division-form overflow gate (the bm25TopK discipline): the
      // quantization product (c - lo) * mask must fit a long — an
      // epoch-nanos-range key would otherwise die in an opaque ANSI
      // ArithmeticException (or wrap silently in non-ANSI sessions,
      // destroying the clustering with no error to catch it)
      require(span <= Long.MaxValue / mask,
        s"writeZOrdered: $c spans $span — quantization at bits=$bits " +
          "overflows a long; pre-bucket the column or lower bits")
      // quantize to 0..(2^bits - 1): exact integer arithmetic
      expr(s"(($c - ${lo}L) * ${mask}L) div ${span}L")
    }
    val z = zValue(dims, bits)
    df.repartitionByRange(nFiles, z)
      .sortWithinPartitions(z)
      .write.mode(mode).parquet(path)
  }

  /** Latest-wins upsert (MERGE) of keyed updates into a
    * date-partitioned lake: rewrites ONLY the partitions an update
    * touches (dynamic partition overwrite), never the whole lake — at
    * 100 TB an update batch costs O(affected days), not O(lake).
    *
    * Winner per key = highest `versionCol`; a same-version collision
    * prefers the incoming update (deterministic via a source-priority
    * tie-break). The merged slice is written straight through the
    * dynamic partition overwrite, in the same job that reads the
    * affected days: that write stages its output under
    * `.spark-staging-*` and replaces the day directories only at job
    * commit, after every task has read the old rows. A failed task or
    * job never reaches the commit, so the lake stays as it was and the
    * replay below re-reads it. This is the principled form of the
    * reference's
    * "updated events resolved by whole-row distinct"
    * (sparktoELKstream.py:94-99): updates REPLACE, not accumulate.
    * Idempotent — replaying the same batch (foreachBatch retry
    * semantics) reaches the same state.
    *
    * `tsCol` must be non-null: a null event date can neither address a
    * partition nor be matched by the affected-dates filter, so such
    * rows are rejected up front, before the lake is read or written,
    * rather than silently skipping the merge.
    *
    * COMMIT GRANULARITY — the `atomicDays` dial: the default commit is
    * Spark's dynamic partition overwrite, which commits each touched
    * day with a delete-then-swap — a crash INSIDE one day's commit
    * window can leave that day EMPTY, and a replay then merges against
    * a missing base (the residual the r14 round documented on the
    * rollup fold). `atomicDays = true` closes it: the merged slice is
    * staged fully PARTITIONED, then each day commits via two RENAMES
    * (old day → trash, staged day → in place — the [[swapInto]]
    * discipline at day granularity), so every crash point leaves each
    * affected day either whole-old or whole-new, and
    * [[recoverUpsertDays]] (run automatically at the next upsert, or
    * explicitly by readers that must heal first) restores the one
    * in-between state. Cost is O(affected days) renames — same
    * asymptotics as the dynamic overwrite; kept opt-in because
    * rename-based commit assumes HDFS/local rename semantics, while
    * the default rides whatever committer the session configured
    * (object-store deployments often configure exactly that). This is
    * crash-DURABILITY, not reader isolation: a reader racing the swap
    * can observe a day absent for one rename window — the same
    * single-writer / maintenance-window stance as [[swapInto]]; the
    * rollup's own readers read between batches, and `refreshLake`
    * heals before every base read.
    *
    * CONTRACT — partition-scoped MERGE: a key's `event_date` is
    * assumed stable across updates (the usual case: it derives from
    * the event's own timestamp, and corrections revise payload/version,
    * not the day the event happened). An update that *re-dates* a key
    * to a different event_date merges into the NEW date's partition
    * only; the superseded row in the old partition is not rewritten
    * (that partition isn't in the update's affected set — touching it
    * would make every batch O(lake), not O(affected days)). Readers
    * that must be robust to cross-date corrections take the global
    * latest per key at read time, or run [[dropSupersededVersions]]
    * as a maintenance pass. This behavior is pinned by
    * LakeUpsertSpec's re-dating case.
    *
    * PLAN — two Spark jobs per call into an existing lake: the probe
    * below and the write. The lake's schema comes from the
    * [[lakeSchema]] footer memo (no footer-scan job), and a slice whose
    * estimated size (memoized row counts of the affected days' files
    * plus the batch rows, times the row's default size) fits
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` merges in one
    * task with no exchange; a larger one keeps the hash-partitioned
    * window. Both plans give the same rows, in either commit mode.
    *
    * DRIVER BOUND — the affected-dates collect: the update batch's
    * DISTINCT event dates are collected to the driver to scope the
    * read filter and the dynamic overwrite. Each batch partition ships
    * its set of `to_date(tsCol)` values (a per-partition
    * `collect_set`, in the same one-pass aggregate that counts the
    * null-`tsCol` rows and all the rows) and the driver unions them
    * and sums the counts. The bound is
    * O(distinct days in the batch) per partition, not O(batch) or
    * O(lake) — a century of daily
    * partitions is ~36k date values (a few hundred KB), fine at any
    * corpus scale. The failure mode past it is a batch whose `tsCol`
    * is corrupt (e.g. millions of distinct microsecond-precision
    * "dates" from a mis-cast column): the collect balloons and the
    * `isin` predicate grows past plan-size limits. Callers ingesting
    * untrusted timestamps should validate/clamp `tsCol` to a sane date
    * range first — this method intentionally does not guess a cutoff. */
  def upsertLatest(spark: SparkSession, path: String, updates: DataFrame,
      keyCol: String, versionCol: String, tsCol: String,
      atomicDays: Boolean = false): Unit =
    upsertLatestStaged(spark, path, updates, keyCol, versionCol, tsCol,
      atomicDays, NoUpsertSeam)

  /** No-op crash seam — the production value of the
    * [[upsertLatestStaged]] test hook. */
  private[graft] val NoUpsertSeam: (String, String) => Unit = (_, _) => ()

  /** [[upsertLatest]] with a crash-injection seam (the
    * `compactCorpusIndexStaged` pattern): `seam(phase, day)` fires at
    * every named commit point of the `atomicDays` protocol —
    * `"staged"` (stage fully written, no lake mutation yet),
    * `"aside"`/`"installed"` per day (old day moved to trash / new day
    * renamed in), `"committed"` (all days in place, cleanup pending) —
    * so a spec can throw at ANY point and prove the replay converges. */
  private[graft] def upsertLatestStaged(spark: SparkSession, path: String,
      updates: DataFrame, keyCol: String, versionCol: String,
      tsCol: String, atomicDays: Boolean,
      seam: (String, String) => Unit): Unit = {
    // ONE probe pass over the batch: the null-tsCol count, the row
    // count and the set of affected dates (epoch days) come out of a
    // single per-partition aggregate over the internal rows, merged on
    // the driver — one job and one stage, where a SQL
    // count/collect_set aggregate adds an exchange (and, under AQE, a
    // second job) and `.rdd` a row-deserializing SQL execution. It
    // runs before the heal and before any lake read or write, so a
    // rejected batch touches nothing. A null date of a non-null tsCol
    // (an unparseable string under non-ANSI casts) addresses no
    // existing partition, so it is not collected
    val updDated = updates.withColumn("event_date", to_date(col(tsCol)))
    val (nullTs, batchRows, days) = updDated
      .select(col(tsCol).isNull, col("event_date")).queryExecution.toRdd
      .aggregate((0L, 0L, Set.empty[Int]))(
        (acc, r) =>
          if (r.getBoolean(0)) (acc._1 + 1L, acc._2 + 1L, acc._3)
          else (acc._1, acc._2 + 1L,
            if (r.isNullAt(1)) acc._3 else acc._3 + r.getInt(1)),
        (a, b) => (a._1 + b._1, a._2 + b._2, a._3 ++ b._3))
    require(nullTs == 0L,
      s"upsertLatest: null $tsCol rows cannot be partition-merged")
    val dates = days.toSeq.sorted.map(d => java.time.LocalDate.ofEpochDay(d))
    // a previous atomic-day writer may have crashed mid-commit: heal
    // BEFORE reading the existing slice, or a day sitting in trash
    // reads as missing and this batch merges against a torn base.
    // UNCONDITIONAL — including for atomicDays = false: nothing pins a
    // lake to one commit mode, and a non-atomic upsert landing after a
    // crashed atomic commit would otherwise merge against the torn
    // base, dynamic-overwrite the day with batch-only rows, and let
    // the NEXT heal discard the trashed pre-crash rows (lakeDay exists
    // by then) — permanent loss. Healing an untouched lake is two
    // existence probes.
    recoverUpsertDays(spark, path)
    import org.apache.spark.sql.expressions.Window
    // SCHEMA EVOLUTION (the day-2 reality: the stream gains a column):
    // the existing slice reads with the merged schema of every lake
    // file ([[lakeSchema]], the mergeSchema result) so files already
    // spanning schema versions surface every column, and the union
    // below null-fills whichever side lacks a column — old rows get
    // NULL in the new column, exactly the readEvolving contract. A
    // type CHANGE on a shared column is NOT mergeable: Spark's union
    // would silently coerce (long ∪ string → string), rewriting
    // history with no signal — fail loudly instead (ship a NEW column
    // for the new type).
    // An empty/missing target (first batch) has no schema to read —
    // but ONLY absence may take that branch: a swallowed transient
    // read failure (throttled object store, footer mid-compaction)
    // would present as "empty lake" and the dynamic overwrite below
    // would then rewrite every touched partition with batch rows
    // alone, silently DELETING all pre-existing rows. The probe (and
    // its eventually-consistent-listing residual) is [[probeHasData]]
    // — ONE probe discipline for every lake writer; any failure of an
    // existing lake's read propagates.
    val hasData = probeHasData(spark, path)
    val lakeFiles = if (hasData) footers(spark, path) else Some(Nil)
    val existingSlice =
      if (hasData) evolving(spark, path, lakeFiles)
        .filter(col("event_date").isin(dates: _*))
        .withColumn("__src", lit(0))
      else updDated.limit(0).withColumn("__src", lit(0))
    val updTypes = updDated.schema.map(f => f.name -> f.dataType).toMap
    existingSlice.schema.filter(_.name != "__src").foreach { f =>
      updTypes.get(f.name).foreach { dt =>
        require(dt == f.dataType,
          s"upsertLatest: column '${f.name}' changes type " +
            s"${f.dataType.simpleString} -> ${dt.simpleString} — a type " +
            "CHANGE cannot be merged (the union would silently coerce " +
            "old rows); write the new type as a NEW column instead")
      }
    }
    val unioned = existingSlice
      .unionByName(updDated.withColumn("__src", lit(1)),
        allowMissingColumns = true)
    // final tie-break: duplicate (key, version) rows WITHIN one batch
    // (at-least-once delivery with divergent payloads) would otherwise
    // leave row_number's pick shuffle-order-dependent — replaying the
    // same batch could persist a DIFFERENT winner, breaking the
    // idempotent-replay contract. A content hash pins the winner.
    val payloadCols = unioned.columns.filterNot(_ == "__src")
      .map(c => col(c).cast("string"))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(versionCol).desc, col("__src").desc,
        xxhash64(payloadCols: _*))
    // PLAN CHOICE: a slice that fits Spark's own coalescing target
    // merges in ONE task — a single partition already satisfies the
    // window's distribution, so there is no exchange and read, merge
    // and write run as one job. AQE would coalesce the shuffle to one
    // partition anyway, but only after running its map stage as a job
    // of its own. The size is estimated from the memoized row counts
    // of the affected days' files plus the probe's batch rows; an
    // unknown slice keeps the shuffle. Both plans run the same window
    // and tie-break: the choice changes the physical plan only
    val dayDirs = dates.map(d => s"event_date=$d").toSet
    val sliceRows = lakeFiles.map(_.collect {
      case (f, ft) if dayDirs(f.getPath.getParent.getName) => ft.rows
    }.sum)
    val oneTask = sliceRows.exists(n =>
      (n + batchRows) * unioned.schema.defaultSize <=
        GraftShims.advisoryPartitionBytes(spark))
    val merged = (if (oneTask) unioned.coalesce(1) else unioned)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__src", "__rn")
    if (!atomicDays) {
      // this job reads the days it replaces: the overwrite swaps
      // them only at job commit, after every task has read them
      merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_date")
        .parquet(path)
    } else {
      // ATOMIC-DAY COMMIT: the closed form of the dynamic-overwrite
      // residual above. The merged slice is staged PARTITIONED (one
      // event_date=D dir per affected day) before the lake is touched,
      // then each day commits via the swapInto rename discipline: old
      // day → per-day trash, staged day → lake, trash deleted. No
      // crash point leaves a day EMPTY — at every instant each
      // affected day is either its pre-batch rows (lake or trash) or
      // the fully-written new rows, so a replay always merges against
      // an intact base ([[recoverUpsertDays]] heals the one
      // in-between state — day in trash, not yet in lake — before
      // any later writer reads). Renames are metadata ops on
      // HDFS/local; object-store deployments need a rename-atomic
      // commit layer, the same note as [[swapInto]].
      val stage = new Path(upsertDayStageDir(path))
      val trash = new Path(upsertDayTrashDir(path))
      val target = new Path(path)
      val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
      merged.write.mode("overwrite").partitionBy("event_date")
        .parquet(stage.toString)
      seam("staged", "")
      // days from the STAGE listing (authoritative: what got written)
      val days = fs.listStatus(stage).filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter(_.startsWith("event_date=")).sorted
      fs.mkdirs(target)
      fs.mkdirs(trash)
      for (d <- days) {
        val lakeDay = new Path(target, d)
        val trashDay = new Path(trash, d)
        if (fs.exists(lakeDay)) {
          if (!fs.rename(lakeDay, trashDay))
            throw new java.io.IOException(
              s"upsertLatest: cannot move $lakeDay aside")
          seam("aside", d)
        }
        if (!fs.rename(new Path(stage, d), lakeDay))
          throw new java.io.IOException(
            s"upsertLatest: cannot install $d from stage")
        seam("installed", d)
        fs.delete(trashDay, true)
      }
      seam("committed", "")
      fs.delete(stage, true)
      fs.delete(trash, true)
    }
  }

  private def upsertDayStageDir(path: String): String =
    path.stripSuffix("/") + "__upsert_day_stage"
  private def upsertDayTrashDir(path: String): String =
    path.stripSuffix("/") + "__upsert_day_old"

  /** Heal a lake whose last `atomicDays` upsert crashed mid-commit:
    * any day sitting in the per-day trash WITHOUT a lake counterpart
    * is restored (the only state where the lake is missing a day —
    * the window between the two renames), trash days whose lake day
    * exists are dropped (the new day already committed), and a
    * leftover stage is deleted whole (possibly torn; the crashed
    * batch will be replayed and re-staged). Idempotent and cheap (two
    * existence probes when there is nothing to heal). Runs
    * automatically at the head of every `atomicDays` upsert;
    * incremental folds that READ the lake before upserting
    * ([[graft.operators.MaterializedRollup.refreshLake]]) call it
    * before that read for the same reason. */
  private[graft] def recoverUpsertDays(spark: SparkSession,
      path: String): Unit = {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val trash = new Path(upsertDayTrashDir(path))
    if (fs.exists(trash)) {
      fs.listStatus(trash).filter(_.isDirectory).foreach { st =>
        val lakeDay = new Path(target, st.getPath.getName)
        if (!fs.exists(lakeDay)) {
          fs.mkdirs(target)
          if (!fs.rename(st.getPath, lakeDay))
            throw new java.io.IOException(
              s"recoverUpsertDays: cannot restore ${st.getPath}")
        }
      }
      fs.delete(trash, true)
    }
    fs.delete(new Path(upsertDayStageDir(path)), true)
  }

  /** Maintenance pass for lakes that DO receive cross-date key
    * corrections (see the [[upsertLatest]] contract): keep only the
    * globally-latest version of each key, dropping superseded rows
    * stranded in other date partitions. O(lake) by necessity — run it
    * on a schedule, not per batch. */
  def dropSupersededVersions(spark: SparkSession, path: String,
      keyCol: String, versionCol: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(versionCol).desc, col("event_date").desc)
    // merged schema: a maintenance rewrite of an EVOLVING lake must see
    // every column any file carries — a plain read samples one footer
    // and would silently DROP a recently-added column from the whole
    // lake (the rewrite then destroys it)
    val latest = readEvolving(spark, path)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val tmp = path.stripSuffix("/") + "__dedup_stage"
    latest.write.mode("overwrite").partitionBy("event_date").parquet(tmp)
    swapInto(spark, path, tmp)
  }

  /** Replace the dataset at `dst` with the staged one at `tmp` via two
    * RENAMES (old→trash, tmp→dst) instead of delete-then-rename: a
    * crash between the renames leaves BOTH copies on disk (recover by
    * renaming either back), whereas delete-first left a window with
    * the only surviving copy in the stage dir. Renames are metadata
    * ops on HDFS/local; on object stores prefer partition-scoped
    * rewrites ([[upsertLatest]]) over whole-lake swaps. Shared with
    * every maintenance compaction in the library (the corpus index's
    * [[graft.operators.Dedup.compactCorpusIndex]] included) so there
    * is exactly ONE swap discipline to audit. */
  private[graft] def swapInto(spark: SparkSession, dst: String, tmp: String): Unit = {
    val dstPath = new org.apache.hadoop.fs.Path(dst)
    val fs = dstPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val trash = new org.apache.hadoop.fs.Path(dst.stripSuffix("/") + "__old")
    fs.delete(trash, true) // stale trash from a prior crash
    if (fs.exists(dstPath) && !fs.rename(dstPath, trash))
      throw new java.io.IOException(s"swap: cannot move $dst aside")
    if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), dstPath))
      throw new java.io.IOException(s"swap: cannot move $tmp into place")
    fs.delete(trash, true)
  }

  /** Compact a lake partition range into `nFiles` files (the
    * maintenance job that keeps file counts bounded under streaming
    * append). `saltCols` names the cheap stable columns the fan-out
    * salt hashes when `nFiles > 1` (see [[fanOutSalt]]); the default
    * (empty) falls back to ALL columns — always correct, but on
    * text/media-heavy lakes the full-row stringify dominates, so
    * maintenance jobs over such lakes should pass their key/ts
    * columns. */
  def compact(spark: SparkSession, path: String, nFiles: Int = 1,
      saltCols: Seq[String] = Seq.empty): Unit = {
    val tmp = path.stripSuffix("/") + "__compacting"
    // merged schema for the same reason as dropSupersededVersions: a
    // compaction must never silently drop a column newer files carry
    // (side effect: the rewrite homogenizes the lake onto the merged
    // schema, null-filling old rows — the documented evolution shape)
    val lake = readEvolving(spark, path)
    val parted =
      if (nFiles == 1) lake.repartition(col("event_date"))
      // same salt + explicit-count shape as write(): date alone can't
      // fan a day out, and AQE re-coalesces an unnumbered repartition
      else lake.repartition(
        math.max(nFiles, spark.conf
          .get("spark.sql.shuffle.partitions", "200").toInt),
        col("event_date"),
        fanOutSalt(if (saltCols.nonEmpty) saltCols
          else lake.columns.toSeq, nFiles))
    parted.write.mode("overwrite").partitionBy("event_date").parquet(tmp)
    swapInto(spark, path, tmp)
  }

  // ------------------------------------------------------------------
  // Per-file Bloom data-skipping index: point lookups on a
  // high-cardinality UNORDERED column — the case z-order min/max stats
  // (writeZOrdered) cannot prune, because an unclustered key's min/max
  // spans every file. One Bloom filter per data file; a lookup probes
  // the (tiny) index first and reads only the files that might contain
  // the key. Bloom false positives cost extra file reads, never wrong
  // rows (the exact filter still runs); false negatives are impossible
  // as long as build and lookup share probe arithmetic — which they do
  // by construction ([[graft.operators.Bloom.probeBits]], the same
  // Column expressions every other Bloom in the repo uses).
  // ------------------------------------------------------------------

  /** The lookup-key hash: xxhash64 over the string form — NOT the
    * oracle-portable md5 path (the index is internal; its observable
    * output is the looked-up rows). Shared by build and lookup. */
  private def indexKeyHash(key: Column): Column = xxhash64(key.cast("string"))

  /** Build the index for the parquet table at `dataPath` over `keyCol`
    * into `indexPath`: `words/` holds sparse `(file, word_idx, bits)`
    * rows (non-zero words only, built with map-side `bit_or` combine —
    * the driver never sees key counts), `meta/` the stamp
    * (version / key column / hash domain / geometry / the EXACT file
    * list) the reader fails fast on. NULL keys are not indexed — the
    * lookup treats a null value as matching nothing, symmetric with
    * every Bloom in the repo.
    *
    * `numBits` is PER FILE: size it for rows-per-file, not table rows
    * (2²⁰ bits ≈ 128 KB/file ≈ 1% false positives at ~10⁵ distinct
    * keys/file). Index size is nFiles·numBits/8 worst case, sparse
    * below that. */
  def buildBloomIndex(spark: SparkSession, dataPath: String,
      keyCol: String, indexPath: String, numBits: Int = 1 << 20,
      numHashes: Int = 5): Unit = {
    graft.operators.Bloom.checkGeometry(numBits, numHashes)
    val df = spark.read.parquet(dataPath)
    val files = df.inputFiles.sorted
    require(files.nonEmpty, s"bloom index: no data files under $dataPath")
    stageBloomIndex(spark, indexPath,
      bloomWordsFor(df, keyCol, numBits, numHashes),
      files, keyCol, numBits, numHashes)
  }

  /** The sparse `(file, word_idx, bits)` word rows for `data` — ONE
    * rendering of the probe-position arithmetic, shared by
    * [[buildBloomIndex]] and [[appendBloomIndex]] (a probe-bit change
    * landing in one writer and not the other would make appended
    * files silently unfindable). Built with map-side `bit_or`
    * combine; the driver never sees key counts. */
  private def bloomWordsFor(data: DataFrame, keyCol: String,
      numBits: Int, numHashes: Int): DataFrame = {
    val bits = graft.operators.Bloom
      .probeBits(indexKeyHash(col("k")), numBits, numHashes)
      .map { pos =>
        struct(shiftright(pos, 6).cast("int").as("word_idx"),
          call_function("shiftleft", lit(1L),
            pos.bitwiseAND(lit(63L)).cast("int")).as("mask"))
      }
    data.select(input_file_name().as("file"), col(keyCol).as("k"))
      .where(col("k").isNotNull)
      .select(col("file"), explode(array(bits: _*)).as("b"))
      .groupBy(col("file"), col("b.word_idx"))
      .agg(expr("bit_or(b.mask)").as("bits"))
  }

  /** The artifact-commit tail shared by [[buildBloomIndex]] and
    * [[appendBloomIndex]] — ONE rendering of the crash discipline
    * (stage under `__building`, words first, meta LAST, atomic
    * [[swapInto]]): no crash point leaves a valid stamp over torn
    * words, and the old index serves readers until the swap. The
    * words plan is EXECUTED by the staged write before the swap
    * touches the old index, so an append's read-from-the-old-index
    * lineage is safe. */
  private def stageBloomIndex(spark: SparkSession, indexPath: String,
      words: DataFrame, files: Seq[String], keyCol: String,
      numBits: Int, numHashes: Int): Unit = {
    val tmp = indexPath.stripSuffix("/") + "__building"
    words.write.mode("overwrite").parquet(s"$tmp/words")
    // one meta row per indexed file: the reader's staleness check is a
    // set compare against the CURRENT listing — a file added after the
    // build (absent here) or removed (present here, gone there) fails
    // loudly instead of silently missing rows / probing ghosts
    import spark.implicits._
    files.toDF("file")
      .withColumn("version", lit(1))
      .withColumn("key_col", lit(keyCol))
      .withColumn("hash_domain", lit("xxhash64:cast-string"))
      .withColumn("num_bits", lit(numBits))
      .withColumn("num_hashes", lit(numHashes))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/meta")
    swapInto(spark, indexPath, tmp)
  }

  /** Index the data files that landed at `dataPath` AFTER the existing
    * index was built — the day-2 operation the staleness contract
    * otherwise forces a FULL rebuild for (one ingested file → the
    * loud `STALE` failure at load → re-scan the whole lake). The
    * append scans ONLY the new files (per-file Bloom words are
    * independent, so file-set union commutes with the build — append
    * ≡ rebuild-on-union, spec-`require`d) plus one parquet scan of
    * the existing words table; cost is O(new data) + O(index size),
    * vs the rebuild's O(all data). The
    * [[graft.operators.Winnowing.appendToFingerprintIndex]]
    * discipline end-to-end: the existing stamp is re-validated FIRST
    * (wrong key column / hash domain / geometry would poison the
    * index into silent false negatives — append refuses), ghosts
    * (indexed files no longer in the data) still fail loudly (the
    * data shrank under the index; an append cannot repair that —
    * rebuild), and the result is staged + atomically swapped with
    * meta written last. A no-op append (index already current) is an
    * error: the caller thought new data existed. */
  def appendBloomIndex(spark: SparkSession, dataPath: String,
      keyCol: String, indexPath: String): Unit = {
    val meta = spark.read.parquet(s"$indexPath/meta")
    val head = meta.select("version", "key_col", "hash_domain",
      "num_bits", "num_hashes").distinct().collect()
    require(head.length == 1,
      s"bloom index: inconsistent meta stamps at $indexPath")
    val m = head.head
    require(m.getInt(0) == 1,
      s"bloom index: version ${m.getInt(0)} unsupported (want 1)")
    require(m.getString(1) == keyCol,
      s"bloom index at $indexPath indexes '${m.getString(1)}', " +
        s"appending '$keyCol' keys would poison it — wrong index")
    require(m.getString(2) == "xxhash64:cast-string",
      s"bloom index: hash domain '${m.getString(2)}' is not this " +
        "writer's — appended words would be silent false negatives")
    val (numBits, numHashes) = (m.getInt(3), m.getInt(4))
    graft.operators.Bloom.checkGeometry(numBits, numHashes)
    val indexed = meta.select("file").distinct()
      .collect().map(_.getString(0)).toSet
    val current = spark.read.parquet(dataPath).inputFiles.toSet
    val ghosts = indexed -- current
    require(ghosts.isEmpty,
      s"bloom index at $indexPath has ${ghosts.size} indexed ghost " +
        "file(s) — the data shrank under the index; an append cannot " +
        "repair that, rebuild")
    val newFiles = (current -- indexed).toSeq.sorted
    require(newFiles.nonEmpty,
      s"bloom index at $indexPath is already current with $dataPath — " +
        "nothing to append (the caller expected new data files)")
    val newWords = bloomWordsFor(
      spark.read.option("basePath", dataPath).parquet(newFiles: _*),
      keyCol, numBits, numHashes)
    stageBloomIndex(spark, indexPath,
      spark.read.parquet(s"$indexPath/words").unionByName(newWords),
      (indexed ++ newFiles).toSeq.sorted, keyCol, numBits, numHashes)
  }

  /** A loaded index: stamp validated, staleness checked, and the
    * sparse words pulled into a DRIVER map ONCE — per-lookup cost is
    * then one 1-row probe job plus the candidate-file read, no
    * per-lookup listings or index scans (the serve-many pattern; a
    * one-shot caller uses the [[readWithBloomIndex]] wrapper and pays
    * the load each time). The words map is bounded by the index size
    * (`loadBloomIndex` refuses past [[BloomIndexMaxLoadWords]] — at
    * that point keep the index distributed or shard the lookup), and
    * VALID ONLY for the file listing seen at load: a concurrently
    * mutating lake needs a reload, same contract as any snapshot. */
  final case class BloomIndex private[Lake] (
      spark: SparkSession, dataPath: String, keyCol: String,
      numBits: Int, numHashes: Int,
      private val words: Map[String, Map[Int, Long]],
      private val schema: org.apache.spark.sql.types.StructType) {

    /** Data files that might contain `value` — the pruning decision,
      * exposed so specs and operators can gate on "how many files
      * survived" without reading any. A null `value` returns no files
      * (nulls are never indexed). */
    def candidateFiles(value: Any): Seq[String] = {
      if (value == null) return Seq.empty
      // the value's probe positions, via the SAME Column arithmetic as
      // the build (one 1-row job — no JVM re-derivation to drift)
      val pos = spark.range(1).select(
        graft.operators.Bloom.probeBits(indexKeyHash(lit(value)),
          numBits, numHashes).zipWithIndex
          .map { case (c, i) => c.as(s"p$i") }: _*)
        .head().toSeq.map(_.asInstanceOf[Long])
      val need = pos.groupBy(p => (p >> 6).toInt).view
        .mapValues(_.map(p => 1L << (p & 63L)).reduce(_ | _)).toMap
      words.collect { case (file, w)
        if need.forall { case (i, m) => (w.getOrElse(i, 0L) & m) == m } =>
          file
      }.toSeq.sorted
    }

    /** Point lookup: read ONLY the candidate files, then apply the
      * exact predicate — result ≡ the full-scan filter bit-for-bit
      * (no false negatives by construction; false positives die at
      * the predicate). */
    def read(value: Any): DataFrame = {
      val files = candidateFiles(value)
      if (files.isEmpty)
        spark.read.schema(schema).parquet(dataPath).where(lit(false))
      // basePath: without it a per-file read does no partition
      // discovery and the explicit schema NULL-fills every partition
      // column (event_date on this file's own lake layout) — breaking
      // the ≡-full-scan contract, or returning zero rows when keyCol
      // itself is a partition column
      else spark.read.option("basePath", dataPath).schema(schema)
        .parquet(files: _*)
        .where(col(keyCol) === lit(value))
    }
  }

  /** Refuse to drag more than this many sparse words onto the driver
    * (8-byte bits + ~4-byte idx + map overhead ≈ 64 MB here): past it,
    * the index belongs distributed, not in a handle. */
  val BloomIndexMaxLoadWords: Long = 1L << 21

  /** Load + validate an index for repeated lookups. Fails fast on a
    * stamp mismatch or a STALE index (the current data listing differs
    * from the indexed one — an unindexed new file would silently miss
    * rows, an indexed ghost means the data shrank under the index). */
  def loadBloomIndex(spark: SparkSession, dataPath: String,
      indexPath: String, keyCol: String): BloomIndex = {
    val meta = spark.read.parquet(s"$indexPath/meta")
    val head = meta.select("version", "key_col", "hash_domain",
      "num_bits", "num_hashes").distinct().collect()
    require(head.length == 1,
      s"bloom index: inconsistent meta stamps at $indexPath")
    val m = head.head
    require(m.getInt(0) == 1,
      s"bloom index: version ${m.getInt(0)} unsupported (want 1)")
    require(m.getString(1) == keyCol,
      s"bloom index at $indexPath indexes '${m.getString(1)}', " +
        s"probed with '$keyCol' — wrong index for this lookup")
    require(m.getString(2) == "xxhash64:cast-string",
      s"bloom index: hash domain '${m.getString(2)}' is not this " +
        "reader's — a cross-domain probe would yield silent false " +
        "negatives")
    val (numBits, numHashes) = (m.getInt(3), m.getInt(4))
    graft.operators.Bloom.checkGeometry(numBits, numHashes)
    val indexed = meta.select("file").distinct()
      .collect().map(_.getString(0)).toSet
    val data = spark.read.parquet(dataPath)
    val current = data.inputFiles.toSet
    require(indexed == current,
      s"bloom index at $indexPath is STALE: " +
        s"${(current -- indexed).size} unindexed data file(s), " +
        s"${(indexed -- current).size} indexed ghost(s) — rebuild")
    val wordsDf = spark.read.parquet(s"$indexPath/words")
    val nWords = wordsDf.count()
    require(nWords <= BloomIndexMaxLoadWords,
      s"bloom index at $indexPath holds $nWords sparse words — past " +
        s"the $BloomIndexMaxLoadWords driver-load bound; keep it " +
        "distributed or shard the lookup")
    val words = wordsDf.collect() // bounded by the require above
      .groupBy(_.getString(0)).view
      .mapValues(_.map(r => r.getInt(1) -> r.getLong(2)).toMap).toMap
    // an indexed file with zero non-null keys has no words rows — it
    // can never be a candidate, which is correct (nothing to find)
    BloomIndex(spark, dataPath, keyCol, numBits, numHashes, words,
      data.schema)
  }

  /** One-shot [[BloomIndex.candidateFiles]] (pays the full load —
    * loop over [[loadBloomIndex]]'s handle for repeated lookups). */
  def bloomIndexCandidateFiles(spark: SparkSession, dataPath: String,
      indexPath: String, keyCol: String, value: Any): Seq[String] =
    loadBloomIndex(spark, dataPath, indexPath, keyCol)
      .candidateFiles(value)

  /** One-shot [[BloomIndex.read]] (pays the full load — loop over
    * [[loadBloomIndex]]'s handle for repeated lookups). */
  def readWithBloomIndex(spark: SparkSession, dataPath: String,
      indexPath: String, keyCol: String, value: Any): DataFrame =
    loadBloomIndex(spark, dataPath, indexPath, keyCol).read(value)
}
