package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{OracleMath, Tables}

/** Engine-completeness queries beyond the reference's own surface
  * (SURVEY §2 notes these as absent): multi-dimensional aggregation
  * (CUBE/grouping sets), unpivot/melt, time-series gap-fill, and exact
  * percentiles. All fully oracled against DuckDB.
  */
object Completeness {

  /** CUBE over status × priority with grouping markers (SURVEY §2.3 —
    * the reference has only flat group-bys; a complete engine needs
    * multi-dimensional aggregates). Super-aggregate rows surface the
    * grouping() bits; null group keys are coalesced to 'ALL' so both
    * engines order identically. */
  def q48Cube(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(
        grouping($"o_orderstatus").cast("long").as("g_status"),
        grouping($"o_orderpriority").cast("long").as("g_prio"),
        count(lit(1)).as("n"),
        OracleMath.dsum($"o_totalprice").as("total"))
      .select(
        coalesce($"o_orderstatus", lit("ALL")).as("status"),
        coalesce($"o_orderpriority", lit("ALL")).as("priority"),
        $"g_status", $"g_prio", $"n", $"total")
      .orderBy($"status", $"priority")
  }

  val q48Sql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |  coalesce(o_orderpriority, 'ALL') AS priority,
      |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
      |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  /** RANGE (value-based) window frames — the time-windowed form row
    * frames can't express: per event, the count and exact sum over the
    * user's trailing hour. Value-based frames include ties identically
    * on both engines; the sum is decimal-exact. */
  def q61RangeFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val hourUs = 3600L * 1000000L
    val w = Window.partitionBy($"user_id").orderBy($"ts_us")
      .rangeBetween(-hourUs, 0L)
    Tables.events(s, dir)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .select(
        $"user_id", $"event_id",
        count(lit(1)).over(w).as("n_trailing_hr"),
        sum($"value".cast(OracleMath.Dec)).over(w)
          .cast("double").as("sum_trailing_hr"))
      .orderBy($"user_id", $"event_id")
  }

  val q61Sql: String =
    """SELECT user_id, event_id,
      |  count(*) OVER w AS n_trailing_hr,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_trailing_hr
      |FROM (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  /** Multimodal → ANN integration, fully oracled: binary media column
    * → batched feature extraction ([[graft.sources.PortableCodec]], the
    * md5-48 hash domain) → exact cosine top-3 neighbors for the first
    * five documents. Exercises the full binary-column plumbing
    * (schema-declared mapPartitions, null discipline, embedding
    * handoff) under the driver contract, and — because the codec lives
    * in the portable hash domain — the WHOLE pipeline replays in DuckDB
    * ([[q60Sql]]): featurize bucket j = (md5h48(bytes ++ "|j") % 1000)
    * / 1000.0, unit-norm in double, float32 emit, then the q24 cosine
    * top-k form. Batch shape and codec seam are identical to a
    * production FFI codec ([[graft.sources.ImageIoCodec]] proves the
    * seam on real pixels in MultimodalSpec). */
  def q60MultimodalAnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def embed(df: DataFrame): DataFrame = graft.sources.Multimodal
      .withFeatures(graft.sources.Multimodal.mediaFromText(df),
        dim = 64, codec = graft.sources.PortableCodec)
      .select($"doc_id".as("vec_id"), $"embedding")
    val docs = Tables.documents(s, dir).select($"doc_id", $"text")
    // filter BEFORE featurizing: a filter cannot push through the
    // mapPartitions decode, so the query side must narrow at the scan
    // (doc_id < 5 reaches the parquet reader) or the whole corpus gets
    // featurized twice
    graft.operators.Similarity
      .bruteForceTopK(embed(docs.filter($"doc_id" < 5)), embed(docs), 3)
      .orderBy($"q_id", $"rank")
  }

  /** DuckDB replay of [[q60MultimodalAnn]]: the media bytes are the
    * UTF-8 of `text`, so `text || '|' || j` hashes the same bytes the
    * JVM codec digests; `md5_number_upper(x) & (2^48-1)` IS
    * [[graft.operators.Sampling.portableHash48Jvm]]; the list is
    * normalized by the same left-to-right sum-of-squares
    * (`list_dot_product(l, l)`), emitted through float32, and scored
    * with the q24 cosine top-k form. */
  val q60Sql: String =
    """WITH feats AS (
      |  SELECT doc_id, j,
      |    (CAST(md5_number_upper(text || '|' || CAST(j AS VARCHAR))
      |          & 281474976710655 AS BIGINT) % 1000) / 1000.0 AS raw
      |  FROM documents CROSS JOIN range(0, 64) t(j)
      |), vecs AS (
      |  SELECT doc_id, list(raw ORDER BY j) AS l FROM feats GROUP BY doc_id
      |), emb AS (
      |  SELECT doc_id AS vec_id,
      |    list_transform(l, x -> CAST(CAST(
      |      CASE WHEN sqrt(list_dot_product(l, l)) > 0
      |           THEN x / sqrt(list_dot_product(l, l)) ELSE x END
      |      AS FLOAT) AS DOUBLE)) AS embedding
      |  FROM vecs
      |)
      |SELECT q_id, rank, n_id, score FROM (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |    round(list_dot_product(q.embedding, c.embedding) /
      |      (sqrt(list_dot_product(q.embedding, q.embedding)) *
      |       sqrt(list_dot_product(c.embedding, c.embedding))), 4) AS score,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY round(list_dot_product(q.embedding, c.embedding) /
      |        (sqrt(list_dot_product(q.embedding, q.embedding)) *
      |         sqrt(list_dot_product(c.embedding, c.embedding))), 4) DESC,
      |        c.vec_id ASC) AS rank
      |  FROM (SELECT * FROM emb WHERE vec_id < 5) q
      |  JOIN emb c ON q.vec_id <> c.vec_id
      |) WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  /** Explicit GROUPING SETS (the general form behind cube/rollup):
    * per-status totals, per-priority totals, and the grand total in one
    * pass — issued through the SQL surface so the identical statement
    * drives both engines (the q41 correlated-subquery pattern). */
  def q57GroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    s.sql(q57Sql)
  }

  val q57Sql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |  coalesce(o_orderpriority, 'ALL') AS priority,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY status, priority""".stripMargin

  /** Unpivot/melt (wide → long): numeric part attributes into
    * (metric, value) rows — the Spark 4 `unpivot` operator; the oracle
    * is the portable UNION ALL form. */
  def q49Unpivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.part(s, dir)
      .unpivot(
        Array($"p_partkey"),
        Array($"p_size".cast("double").as("p_size"), $"p_retailprice"),
        "metric", "value")
      .orderBy($"p_partkey", $"metric")
  }

  val q49Sql: String =
    """SELECT p_partkey, metric, value FROM (
      |  SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
      |  UNION ALL
      |  SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part)
      |ORDER BY p_partkey, metric""".stripMargin

  /** Time-series gap-fill/resample: per-user hourly grid spanning the
    * user's active range (sequence + explode + left join), then empty-
    * bucket accounting. The grid size is bounded by span/granularity per
    * key — at 100 TB the explode stays proportional to key-count ×
    * span-hours, never to event-count. */
  def q50GapFill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hourNs = 3600L * 1000 * 1000 * 1000
    val perHour = Tables.events(s, dir)
      .filter($"user_id" < 20)
      .groupBy($"user_id", expr(s"ts_ns div $hourNs").as("hour_idx"))
      .agg(count(lit(1)).as("n"))
    val grid = perHour.groupBy($"user_id")
      .agg(min($"hour_idx").as("mn"), max($"hour_idx").as("mx"))
      .select($"user_id", explode(sequence($"mn", $"mx")).as("hour_idx"))
    grid.join(perHour, Seq("user_id", "hour_idx"), "left")
      .groupBy($"user_id")
      .agg(
        count(lit(1)).as("n_hours"),
        sum(when($"n".isNull, 1L).otherwise(0L)).as("n_empty"),
        max(coalesce($"n", lit(0L))).as("peak"))
      .orderBy($"user_id")
  }

  val q50Sql: String =
    """WITH per_hour AS (
      |  SELECT user_id, epoch_us(ts) // 3600000000 AS hour_idx, COUNT(*) AS n
      |  FROM events WHERE user_id < 20 GROUP BY 1, 2),
      |spans AS (
      |  SELECT user_id, min(hour_idx) AS mn, max(hour_idx) AS mx
      |  FROM per_hour GROUP BY user_id),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(mn, mx)) AS hour_idx FROM spans)
      |SELECT g.user_id, COUNT(*) AS n_hours,
      |  CAST(SUM(CASE WHEN p.n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
      |  CAST(MAX(coalesce(p.n, 0)) AS BIGINT) AS peak
      |FROM grid g LEFT JOIN per_hour p
      |  ON p.user_id = g.user_id AND p.hour_idx = g.hour_idx
      |GROUP BY g.user_id ORDER BY g.user_id""".stripMargin

  /** Exact interpolated percentiles per group. Hash-stable across
    * engines because l_quantity is integer-valued and the quartile
    * fractions are dyadic — every interpolation step is exact in IEEE
    * double on both sides. */
  def q51Percentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        percentile($"l_quantity", lit(0.25)).as("p25"),
        percentile($"l_quantity", lit(0.5)).as("p50"),
        percentile($"l_quantity", lit(0.75)).as("p75"))
      .orderBy($"l_returnflag")
  }

  val q51Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  quantile_cont(l_quantity, 0.25) AS p25,
      |  quantile_cont(l_quantity, 0.5) AS p50,
      |  quantile_cont(l_quantity, 0.75) AS p75
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Array aggregation + element ops (collect sorted list per key, then
    * size / first / last / membership) — the array-function surface the
    * reference never touches. */
  def q52ArrayOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_orderkey" < 500)
      .groupBy($"l_orderkey")
      .agg(sort_array(collect_list($"l_quantity")).as("qs"))
      .select(
        $"l_orderkey",
        size($"qs").cast("long").as("n_items"),
        element_at($"qs", 1).as("q_min"),
        element_at($"qs", -1).as("q_max"),
        array_contains($"qs", 10.0).as("has_ten"))
      .orderBy($"l_orderkey")
  }

  val q52Sql: String =
    """SELECT l_orderkey, CAST(len(qs) AS BIGINT) AS n_items,
      |  qs[1] AS q_min, qs[-1] AS q_max,
      |  list_contains(qs, 10.0) AS has_ten
      |FROM (SELECT l_orderkey, list(l_quantity ORDER BY l_quantity) AS qs
      |      FROM lineitem WHERE l_orderkey < 500 GROUP BY l_orderkey)
      |ORDER BY l_orderkey""".stripMargin

  /** Distribution window functions (ntile / percent_rank / cume_dist)
    * — completes the §2.7 window surface. Unique (totalprice, orderkey)
    * ordering makes every rank deterministic; percent_rank and
    * cume_dist are ratios of small ints, exact in IEEE double on both
    * engines. */
  def q58WindowDist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".asc, $"o_orderkey".asc)
    Tables.orders(s, dir)
      .filter($"o_custkey" < 100)
      .select(
        $"o_custkey", $"o_orderkey",
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val q58Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |  percent_rank() OVER w AS pr,
      |  cume_dist() OVER w AS cd
      |FROM orders WHERE o_custkey < 100
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey ASC)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Equi-free time-range correlation (purchases ↔ errors within
    * ±60 s, NO shared key): Spark would plan this as a nested-loop
    * O(n·m) join; [[graft.plans.BinRangeJoinRule]] rewrites it into an
    * exploded-bin equi-join (2× left fan-out buys a shuffled hash
    * join). The plan gate proves the rule fired — q59 is in
    * PlanQualitySpec's no-nested-loop set — and the oracle proves the
    * rewrite is semantically invisible. µs timestamps on both engines
    * so boundary pairs cannot flip on ns truncation. */
  def q59RangeCorrelate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.plans.BinRangeJoin.install(s)
    val winUs = 60L * 1000000L
    val ev = Tables.events(s, dir)
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_event"), expr("ts_ns div 1000").as("p_us"))
    val errors = ev.filter($"event_type" === "error")
      .select($"event_id".as("e_event"), expr("ts_ns div 1000").as("e_us"))
    purchases.join(errors,
        errors("e_us") >= purchases("p_us") - lit(winUs) &&
        errors("e_us") <= purchases("p_us") + lit(winUs))
      .select($"p_event", $"e_event")
      .orderBy($"p_event", $"e_event")
  }

  val q59Sql: String =
    """SELECT l.event_id AS p_event, r.event_id AS e_event
      |FROM (SELECT * FROM events WHERE event_type='purchase') l
      |JOIN (SELECT * FROM events WHERE event_type='error') r
      |  ON epoch_us(r.ts) >= epoch_us(l.ts) - 60000000
      | AND epoch_us(r.ts) <= epoch_us(l.ts) + 60000000
      |ORDER BY p_event, e_event""".stripMargin

  /** Regex surface over documents (extract / extract-all counts /
    * membership / masking). Patterns stay in the Java∩RE2 common
    * subset — plain character classes — so both engines match
    * identically. */
  def q53RegexSurface(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(
      $"doc_id",
      size(regexp_extract_all($"text", lit("[A-Za-z]+"), lit(0)))
        .cast("long").as("n_words"),
      size(regexp_extract_all($"text", lit("[0-9]+"), lit(0)))
        .cast("long").as("n_nums"),
      regexp_extract($"text", "([0-9]+)", 1).as("first_num"),
      $"text".rlike("[A-Z][a-z]+").as("has_capword"),
      substring(regexp_replace($"text", "[0-9]", "#"), 1, 40).as("masked40"))
      .orderBy($"doc_id")
  }

  val q53Sql: String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_words,
      |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_nums,
      |  regexp_extract(text, '([0-9]+)', 1) AS first_num,
      |  regexp_matches(text, '[A-Z][a-z]+') AS has_capword,
      |  substring(regexp_replace(text, '[0-9]', '#', 'g'), 1, 40) AS masked40
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Typo-level near-dup pairs (blocked levenshtein ≤ 5) — the
    * edit-distance member of the dedup family, fully oracled because
    * both blocking and verification are engine-portable. */
  def q54EditDistance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Dedup
      .editDistancePairs(Tables.documents(s, dir), maxDist = 5)
      .orderBy($"id_a", $"id_b")
  }

  /** IVF top-k ([[graft.operators.AnnIndex]] with hash cells and no
    * approximate score) — the ANN scale path — run at FULL probe width, where
    * it is provably identical to exact brute force (every cell probed;
    * the corpus is in exactly one cell each — asserted in UtilitySpec).
    * Same oracle as q24: the driver hash-checks that the partitioned
    * cell-join + per-cell scan reproduces exact cosine top-k. Dialing
    * nProbe below nCells trades that recall for a ~nCells/nProbe
    * candidate reduction. */
  def q55IvfTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    graft.operators.AnnIndex.build(emb, dim = 64)
      .withCells(graft.operators.Similarity.hashCentroids(64, 16))
      .search(emb.filter($"vec_id" < 10), k = 5)
      .orderBy($"q_id", $"rank")
  }

  val q55Sql: String = TrainingData.q24Sql

  /** FORWARD as-of join (custom operator, `direction = "forward"`):
    * for each signup, the user's next purchase at or after it — same
    * one-shuffle-per-side O(n+m) merge as the backward q31, mirrored.
    * Oracle: DuckDB native ASOF with the inequality flipped. */
  def q56AsofForward(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val signups = ev.filter($"event_type" === "signup")
      .select($"event_id".as("s_event"), $"user_id", $"ts_ns")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_event"), $"user_id".as("p_user"), $"ts_ns".as("p_ns"))
    graft.plans.AsOf.join(signups, purchases,
        signups("user_id"), purchases("p_user"),
        signups("ts_ns"), purchases("p_ns"),
        direction = "forward")
      .select($"s_event", $"user_id", $"p_event")
      .orderBy($"s_event")
  }

  val q56Sql: String =
    """SELECT l.event_id AS s_event, l.user_id AS user_id, r.event_id AS p_event
      |FROM (SELECT * FROM events WHERE event_type='signup') l
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='purchase') r
      |  ON l.user_id = r.user_id AND r.ts >= l.ts
      |ORDER BY s_event""".stripMargin

  val q54Sql: String =
    """WITH keyed AS (
      |  SELECT doc_id AS id,
      |    substring(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')), 1, 80) AS nrm
      |  FROM documents)
      |SELECT a.id AS id_a, b.id AS id_b,
      |  CAST(levenshtein(a.nrm, b.nrm) AS BIGINT) AS dist
      |FROM keyed a JOIN keyed b
      |  ON substring(a.nrm, 1, 12) = substring(b.nrm, 1, 12) AND a.id < b.id
      |WHERE levenshtein(a.nrm, b.nrm) <= 5
      |ORDER BY id_a, id_b""".stripMargin

  /** IVF with a TRAINED codebook (distributed spherical k-means over
    * the corpus, [[graft.operators.Similarity.kmeansCentroids]]) at
    * full probe width — like q55, full probe makes the partitioned
    * cell-join provably identical to exact brute force, so the driver
    * hash-checks the whole trained-index path (training determinism
    * included: different centroids would change cell contents but not
    * this full-probe answer — the training itself is additionally
    * pinned by KMeansSpec's run-to-run equality). */
  def q65IvfTrained(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val centroids = graft.operators.Similarity.kmeansCentroids(
      emb, nCells = 10, iters = 3, dim = 64)
    graft.operators.AnnIndex.build(emb, dim = 64).withCells(centroids)
      .search(emb.filter($"vec_id" < 10), k = 5)
      .orderBy($"q_id", $"rank")
  }

  val q65Sql: String = TrainingData.q24Sql

  /** q73: two-phase SALTED aggregation
    * ([[graft.operators.Skew.saltedSumCount]]) — the hot-key survival
    * play at 100 TB: partial aggregate on (key, salt), final on key.
    * The oracle is the PLAIN group-by, because salting must be
    * semantically invisible; exact-decimal sums make the two-phase
    * reassociation bit-safe (double sums would differ by association
    * order between the one- and two-phase plans). */
  def q73SkewSalted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .withColumn("qty", $"l_quantity".cast(OracleMath.Dec))
    graft.operators.Skew
      .saltedSumCount(li, "l_returnflag", "qty", buckets = 16,
        saltBy = $"l_orderkey")
      .select($"l_returnflag", $"sum_qty".cast("double").as("sum_qty"), $"n")
      .orderBy($"l_returnflag")
  }

  val q73Sql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** q74: the lake MERGE path under the driver contract — two
    * deterministic update batches upserted into a throwaway
    * partitioned lake ([[graft.sources.Lake.upsertLatest]]:
    * latest-version-wins, dynamic partition overwrite, crash-safe
    * staged swap), read back, and the temp lake deleted. The read-back
    * is DISTRIBUTED — `localCheckpoint` pins the executor-side result
    * blocks so the frame survives the lake's deletion, with no driver
    * collect in the query body (the result stays a few thousand rows
    * only because of the user_id gate filter; the operator itself
    * never materializes). The oracle replays latest-wins as a window
    * over the same two batches, so the driver hash gates what the lake
    * actually holds after both merges. */
  def q74LakeUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).filter($"user_id" < 50)
      .select($"event_id".as("key"), $"ts", $"value")
    val base = ev.filter($"key" % 7 =!= 0).withColumn("version", lit(1L))
    val fixes = ev.filter($"key" % 3 === 0)
      .withColumn("version", lit(2L))
      .withColumn("value", $"value" * 2)
    val path = java.nio.file.Files
      .createTempDirectory("graft_q74_lake").toString
    try {
      graft.sources.Lake.upsertLatest(s, path, base, "key", "version", "ts")
      graft.sources.Lake.upsertLatest(s, path, fixes, "key", "version", "ts")
      graft.sources.Lake.read(s, path)
        .select($"key".cast("long"), $"version".cast("long"),
          $"value".cast("double"))
        .orderBy($"key")
        .localCheckpoint()
    } finally {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  val q74Sql: String =
    """WITH ev AS (
      |  SELECT event_id AS key, value FROM events WHERE user_id < 50),
      |b1 AS (SELECT key, CAST(1 AS BIGINT) AS version, value
      |       FROM ev WHERE key % 7 <> 0),
      |b2 AS (SELECT key, CAST(2 AS BIGINT) AS version, value * 2 AS value
      |       FROM ev WHERE key % 3 = 0),
      |u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2),
      |r AS (SELECT key, version, value,
      |  row_number() OVER (PARTITION BY key ORDER BY version DESC) AS rn
      |  FROM u)
      |SELECT key, version, value FROM r WHERE rn = 1 ORDER BY key""".stripMargin
}
