package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset-splitting and sampling operators for training pipelines.
  *
  * The load-bearing property is determinism under repartitioning:
  * `rand()`-based sampling changes with partition layout and retries,
  * so every operator here derives its randomness from a stable hash of
  * row identity — the same row lands in the same split on any cluster
  * layout, any retry, any engine.
  */
object Sampling {

  /** Cross-engine deterministic bucket in [0, n): the low 48 bits of
    * the little-endian uint64 of the first 8 md5 digest bytes, mod n.
    * Chosen because DuckDB exposes exactly this value as
    * `md5_number_upper(x)` — so the same bucketing is computable in
    * ANSI-ish SQL for oracle checks (see [[portableBucketSql]]) while
    * Spark derives it from the md5 hex string. 48 bits keeps the value
    * inside a signed long on both engines. */
  def portableBucket(id: Column, n: Int): Column =
    portableHash48(id.cast("string")) % n

  /** The raw 48-bit md5-derived value behind [[portableBucket]] —
    * also the portable per-token hash for
    * [[graft.functions.TextFunctions.rollingHashPortable]]. */
  def portableHash48(c: Column): Column = {
    val m = md5(c)
    // little-endian: lowest-order byte is the first hex pair
    val le48 = concat(Seq(11, 9, 7, 5, 3, 1).map(i => substring(m, i, 2)): _*)
    conv(le48, 16, 10).cast("long")
  }

  /** DuckDB SQL computing the same value as [[portableHash48]]. */
  def portableHash48Sql(expr: String): String =
    s"CAST(md5_number_upper($expr) & 281474976710655 AS BIGINT)"

  /** Plain-JVM twin of [[portableHash48]] for kernels that run inside
    * `mapPartitions` closures (e.g. [[graft.sources.PortableCodec]])
    * rather than as Column expressions: the little-endian uint48 of the
    * first 6 md5 digest bytes — byte-for-byte the value the Column form
    * assembles from hex pairs (11,9,7,5,3,1) and DuckDB exposes as
    * `md5_number_upper(x) & (2^48-1)`. Equivalence pinned in
    * PropertySpec ("portableHash48Jvm matches the Column form"). */
  def portableHash48Jvm(bytes: Array[Byte]): Long =
    le48(java.security.MessageDigest.getInstance("MD5").digest(bytes))

  /** The little-endian uint48 of the first 6 bytes of an md5 digest —
    * the assembly step of [[portableHash48Jvm]], split out so callers
    * that reuse one `MessageDigest` across many hashes (digest()
    * resets it) avoid a new instance per call. */
  def le48(d: Array[Byte]): Long =
    ((d(5) & 0xffL) << 40) | ((d(4) & 0xffL) << 32) | ((d(3) & 0xffL) << 24) |
      ((d(2) & 0xffL) << 16) | ((d(1) & 0xffL) << 8) | (d(0) & 0xffL)

  /** DuckDB SQL computing the same bucket as [[portableBucket]]. */
  def portableBucketSql(expr: String, n: Int): String =
    s"${portableHash48Sql(s"CAST($expr AS VARCHAR)")} % $n"

  /** Deterministic percentage split: `train` = [[portableBucket]]
    * buckets [0, trainPct) of 100. Stable across partitioning, retries
    * and runs, and reproducible outside Spark (any engine with md5). */
  def hashSplitPortable(df: DataFrame, idCol: String,
      trainPct: Int): (DataFrame, DataFrame) = {
    val bucket = portableBucket(col(idCol), 100)
    (df.filter(bucket < trainPct), df.filter(bucket >= trainPct))
  }

  /** Deterministic per-key QUOTA cap — the domain-balancing primitive:
    * keep at most `n` rows of each `keyCol` group (cap an
    * over-represented web domain / source at `n` documents), chosen as
    * a uniform hash-ordered sample rather than "whatever arrived
    * first". Selection = the `n` smallest `(portableHash48(id), id)`
    * pairs per key: stable under partition layout, retries, and
    * engines (DuckDB replays the md5-derived order — the q75 oracle),
    * and id-tiebroken so hash collisions cannot make it ambiguous.
    *
    * Scale shape: per-key top-n via a `row_number` window sorts EVERY
    * row of the hottest key in one reducer task — a corpus with one
    * dominant domain (billions of rows under a single key) is exactly
    * the skewed-key straggler [[graft.operators.HotBuckets]] guards
    * against elsewhere. The selection here is
    * [[graft.functions.BoundedMinIds]], a bounded aggregate carrying
    * ≤ `n` pairs of state with map-side partial combine: the hot
    * domain collapses to `n` candidates per map partition BEFORE the
    * shuffle, and no task ever sorts more than its own partition. The
    * final semi-join brings back the full rows (kept side is `n` ×
    * #keys rows — broadcastable for realistic quotas, AQE decides).
    *
    * `idCol` must be an exact integer type (byte/short/int/long —
    * enforced) and unique within its key (ids are globally unique in
    * every table here); null key rows form their own quota group
    * (null-safe key join), null ids are never selected. */
  def quotaPerKey(df: DataFrame, keyCol: String, idCol: String,
      n: Int): DataFrame = {
    require(n > 0, s"quotaPerKey needs a positive quota, got $n")
    requireIntegralId(df, idCol, "quotaPerKey")
    semiJoinSelected(df, keyCol, idCol,
      df.groupBy(col(keyCol))
        .agg(graft.functions.BoundedMinIds.boundedMinIds(
          portableHash48(col(idCol).cast("string")),
          col(idCol).cast("long"), n).as("__ids")))
  }

  /** [[quotaPerKey]] with PER-KEY quotas — the selection half of a
    * mixture plan: `quotas` (one row per key: `keyCol`, `quota`) says
    * how many docs each domain may keep (the
    * [[graft.operators.Mixture.apportion]] /
    * [[graft.operators.LanguageModel.domainReweight]] output shape),
    * and each key keeps its FIRST `quota(key)` rows of the same
    * deterministic hash order [[quotaPerKey]] uses — selection under
    * quota q is exactly the q-prefix of the uniform quota's order, so
    * `quotaPerKeyFrom` with every quota = n ≡ `quotaPerKey(n)`
    * (spec-pinned), and raising one domain's quota only ADDS rows.
    *
    * Scale shape: the same bounded-aggregate no-window plan as
    * [[quotaPerKey]] with `maxQuota` pairs of state (map-side partial
    * combine — a billion-row dominant key never sorts in one task),
    * then one broadcast join against the keys-scale quota frame and a
    * per-key array slice. `maxQuota` is the CALLER's state bound: any
    * quota above it fails LOUDLY row-side (a silent truncation would
    * under-fill exactly the domains the mixture weighted up). A
    * quota of 0 keeps nothing for that key; a key ABSENT from
    * `quotas` keeps nothing either (the apportion output enumerates
    * every weighted key — an absent key has no quota, and silently
    * passing it through would overshoot the budget); quotas larger
    * than a key's row count keep every row (quota is a cap, not a
    * fill target). `idCol` integral + unique per key, as in
    * [[quotaPerKey]]. */
  def quotaPerKeyFrom(df: DataFrame, keyCol: String, idCol: String,
      quotas: DataFrame, maxQuota: Int): DataFrame = {
    require(maxQuota > 0,
      s"quotaPerKeyFrom needs a positive state bound, got $maxQuota")
    requireIntegralId(df, idCol, "quotaPerKeyFrom")
    val q = quotas.select(col(keyCol).as("__qk"),
      col("quota").cast("long").as("__quota"))
    val capped = when(col("__quota").isNull || col("__quota") < 0L,
        raise_error(concat(lit("quotaPerKeyFrom: key "),
          col(keyCol).cast("string"),
          lit(" has a null/negative quota "),
          col("__quota").cast("string"))).cast("long"))
      .when(col("__quota") > maxQuota,
        raise_error(concat(lit("quotaPerKeyFrom: key "),
          col(keyCol).cast("string"), lit(" quota "),
          col("__quota").cast("string"),
          lit(s" exceeds the maxQuota=$maxQuota state bound — raise " +
            "maxQuota (selection state is O(maxQuota) per key)")))
          .cast("long"))
      .otherwise(col("__quota"))
    val sel = df.groupBy(col(keyCol))
      .agg(graft.functions.BoundedMinIds.boundedMinIds(
        portableHash48(col(idCol).cast("string")),
        col(idCol).cast("long"), maxQuota).as("__all"))
      .join(broadcast(q), col(keyCol) <=> col("__qk"), "inner")
      .select(col(keyCol),
        slice(col("__all"), lit(1), capped.cast("int")).as("__ids"))
    semiJoinSelected(df, keyCol, idCol, sel)
  }

  /** Deterministic per-key TOP-K by score — the quality-curation twin
    * of [[quotaPerKey]]: keep the `n` BEST rows of each `keyCol` group
    * ranked by `scoreCol` descending (ties broken by ascending id), in
    * place of the quota's uniform hash order. "Keep the n
    * highest-quality documents per domain" is the standard
    * quality-weighted domain balancing step a training pipeline runs
    * where the quota's unbiased sample would discard good documents as
    * readily as bad ones.
    *
    * Selection = exactly the rows `row_number() OVER (PARTITION BY key
    * ORDER BY score DESC, id)` ranks ≤ n, but computed by
    * [[graft.functions.BoundedMaxByScore]] — the same bounded
    * map-side-combining aggregate plan as the quota (≤ n pairs of
    * state; a billion-row dominant domain never sorts in one reducer
    * task; see [[quotaPerKey]]'s scale shape, identical here).
    *
    * Contract: `idCol` must be an exact integer type (enforced, same
    * rationale as the quota) and unique within its key — uniqueness is
    * the CALLER's contract (ids are globally unique in every table
    * here): a duplicated id that ranks top-n keeps every row bearing
    * it. `scoreCol` must be a float or integer column (enforced):
    * ranking runs in DOUBLE precision, so decimals are rejected rather
    * than silently collapsed (`cast` to double explicitly to accept
    * the loss), and integral scores beyond 2⁵³ rank at double
    * resolution (still deterministic — the id tiebreak settles
    * collapsed ties — but may diverge from an exact-bigint ORDER BY).
    * Rows with a NULL score are never selected (they cannot be ranked
    * — mirror them out of the oracle window with `WHERE score IS NOT
    * NULL`); null keys form their own group. NaN scores rank ABOVE
    * +Infinity, matching Spark's and DuckDB's ORDER BY. */
  def topKPerKey(df: DataFrame, keyCol: String, idCol: String,
      scoreCol: String, n: Int): DataFrame = {
    require(n > 0, s"topKPerKey needs a positive k, got $n")
    requireIntegralId(df, idCol, "topKPerKey")
    requireRankable(df, scoreCol, "topKPerKey", "score")
    semiJoinSelected(df, keyCol, idCol,
      df.groupBy(col(keyCol))
        .agg(graft.functions.BoundedMaxByScore.boundedMaxByScore(
          col(scoreCol).cast("double"),
          col(idCol).cast("long"), n).as("__ids")))
  }

  /** Deterministic WEIGHTED sample per key — keep `n` rows of each
    * `keyCol` group with inclusion bias proportional to `weightCol`,
    * the data-mixing primitive between [[quotaPerKey]] (uniform) and
    * [[topKPerKey]] (strict best-k): a doc twice as heavy is roughly
    * twice as likely to survive, but low-weight docs still can — the
    * shape a training mix wants when weight encodes soft preference
    * (doc length, source trust) rather than hard quality rank.
    *
    * Selection = the `n` smallest `(portableHash48(id) / w, id)` pairs
    * per key — a deterministic exponential-race priority: for u
    * uniform on the 48-bit hash domain, `u / w` is (to first order)
    * an Exp(w) arrival time, and the smallest arrival wins with
    * probability ≈ w / Σw. The textbook A-ES key `u^(1/w)` is NOT
    * used deliberately: `pow`/`ln` are not correctly-rounded and
    * differ across libm implementations, while hash-to-double and one
    * IEEE division are bit-identical on every engine — the priority
    * (and so the sample) replays exactly in DuckDB (the q78 oracle).
    *
    * Same bounded-aggregate plan as [[topKPerKey]] (≤ n pairs of
    * state, map-side partial combine, no `row_number` window — a
    * billion-row dominant key never sorts in one reducer task).
    * Contract: `idCol` exact-integral and unique per key (caller's
    * contract, as in [[topKPerKey]]); `weightCol` float/integer
    * (enforced); rows with NULL, NaN, or non-positive weight are
    * never selected — mirror them out of an oracle window with
    * `WHERE w > 0` (NaN must be gated here: Spark compares NaN
    * largest, so an ungated NaN priority would rank FIRST on the
    * Spark side and LAST in a DuckDB ASC replay — the one input that
    * would break the portable-selection contract). Null keys form
    * their own group. */
  def weightedSamplePerKey(df: DataFrame, keyCol: String, idCol: String,
      weightCol: String, n: Int): DataFrame = {
    require(n > 0, s"weightedSamplePerKey needs a positive n, got $n")
    requireIntegralId(df, idCol, "weightedSamplePerKey")
    requireRankable(df, weightCol, "weightedSamplePerKey", "weight")
    val w = col(weightCol).cast("double")
    // smallest priority == largest -priority; BoundedMaxByScore keeps
    // max-by-(score DESC, id ASC), so negate. -0.0 (hash = 0) is
    // normalized inside the aggregate. NULL score (null/NaN/≤0
    // weight) contributes nothing — the SUM-ignores-NULL convention.
    // The NaN gate is load-bearing: NaN > 0 is TRUE under Spark's
    // NaN-largest comparison and -(hash/NaN) is still NaN, which
    // would rank ABOVE every real priority here while a DuckDB ASC
    // replay sorts it last.
    val priority = portableHash48(col(idCol).cast("string")).cast("double") / w
    semiJoinSelected(df, keyCol, idCol,
      df.groupBy(col(keyCol))
        .agg(graft.functions.BoundedMaxByScore.boundedMaxByScore(
          when(w > 0 && !isnan(w), -priority),
          col(idCol).cast("long"), n).as("__ids")))
  }

  /** Deterministic weighted REPLICATION — the epoch-mixing step that
    * materializes per-row sampling weights into integer copy counts:
    * a row with weight 2.25 appears 2 times always and 3 times for
    * the deterministic 25% of ids whose hash falls under the
    * fractional part; weight 0.25 keeps 25% of rows at one copy
    * (so one operator covers both up- and down-sampling). Output =
    * input rows with `n_copies` (the materialized count) and
    * `copy_idx` (1..n_copies) — downstream shuffles (pack, split)
    * spread the copies; the op itself is a pure narrow
    * projection+explode, NO shuffle (plan-gated in PlanQualitySpec).
    *
    * copies = floor(w) + [portableHash48(id) < frac(w)·2⁴⁸]. The
    * hash is an exactly-representable double < 2⁴⁸ and the threshold
    * is one IEEE multiply, so the promotion replays bit-identically
    * in DuckDB (the q80 oracle). E[copies] = w exactly under a
    * uniform hash; the estimator is unbiased per-id and deterministic
    * across layouts/retries/engines.
    *
    * Contract: `idCol` exact-integral (enforced); `weightCol`
    * float/integer (enforced); NULL, NaN, or negative weight → 0
    * copies (row dropped — filter first to fail instead).
    * `maxFactor` is a CONSERVATIVE weight-level bound: the job fails
    * row-side as soon as any weight reaches `maxFactor` (so emitted
    * copies stay < maxFactor + promotion; the guard deliberately
    * tests the weight, not the copy count, to keep the md5 promotion
    * out of the guard branches — a caller whose true maximum
    * blow-up IS maxFactor should pass `maxFactor + 1`). A typo'd 1e9
    * weight would otherwise explode a 100 TB corpus into an EB write
    * — fail fast, distributed, no extra pass.
    *
    * Composition note: copies share the original id, so `idCol` is NO
    * LONGER unique downstream — operators whose contract needs unique
    * ids ([[packSequences]]' deterministic order key, [[topKPerKey]]/
    * [[quotaPerKey]]'s id uniqueness) must be given a derived key:
    * use [[withReplicaKey]], the blessed `(id, copy_idx)` → unique-long
    * encoding (order-compatible and decodable — hand-rolled
    * alternatives tend to get overflow or copy-interleaving wrong; a
    * `monotonically_increasing_id()` is unique but NOT
    * layout-deterministic, which breaks the deterministic-pack
    * contract). This is also why replication is a standalone operator
    * rather than a [[graft.TrainingPipeline.prepare]] stage: splicing
    * it before packing would silently violate packing's unique-order
    * contract. */
  def replicateByWeight(df: DataFrame, idCol: String, weightCol: String,
      maxFactor: Int = 1000): DataFrame = {
    require(maxFactor > 0,
      s"replicateByWeight needs a positive maxFactor, got $maxFactor")
    requireIntegralId(df, idCol, "replicateByWeight")
    requireRankable(df, weightCol, "replicateByWeight", "weight")
    val w = col(weightCol).cast("double")
    val promote = portableHash48(col(idCol).cast("string")).cast("double") <
      (w - floor(w)) * lit(281474976710656.0) // 2^48
    val copies = when(w.isNull || isnan(w) || w < 0, 0L)
      .otherwise(floor(w).cast("long") + when(promote, 1L).otherwise(0L))
    // guard on the WEIGHT, not the copy count: copies ≤ floor(w)+1, so
    // w < maxFactor bounds copies ≤ maxFactor — and the cheap-attribute
    // condition keeps the (md5-heavy) copies expression out of the
    // guard branches, which Catalyst's projection collapse would
    // otherwise inline three more times. NaN must route to the
    // 0-copies drop, not the guard: NaN < maxFactor is FALSE under
    // Spark's NaN-largest ordering, and a data-quality hole deserves
    // the same drop convention as null/negative, not a misleading
    // blow-up error.
    val guarded = when(w.isNull || isnan(w) || w < maxFactor, copies)
      .otherwise(raise_error(concat(
        lit("replicateByWeight: weight "), w.cast("string"),
        lit(s" reaches maxFactor ($maxFactor) — the guard is a " +
          "conservative weight-level bound; pass maxFactor + 1 if this " +
          "blow-up is intended"))))
    df.withColumn("n_copies", guarded)
      .filter(col("n_copies") > 0)
      // filter BEFORE explode: Spark's sequence(1, 0) would generate
      // the DESCENDING [1, 0], not an empty array
      .withColumn("copy_idx", explode(sequence(lit(1L), col("n_copies"))))
  }

  /** The blessed replicate→pack bridge: encode each
    * [[replicateByWeight]] copy's `(id, copy_idx)` into ONE new unique
    * long — `replica_id = id · 2^bits + (copy_idx − 1)` with
    * `bits = ⌈log₂ maxFactor⌉` — so operators whose contract requires
    * unique ids ([[packSequences]]' deterministic order key, the
    * bounded per-key selections) compose with replicated corpora
    * without every caller hand-rolling the key (and getting the
    * overflow/ordering edge cases wrong).
    *
    * Properties the encoding guarantees (spec-pinned):
    *  - UNIQUE: distinct `(id, copy_idx)` → distinct `replica_id`
    *    (copy_idx ≤ maxFactor < 2^bits is enforced row-side);
    *  - ORDER-COMPATIBLE: sorting by `replica_id` sorts by
    *    `(id, copy_idx)` — a doc's copies pack CONSECUTIVELY and docs
    *    keep their id order, so [[packSequences]] over `replica_id`
    *    behaves exactly like packing the unreplicated corpus with each
    *    doc's token cost multiplied;
    *  - DECODABLE: `id = replica_id >> bits`,
    *    `copy_idx = (replica_id & (2^bits − 1)) + 1` — provenance
    *    survives, no join needed.
    *
    * `maxFactor` must be the SAME dial the replication ran with (its
    * default matches [[replicateByWeight]]'s): it sizes the bit field.
    * Ids must be non-negative and < 2^(63−bits) — both enforced with a
    * distributed raise_error, because a silent wrap would interleave
    * two docs' copies and corrupt the pack order, the exact bug this
    * helper exists to prevent. */
  def withReplicaKey(df: DataFrame, idCol: String,
      copyIdxCol: String = "copy_idx", outCol: String = "replica_id",
      maxFactor: Int = 1000): DataFrame = {
    require(maxFactor > 0,
      s"withReplicaKey needs a positive maxFactor, got $maxFactor")
    requireIntegralId(df, idCol, "withReplicaKey")
    requireIntegralId(df, copyIdxCol, "withReplicaKey")
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(maxFactor.toLong)
    val idMax = 1L << (63 - bits)
    val id = col(idCol).cast("long")
    val copy = col(copyIdxCol).cast("long")
    val checked = when(
      id >= 0 && id < idMax && copy >= 1 && copy <= maxFactor,
      shiftleft(id, bits.toInt) + (copy - 1L))
      .otherwise(raise_error(concat(
        lit(s"withReplicaKey: (id, copy_idx) = ("), id.cast("string"),
        lit(", "), copy.cast("string"),
        lit(s") outside id ∈ [0, 2^${63 - bits}) × copy ∈ [1, $maxFactor] " +
          "— the encoding would collide or overflow; raise maxFactor to " +
          "match the replication dial or re-key by hash"))))
    df.withColumn(outCol, checked)
  }

  // fail FAST on a non-double-rankable weight/score: ranking and the
  // promotion threshold run in DOUBLE precision, so decimals are
  // rejected rather than silently collapsed (cast to double explicitly
  // to accept the loss), and a string column would implicit-cast with
  // silent nulls and select nothing
  private def requireRankable(df: DataFrame, c: String, op: String,
      role: String): Unit = {
    val t = df.schema(c).dataType
    require(t.isInstanceOf[org.apache.spark.sql.types.NumericType]
        && !t.isInstanceOf[org.apache.spark.sql.types.DecimalType],
      s"$op needs a float/integer $role column; '$c' is ${t.simpleString}" +
        (if (t.isInstanceOf[org.apache.spark.sql.types.DecimalType])
          s" — $role handling runs in double precision, which would " +
            "silently collapse high-precision decimals; cast to double " +
            "explicitly to accept the precision loss"
        else ""))
  }

  // fail FAST on a non-integral id: a string id cast to long is null
  // for every row (nothing ever selected — an empty "sample" with no
  // error), and a fractional id loses its fraction through the
  // long round-trip (2.5 → 2 → 2.0 misses the semi-join, and 2.3 /
  // 2.7 collide), so only exact integer types are sound
  private def requireIntegralId(df: DataFrame, idCol: String,
      op: String): Unit =
    require(df.schema(idCol).dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => true
        case _ => false
      },
      s"$op needs an integral id column; " +
        s"'$idCol' is ${df.schema(idCol).dataType.simpleString}")

  // join the selected (key, Array[id]) frame back to the full rows.
  // null-SAFE key equality: a null key forms its own group in the
  // aggregate, and must match back here — plain `===` would silently
  // drop every null-key row instead of capping them (<=> is still an
  // equi-join key, the join stays a hash join). Kept side is n × #keys
  // rows — broadcastable for realistic n, AQE decides.
  private def semiJoinSelected(df: DataFrame, keyCol: String,
      idCol: String, selected: DataFrame): DataFrame = {
    val kept = selected
      .select(col(keyCol).as("__qkey"), explode(col("__ids")).as("__qid"))
      .select(col("__qkey"),
        col("__qid").cast(df.schema(idCol).dataType).as("__qid"))
    df.join(kept,
      col(keyCol) <=> col("__qkey") && col(idCol) === col("__qid"),
      "left_semi")
  }

  /** Sequence packing for context-window training: documents (in
    * deterministic `orderCol` order) are packed greedily into bins of
    * `budget` tokens — pack_id = floor(running-total-before / budget).
    *
    * The global running total is a two-level prefix sum, never a
    * single-partition window: rows are sharded by a monotonic bucketing
    * of `orderCol` (so shard order == global order), each shard computes
    * its local cumsum under a partitioned window, and the per-shard
    * exclusive offsets — at most `numShards` numbers, the same scale as
    * AQE partition statistics — are folded on the driver and broadcast
    * back. Any shard-boundary placement yields the identical result,
    * and each shard sorts independently, so this survives a 1000-way
    * cluster where the old global window serialized onto one task.
    *
    * COST CONTRACT: this operator consumes `df` THREE times — the
    * bounds/null-guard aggregate, the per-shard offsets collect, and
    * the final pack plan. Callers feeding it an EXPENSIVE chain must
    * pin that chain themselves ([[graft.TrainingPipeline.prepare]]
    * does — unpinned, its quality→mask→span→LSH-dedup upstream ran
    * 3×, ~2× the whole job's cost; measured, see BASELINE.md). The
    * operator deliberately does NOT pin for the caller: a pin taken
    * here can never be released (the result is lazy), so every
    * cheap-input caller in a long-lived session would accumulate
    * dead full-width cache blocks for a re-scan that costs less than
    * the pin. */
  def packSequences(df: DataFrame, tokenCol: String, orderCol: String,
      budget: Long, numShards: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val shards =
      if (numShards > 0) numShards
      else math.max(32, spark.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    // Bounds and the null guard share ONE aggregate pass (a separate
    // require(filter(...).isEmpty) would be a second full scan of the
    // input). Fail fast on null order/token values (mirrors
    // upsertLatest's null-ts guard): a null orderCol would form a null
    // __shard group and NPE the offset collect below; a null token sum
    // would silently mispack everything after it even if it didn't.
    val bounds = df.agg(
      min(col(orderCol).cast("double")), max(col(orderCol).cast("double")),
      count(when(col(orderCol).isNull || col(tokenCol).isNull, 1))).head()
    require(bounds.getLong(2) == 0L,
      s"packSequences: ${bounds.getLong(2)} null $orderCol/$tokenCol rows " +
        "cannot be packed deterministically — filter or impute them first")
    if (bounds.isNullAt(0)) return df.withColumn("pack_id", lit(0L))
    val lo = bounds.getDouble(0)
    val width = math.max(1e-12, (bounds.getDouble(1) - lo) / shards)
    // monotonic in orderCol => per-shard order concatenates to global order
    val shardOf = least(
      floor((col(orderCol).cast("double") - lit(lo)) / lit(width)),
      lit(shards.toLong - 1)).cast("long")
    val sharded = df.withColumn("__shard", shardOf)
    val offsets = sharded.groupBy("__shard")
      .agg(sum(col(tokenCol).cast("long")).as("__tot"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      .scanLeft((-1L, 0L)) { case ((_, acc), (s, tot)) => (s, acc + tot) }
    val exclusive = offsets.sliding(2).collect {
      case Array((_, prevAcc), (s, _)) => (s, prevAcc)
    }.toSeq
    import spark.implicits._
    val offDf = exclusive.toDF("__shard", "__off")
    val w = Window.partitionBy(col("__shard")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sharded
      .withColumn("__cum", sum(col(tokenCol).cast("long")).over(w))
      .join(broadcast(offDf), "__shard")
      .withColumn("pack_id",
        floor((col("__cum") + col("__off") - col(tokenCol)).cast("double") / budget)
          .cast("long"))
      .drop("__shard", "__cum", "__off")
  }

  /** Deterministic global shuffle → shard manifest, the step between
    * curation and the trainer: assign every doc a `(shard,
    * pos_in_shard)` so readers stream shards in manifest order and
    * the corpus arrives in a SEEDED pseudo-random permutation
    * (training-loss curves care; a sorted-by-source corpus trains
    * visibly worse). The naive formulation — `row_number() OVER
    * (ORDER BY hash)` — is ONE global sort task at scale; here the
    * permutation is hash-partitioned FIRST (shard = hash mod
    * nShards — each shard is itself a random sample), then ordered
    * only WITHIN shards, so every window partition is
    * `O(N/nShards)` — the caller sizes nShards to the trainer's
    * file-size target exactly as [[packSequences]] sizes packs.
    *
    * Determinism: the permutation key is [[portableHash48]] of
    * `"<seed>:<id>"` — stable across partitioning/retries/engines
    * (the repo's md5 discipline), tie-broken by doc id, so the
    * manifest is bit-identical on any cluster layout and replayable
    * in the DuckDB oracle. Changing the seed re-shuffles without
    * touching the data.
    *
    * Output: `(<idCol>, shard, pos_in_shard)` — the id column KEEPS
    * the caller's name (sibling operators' convention; a caller
    * passing `idCol = "vec_id"` gets `vec_id` back, not a silent
    * rename). */
  def shardManifest(docs: DataFrame, idCol: String, nShards: Int,
      seed: String): DataFrame = {
    require(nShards >= 1, s"nShards=$nShards must be >= 1")
    require(!seed.contains(":"),
      s"seed must not contain ':' (key-domain separator), got '$seed'")
    import org.apache.spark.sql.expressions.Window
    val h = portableHash48(
      concat(lit(seed), lit(":"), col(idCol).cast("string")))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__h"), col("__id"))
    docs.select(col(idCol).as("__id"), h.as("__h"))
      .withColumn("shard", pmod(col("__h"), lit(nShards)).cast("int"))
      .withColumn("pos_in_shard", row_number().over(w).cast("long"))
      .select(col("__id").as(idCol), col("shard"), col("pos_in_shard"))
  }
}
