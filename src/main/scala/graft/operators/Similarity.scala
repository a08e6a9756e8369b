package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k with the query set broadcast —
  * exact, O(|Q|·|C|·d), the right plan when |Q| is small. Scale path:
  * random-hyperplane LSH buckets the corpus ONCE (a projection), and
  * each query probes only its bucket — candidate volume drops by
  * ~2^bits, recall tunable via multi-probe/repetition.
  *
  * All math is pure `Column` expressions in double precision with a
  * deterministic left-to-right fold — no UDF, no collect, and
  * bit-stable results across partitionings (needed for the oracle).
  */
object Similarity {

  /** Cast a float array to double (exact per-element widening). */
  def asDouble(v: Column): Column = v.cast(ArrayType(DoubleType))

  /** Dot product via the native codegen'd expression
    * ([[graft.functions.DotProduct]]) — same left-to-right IEEE
    * accumulation as a sequential fold, ~4× faster than the
    * interpreted higher-order-function form. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotNative(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** The query-side row budget under which the top-k operators
    * broadcast. 100k × (64-dim double vector + ids) ≈ 55 MB — inside
    * executor broadcast budgets; above it the operators fall back to a
    * non-broadcast join instead of OOMing the broadcast exchange. */
  val DefaultBroadcastLimit: Int = 100000

  /** Bounded-work guard: probes at most limit+1 rows of `df` (a
    * `limit` scan, not a full count) to decide whether the query side
    * honors its broadcast contract.
    *
    * The probe is EAGER — it executes the query-side plan once at
    * operator-build time (bounded by the limit: the scan stops at
    * limit+1 rows), and the join then executes that side again. That
    * is the price of choosing broadcast vs shuffle before AQE sees any
    * statistics; callers who already know their query side is large
    * pass `broadcastLimit <= 0` to skip the probe and take the
    * shuffle path directly with zero extra work. */
  private def fitsBroadcast(df: DataFrame, limitRows: Int): Boolean =
    limitRows > 0 && df.limit(limitRows + 1).count() <= limitRows

  /** Brute-force exact top-k cosine neighbors for each query vector.
    * `queries` is expected small — it is broadcast, so the corpus is
    * scanned once with no shuffle until the per-query top-k window.
    * If the query side exceeds `broadcastLimit` rows the join falls
    * back to a shuffle-replicated nested loop (memory-safe; the
    * O(|Q|·|C|) compute is inherent to brute force — a huge query set
    * should use [[ivfTopK]]). Tie-break: (rounded score desc,
    * neighbor id asc) — deterministic. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      broadcastLimit: Int = DefaultBroadcastLimit): DataFrame = {
    // finite-norm exclusion on BOTH sides: a zero-norm or NaN vector
    // scores cosine = NaN, and NaN compares LARGER than every real
    // score in Spark — one degenerate corpus vector would otherwise
    // become the rank-1 neighbor of EVERY query (the unitVectors
    // contract, applied to the raw-cosine path)
    val q = finiteRows(queries, idCol, vecCol, "q_id", "q_vec")
    val c = finiteRows(corpus, idCol, vecCol, "n_id", "n_vec")
    val joined =
      if (fitsBroadcast(q, broadcastLimit)) c.join(broadcast(q), col("q_id") =!= col("n_id"))
      else c.join(q.hint("shuffle_replicate_nl"), col("q_id") =!= col("n_id"))
    val scored = joined
      .withColumn("score", round(cosine(col("q_vec"), col("n_vec")), 4))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("score"))
  }

  /** Deterministic pseudo-random unit-range constant derived from a
    * seed — computed driver-side so the hyperplanes are plain literal
    * arrays, not 6×64-node expression trees (which dominated codegen
    * time at small scale and bloat the plan at any scale). */
  private def hashU(seed: Long): Double =
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashLong(seed, 42L).toDouble / Long.MaxValue.toDouble

  private def constVec(values: Seq[Double]): Column =
    typedLit(values)

  /** Raw (un-normalized) projection with the [[unitVectors]] exclusion
    * contract: zero-norm / non-finite vectors drop — every raw-cosine
    * scorer needs this, or NaN scores ride Spark's NaN-is-largest
    * ordering to rank 1. */
  private def finiteRows(df: DataFrame, idCol: String, vecCol: String,
      idAs: String, vecAs: String): DataFrame =
    df.select(col(idCol).as(idAs), asDouble(col(vecCol)).as(vecAs))
      .withColumn("__nrm", norm(col(vecAs)))
      .filter(col("__nrm") > 0 && !isnan(col("__nrm")) &&
        col("__nrm") < lit(Double.PositiveInfinity))
      .drop("__nrm")

  /** Loud dim contract shared by every dim-taking entry point: the
    * native dot silently truncates to the SHORTER operand, so a
    * wrong-dim vector would otherwise produce a plausible prefix
    * projection/bucketing with no signal. */
  private def assertDim(df: DataFrame, vecCol: String,
      dim: Int, op: String): DataFrame =
    df.filter(assert_true(size(col(vecCol)) === lit(dim),
      concat(lit(s"$op: vector of dim "), size(col(vecCol)),
        lit(s" != declared dim $dim"))).isNull)

  /** The hyperplane constants behind [[hyperplaneBucket]] — exposed so
    * an oracle can replay the exact bucketing in another engine (the
    * planes are embedded as double literals in generated SQL; Scala's
    * `Double.toString` round-trips, so the replay is bit-identical). */
  def hyperplaneValues(dim: Int, bits: Int): Seq[Seq[Double]] =
    (0 until bits).map(h => (0 until dim).map(d => hashU(h * 10007L + d)))

  /** Random-hyperplane (sign) LSH bucket id: `bits` pseudo-random
    * hyperplanes (literal arrays, reproducible everywhere); each bit =
    * sign of one native dot product against the vector. */
  def hyperplaneBucket(vec: Column, dim: Int, bits: Int): Column = {
    require(bits >= 1 && bits <= 63,
      s"hyperplaneBucket: bits=$bits outside [1, 63] — 1L << h wraps " +
        "past 63 and would silently alias high planes onto low ones")
    val bitCols = hyperplaneValues(dim, bits).zipWithIndex.map { case (p, h) =>
      when(dot(vec, constVec(p)) > 0, lit(1L << h)).otherwise(lit(0L))
    }
    bitCols.reduce((a, b) => a.bitwiseOR(b))
  }

  /** The projection directions behind [[randomProjection]] — exposed
    * so an oracle can replay the exact projection (the
    * [[hyperplaneValues]] discipline: double literals round-trip). A
    * seed family disjoint from the hyperplanes', so composing
    * projection with sign-bucketing never reuses a direction. */
  def projectionValues(dim: Int, outDim: Int): Seq[Seq[Double]] =
    (0 until outDim).map(h =>
      (0 until dim).map(d => hashU(1000003L + h * 131071L + d)))

  /** The [[randomProjection]] scale making squared norms UNBIASED:
    * directions are uniform [-1, 1] per coordinate (variance 1/3), so
    * `√(3/outDim)` gives E‖proj(v)‖² = ‖v‖² — projected distances
    * estimate the originals, not a constant multiple of them. */
  def projectionScale(outDim: Int): Double = math.sqrt(3.0 / outDim)

  /** Seeded Johnson–Lindenstrauss dense random projection: each output
    * coordinate is one native dot product against a pseudo-random
    * direction (literal arrays — reproducible in any engine), scaled
    * so pairwise distances are preserved in expectation. The cheap
    * front half of big-corpus ANN: shrink wide embeddings BEFORE
    * bucketing/quantizing and every downstream dot, broadcast, and
    * shuffle shrinks proportionally — at 100 TB the projection is a
    * narrow in-row map, no shuffle at all.
    *
    * Loud dim contract: a vector of the wrong length raises
    * ([[graft.functions.VectorExpressions]]' native dot would silently
    * truncate to a prefix projection — a plausible-but-wrong result).
    * NULL ids/vectors are excluded (nothing to project). Output:
    * `(vec_id, proj)` with `proj` the round-4 double array. */
  def randomProjection(vectors: DataFrame, dim: Int, outDim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dim >= 1, s"randomProjection: dim=$dim must be >= 1")
    require(outDim >= 1 && outDim <= dim,
      s"randomProjection: outDim=$outDim must be in [1, dim=$dim] — " +
        "projecting UP is not reduction")
    vectors
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .filter(assert_true(size(col(vecCol)) === lit(dim),
        concat(lit("randomProjection: vector of dim "),
          size(col(vecCol)), lit(s" != declared dim $dim"))).isNull)
      .select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("__vec"))
      .select(col("vec_id"), projArray(col("__vec"), dim, outDim).as("proj"))
  }

  /** The round-4 projected array of `vec` — shared by
    * [[randomProjection]] and [[projectedTopK]] so the two can never
    * disagree on the projection arithmetic. */
  private def projArray(vec: Column, dim: Int, outDim: Int): Column = {
    val scale = projectionScale(outDim)
    array(projectionValues(dim, outDim).map { p =>
      round(dot(vec, constVec(p)) * lit(scale), 4)
    }: _*)
  }

  /** Projected ANN: candidates ranked by dot product in the
    * [[randomProjection]] space (outDim ≪ dim — the approx scan costs
    * outDim/dim of brute force), then the `pool` best per query
    * re-ranked by EXACT cosine on the raw vectors (the [[pqTopK]]
    * shape with a JL space instead of a codebook). With `pool`
    * generously over `k`, the exact top-k is recovered — the oracle
    * holds the operator to the EXACT brute-force answer, q94's
    * stance: recall is the contract, pool is the dial that buys it.
    * Degenerate (zero-norm/NaN/wrong-dim) vectors follow
    * [[bruteForceTopK]]'s exclusion contract. */
  def projectedTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      dim: Int, outDim: Int, pool: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      broadcastLimit: Int = DefaultBroadcastLimit): DataFrame = Hydration.scoped {
    require(k >= 1, s"k must be >= 1, got $k")
    require(pool >= k, s"pool=$pool must cover k=$k")
    require(outDim >= 1 && outDim <= dim,
      s"projectedTopK: outDim=$outDim must be in [1, dim=$dim] — " +
        "projecting UP is not reduction (randomProjection's contract)")
    def side(df: DataFrame, p: String) =
      Hydration.persist(
        assertDim(finiteRows(df, idCol, vecCol, s"${p}_id", s"${p}_raw"),
          s"${p}_raw", dim, "projectedTopK")
        .select(col(s"${p}_id"), col(s"${p}_raw"),
          projArray(col(s"${p}_raw"), dim, outDim).as(s"${p}_proj")))
    val q = side(queries, "q")
    val c = side(corpus, "n")
    val qSide =
      if (fitsBroadcast(q, broadcastLimit)) broadcast(q)
      else q.hint("shuffle_replicate_nl")
    val approx = c.select(col("n_id"), col("n_proj"))
      .join(qSide.select(col("q_id"), col("q_proj")),
        col("q_id") =!= col("n_id"))
      .withColumn("ascore", round(dot(col("q_proj"), col("n_proj")), 4))
    rerankTopK(approx, "ascore", c, qSide, k, pool)
  }

  /** Projected IVF ANN — the 100 TB composition of [[randomProjection]]
    * and [[ivfTopK]]: project BOTH sides to `outDim` dims (JL), build
    * the IVF assignment in the projected space (default — centroid
    * scan costs outDim/dim of the raw one) OR in full-width raw space
    * when a dim-wide codebook is passed (routing-error-free; see the
    * codebook-width dispatch below), probe `nProbe` cells per query,
    * rank candidates by projected dot product, and re-rank the `pool`
    * best per query with the EXACT raw-vector cosine. q135's projectedTopK
    * still scans every corpus row in projected space; this variant
    * also cuts the CANDIDATE count by ~nCells/nProbe — the shape a
    * billion-vector corpus wants: projection shrinks the per-row
    * arithmetic, cells shrink the row count, the exact re-rank
    * restores precision (recall is the pool/nProbe dial, the q94
    * stance).
    *
    * Everything upstream of the re-rank is deterministic literals
    * (seeded projection directions + hash centroids in the projected
    * space), so the WHOLE pipeline — projection, argmax cell with
    * ties to the lowest index, probe set, pool selection, re-rank —
    * replays in the oracle. Degenerate vectors follow
    * [[bruteForceTopK]]'s exclusion contract (an all-zero PROJECTION
    * of a finite raw vector is kept: its cell scores tie to cell 0
    * deterministically — replayable, never NaN). */
  def projectedIvfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      dim: Int, outDim: Int, nCells: Int, nProbe: Int, pool: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      broadcastLimit: Int = DefaultBroadcastLimit,
      centroids: Option[Seq[Seq[Double]]] = None): DataFrame = Hydration.scoped {
    require(k >= 1, s"k must be >= 1, got $k")
    require(pool >= k, s"pool=$pool must cover k=$k")
    require(outDim >= 1 && outDim <= dim,
      s"projectedIvfTopK: outDim=$outDim must be in [1, dim=$dim]")
    require(nProbe >= 1 && nProbe <= nCells,
      s"projectedIvfTopK: nProbe=$nProbe must be in [1, nCells=$nCells]")
    // TRAINED cells (the q65 precedent): pass [[kmeansCentroids]]
    // output. The codebook's WIDTH selects the routing space:
    //  - outDim-wide (train on [[randomProjection]]'s output): cells
    //    are assigned in the projected space — cheapest routing, but
    //    on clustered corpora the JL projection's distortion mis-routes
    //    near-boundary vectors and recall plateaus BELOW the pool cap
    //    (ScaleBench's pool-400 diagnostic isolated a ~0.17 residual
    //    from exactly this — no pool recovers a never-probed cell);
    //  - dim-wide (train on the RAW vectors): cells are assigned on
    //    exact full-width center distances — routing error vanishes,
    //    and the scan STAYS projected (the expensive per-candidate
    //    arithmetic is still outDim/dim of brute force). The extra
    //    cost is nCells dim-wide dot products per row instead of
    //    outDim-wide — O(nCells·dim) per row, independent of corpus
    //    pairings, the right trade whenever routing fidelity is the
    //    recall bottleneck (r18 verdict task #2).
    // Default (no codebook) stays the seeded projected-space hash
    // centroids — fully deterministic, oracle-replayable (q141).
    // Any other width fails loudly — a mismatched codebook would
    // silently prefix-truncate in the dot product.
    centroids.foreach { cs =>
      require(cs.size == nCells,
        s"projectedIvfTopK: ${cs.size} centroids for nCells=$nCells")
      require(cs.forall(_.size == outDim) || cs.forall(_.size == dim),
        s"projectedIvfTopK: centroid dims ${cs.map(_.size).distinct} " +
          s"must be outDim=$outDim (projected routing) or dim=$dim " +
          "(full-width routing) — train on the matching vectors")
    }
    val cents = centroids.getOrElse(hashCentroids(outDim, nCells))
    val routeWide = centroids.exists(cs => cs.head.size == dim && dim != outDim)
    def side(df: DataFrame, p: String) =
      Hydration.persist(
        assertDim(finiteRows(df, idCol, vecCol, s"${p}_id", s"${p}_raw"),
          s"${p}_raw", dim, "projectedIvfTopK")
        .select(col(s"${p}_id"), col(s"${p}_raw"),
          projArray(col(s"${p}_raw"), dim, outDim).as(s"${p}_proj")))
    val q = side(queries, "q")
    val c = side(corpus, "n")
    def routeVec(p: String) = if (routeWide) col(s"${p}_raw") else col(s"${p}_proj")
    val cCells = c.select(col("n_id"), col("n_proj"),
      element_at(array_sort(
        array(cellScores(routeVec("n"), cents): _*), cellCmp),
        1)("cell").as("cell"))
    val qCells = q.select(col("q_id"), col("q_proj"),
        array_sort(array(cellScores(routeVec("q"), cents): _*), cellCmp)
          .as("__sorted"))
      .withColumn("__probe", explode(slice(col("__sorted"), 1, nProbe)))
      .select(col("q_id"), col("q_proj"), col("__probe")("cell").as("cell"))
    val broadcastQ = fitsBroadcast(q, broadcastLimit)
    // the cell equi-join works shuffled too — an oversized query set
    // degrades to a shuffle hash join instead of OOMing the broadcast
    val cellJoined =
      if (broadcastQ) cCells.join(broadcast(qCells), Seq("cell"))
      else cCells.join(qCells.hint("shuffle_hash"), Seq("cell"))
    val approx = cellJoined
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("ascore", round(dot(col("q_proj"), col("n_proj")), 4))
    val qSide = if (broadcastQ) broadcast(q) else q.hint("shuffle_hash")
    rerankTopK(approx, "ascore", c, qSide, k, pool)
  }

  /** The pool-then-exact-re-rank tail shared by [[pqTopK]],
    * [[projectedTopK]], and [[projectedIvfTopK]]: `pool` best approx candidates per query
    * (score desc, id-asc ties — [[graft.functions.BoundedMaxByScore]]
    * mirrors the oracle's `row_number` exactly), hydrate both raw
    * sides, exact round-4 cosine, rank window, k-filter, checkpoint.
    * ONE tie-break/re-rank contract, one place — the two operators
    * cannot drift. */
  private def rerankTopK(approx: DataFrame, approxScore: String,
      c: DataFrame, qSide: DataFrame, k: Int, pool: Int): DataFrame = {
    val cand = approx
      .groupBy(col("q_id"))
      .agg(graft.functions.BoundedMaxByScore
        .boundedMaxByScore(col(approxScore), col("n_id"), pool)
        .as("__ids"))
      .select(col("q_id"), explode(col("__ids")).as("n_id"))
    val rer = cand
      .join(c.select(col("n_id"), col("n_raw")), Seq("n_id"))
      .join(qSide.select(col("q_id"), col("q_raw")), Seq("q_id"))
      .withColumn("score", round(cosine(col("q_raw"), col("n_raw")), 4))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("n_id").asc)
    rer.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("score"))
      .localCheckpoint()
  }

  /** LSH-bucketed near-duplicate pairs: same-bucket equi-join, cosine
    * verify ≥ threshold. Bucket width (bits) is the recall/cost dial;
    * the bucket join is hot-bucket bounded with a star fallback
    * ([[graft.operators.HotBuckets.starSelfJoinCandidates]] — a
    * degenerate bucket, e.g. a mass of near-zero vectors all landing
    * on one sign pattern, otherwise feeds B² pairs into one task;
    * above the cap each member is checked against the bucket-min
    * representative only, so a mega-cluster of genuinely identical
    * embeddings still collapses under [[semanticCollapse]]).
    *
    * The embedding payload rides the guard's window + join rather than
    * hydrating back per candidate: measured head-to-head (64-dim, 1×
    * and 8× the sf0.1 corpus, 3 passes), ids-only-then-two-hydration-
    * joins is within run-to-run noise of payload-through (±10%), and
    * the hydrate shape needs a cache pin plus two extra joins. The
    * guard's one extra window pass over the bucket key is the real
    * cost (~2× on sub-second corpora) — that is the floor price of
    * skew safety, not a payload-width effect. */
  def lshNearDupPairs(vectors: DataFrame, threshold: Double, dim: Int,
      bits: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxBucket: Int = HotBuckets.DefaultCap,
      strict: Boolean = false): DataFrame = {
    // normalize ONCE per vector (projection), so the per-pair work
    // after the bucket join is a single dot product. unitVectors, not
    // a bare nrm > 0: a NaN norm compares LARGER than 0 in Spark, so
    // one NaN vector would land in the all-ones bucket, score NaN
    // against every member, PASS the >= threshold filter, and link
    // unrelated documents into one collapse component.
    val v = assertDim(unitVectors(vectors, idCol, vecCol), "raw", dim,
        "lshNearDupPairs")
      .select(col("id"), col("vec"))
      .withColumn("bucket", hyperplaneBucket(col("vec"), dim, bits))
    HotBuckets.starSelfJoinCandidates(v, Seq("bucket"), "id", Seq("vec"),
      maxBucket, "hyperplane_lsh", strict)
      .withColumn("score", round(dot(col("vec_a"), col("vec_b")), 4))
      .filter(col("score") >= threshold)
      .select(col("id_a"), col("id_b"), col("score"))
  }

  /** IVF top-k search: corpus assigned to its best cell ONCE (the
    * index build — a projection); each query probes its `nProbe` best
    * cells and brute-forces only those lists. Candidate volume drops
    * by ~nCells/nProbe vs full brute force; recall is the nProbe dial.
    * The cell equi-join keeps the plan shuffle-partitioned at scale. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      nCells: Int = 16, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroids: Option[Seq[Seq[Double]]] = None,
      broadcastLimit: Int = DefaultBroadcastLimit): DataFrame = {
    val corpusCells = ivfAssign(corpus, dim, nCells, idCol, vecCol, centroids)
      .select(col("cell"), col("id").as("n_id"), col("vec").as("n_vec"))
    val queryCells = ivfAssignTop(queries, dim, nCells, nProbe, idCol, vecCol,
        centroids)
      .select(col("cell"), col("id").as("q_id"), col("vec").as("q_vec"))
    // the cell equi-join works shuffled too — an oversized query set
    // degrades to a shuffle hash join instead of OOMing the broadcast
    val cellJoined =
      if (fitsBroadcast(queryCells, broadcastLimit))
        corpusCells.join(broadcast(queryCells), Seq("cell"))
      else corpusCells.join(queryCells.hint("shuffle_hash"), Seq("cell"))
    val scored = cellJoined
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("score", round(cosine(col("q_vec"), col("n_vec")), 4))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("score"))
  }

  /** Default (untrained) codebook: deterministic pseudo-random
    * centroids derived from hashes — the stand-in when no training
    * pass has run. */
  def hashCentroids(dim: Int, nCells: Int): Seq[Seq[Double]] =
    (0 until nCells).map(cIdx => (0 until dim).map(d => hashU(cIdx * 131071L + d)))

  private def cellScores(vec: Column,
      centroids: Seq[Seq[Double]]): Seq[Column] =
    centroids.zipWithIndex.map { case (c, cIdx) =>
      struct(dot(vec, constVec(c)).as("score"), lit(cIdx).as("cell"))
    }

  /** (score desc, insertion-stable) comparator shared by every IVF
    * cell assignment: equal scores compare 0 and `array_sort` is
    * stable, so ties go to the LOWEST cell index — deterministic and
    * replayable (DuckDB's list_position-of-max has the same rule). */
  private val cellCmp: (Column, Column) => Column =
    (l, r) => when(l("score") > r("score"), -1)
      .when(l("score") < r("score"), 1).otherwise(0)

  /** Assignment to the `nProbe` best cells (multi-probe for queries). */
  def ivfAssignTop(vectors: DataFrame, dim: Int, nCells: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroids: Option[Seq[Seq[Double]]] = None): DataFrame = {
    val v = assertDim(finiteRows(vectors, idCol, vecCol, "id", "vec"),
      "vec", dim, "ivfAssignTop")
    val cs = cellScores(col("vec"),
      centroids.getOrElse(hashCentroids(dim, nCells)))
    v.withColumn("__sorted", array_sort(array(cs: _*), cellCmp))
      .withColumn("__probe", explode(slice(col("__sorted"), 1, nProbe)))
      .withColumn("cell", col("__probe")("cell"))
      .drop("__sorted", "__probe")
  }

  /** IVF-style coarse quantization: assign each vector to the nearest
    * of `nCells` centroids (trained codebook if given, hash-derived
    * stand-in otherwise); queries probe `nProbe` nearest cells.
    * Returns (cell, id, vec) assignments. */
  def ivfAssign(vectors: DataFrame, dim: Int, nCells: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroids: Option[Seq[Seq[Double]]] = None): DataFrame = {
    // same exclusion as the search side: a NaN/zero-norm vector's cell
    // scores are all NaN (comparator-equal), its assignment garbage,
    // and its cosine later poisons the rank window
    val v = assertDim(finiteRows(vectors, idCol, vecCol, "id", "vec"),
      "vec", dim, "ivfAssign")
    val cs = cellScores(col("vec"),
      centroids.getOrElse(hashCentroids(dim, nCells)))
    v.withColumn("cell",
      element_at(array_sort(array(cs: _*), cellCmp), 1)("cell"))
  }

  /** Distributed Lloyd's k-means over the (unit-normalized) corpus —
    * the codebook trainer behind a REAL IVF index (spherical k-means:
    * assignment by max dot product, update by per-cell mean). Each
    * iteration is one assignment projection + one aggregate; the only
    * driver-side state is the k×dim centroid table itself (same
    * O(small) class as `packSequences`' shard offsets — this is how
    * distributed k-means works everywhere). SEED-SCAN WIDTH: the
    * distinct-vector seed scan below groups by the FULL vector, so the
    * shuffle key is dim doubles wide — negligible at projected widths
    * (q148 trains on 16 dims) but the dominant shuffle bytes on raw
    * 1024-dim embeddings; train in a projected space
    * ([[randomProjection]] → this, q148's composition) when dim is
    * large. Deterministic: seeds are
    * the `k` lowest-min-id DISTINCT (normalized) vectors — distinct
    * by VALUE, not by id, because a duplicated corpus (the normal
    * state of pre-dedup training data) otherwise seeds several cells
    * with the same vector: identical seeds tie every assignment to
    * the lowest cell, the mean update cannot separate them, and the
    * "trained" codebook degenerates to a few live cells carrying all
    * the mass (observed: 16× replicated embeddings put 43% of the
    * corpus in ONE cell — ScaleBench's projected_ivf_trained_cells
    * readout). Empty cells keep their previous centroid. */
  def kmeansCentroids(vectors: DataFrame, nCells: Int, iters: Int,
      dim: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): Seq[Seq[Double]] = Hydration.scoped {
    // zero-norm/non-finite vectors excluded — see [[unitVectors]] (a
    // NaN component would otherwise crash the ANSI decimal cast in the
    // mean aggregate below)
    // HYDRATION-PINNED (the pqCodebooks discipline — this operator IS
    // the multi-consumer, so the pin is operator-owned and released by
    // its scope): the seed scan + every Lloyd iteration otherwise
    // re-executes the ENTIRE upstream chain — for a trained
    // projected-IVF caller that chain is the full JL projection, paid
    // iters+1 times per training run (measured: q148 isolated floor
    // 6.81 → see BASELINE for the post-pin number)
    val v = Hydration.persist(
      unitVectors(vectors, idCol, vecCol).select(col("id"), col("vec")))
    var centroids: Seq[Seq[Double]] = v
      .groupBy(col("vec")).agg(min(col("id")).as("sid"))
      .orderBy(col("sid")).limit(nCells)
      .select(col("vec")).collect().map(_.getSeq[Double](0).toSeq).toSeq
    require(centroids.size == nCells,
      s"kmeans: need >= $nCells DISTINCT non-zero vectors to seed")
    for (_ <- 1 to iters) {
      val assigned = v.withColumn("cell", element_at(
        array_sort(array(cellScores(col("vec"), centroids): _*),
          cellCmp), 1)("cell"))
      // per-cell mean, elementwise, via the native vector-sum
      // aggregate ([[graft.functions.VectorDecimalSum]]): ONE buffer
      // per cell holding dim exact decimal accumulators — no dim× row
      // explode through the shuffle, no (cell, pos) reassembly
      // aggregate, k rows back to the driver. Exact decimal addition
      // is commutative, so the trained centroids — and the run-to-run
      // determinism this operator promises — are bit-identical under
      // any partitioning (avg(double) would follow shuffle-fetch
      // order). Emits the same values as the previous
      // explode → sum(cast(decimal(30,15))) → cast(double) plan.
      val means = assigned
        .groupBy(col("cell"))
        .agg(graft.functions.VectorAggregates
            .vectorDecimalSum(col("vec"), dim).as("s"),
          count(lit(1)).cast(DoubleType).as("n"))
        .collect()
        .map(r => (r.getInt(0), (r.getSeq[Double](1), r.getDouble(2))))
        .toMap
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        means.get(c) match {
          case Some((sums, cnt)) =>
            val m = (0 until dim).map(d => sums(d) / cnt)
            // spherical k-means: re-normalize the mean (an unnormalized
            // mean both shrinks the dot-product objective and biases
            // assignment toward tight clusters)
            val n = math.sqrt(m.map(x => x * x).sum)
            if (n > 0) m.map(_ / n) else old
          case None => old
        }
      }
    }
    centroids
  }

  /** Hashing-trick TF vectors from raw text — the stub-free
    * text→vector featurizer: token → md5-portable hash → bucket
    * `idx = h % dim`, count per (doc, idx). Kept SPARSE ((doc, idx,
    * cnt) rows): at 100 TB the sparse form is both smaller and the
    * shape the cosine join below wants; densify only at a model
    * boundary. Integer counts + portable hashes make every downstream
    * number exactly replayable in any engine with md5. */
  def sparseTfVectors(docs: DataFrame, dim: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(graft.functions.TextFunctions.tokens(col(textCol))).as("tok"))
      .select(col("id"),
        (graft.operators.Sampling.portableHash48(col("tok")) % dim).as("idx"))
      .groupBy(col("id"), col("idx")).agg(count(lit(1)).as("cnt"))

  /** Sparse cosine top-k over TF vectors: query docs (small, filtered)
    * join the corpus on the BUCKET index — dot products are integer
    * sums grouped per pair, norms are per-doc aggregates, and the only
    * floating-point op is the final rounded division, so results are
    * bit-stable under any partitioning (and cross-engine). Pairs with
    * zero overlap never form — by construction their cosine is 0 and
    * they cannot enter a top-k that ranks by similarity. */
  def sparseCosineTopK(vectors: DataFrame, queryIds: Column, k: Int,
      broadcastLimit: Int = DefaultBroadcastLimit): DataFrame = {
    // the sparse-vector aggregate feeds four plan references (two norm
    // joins, the query side, the neighbor side) — hydration-persist it
    // so the upstream tokenize+count runs once (the minHashDupPairs
    // discipline; released by the caller's scope, else LRU-evicted
    // after the query; level/recompute via Spark's
    // `spark.sql.defaultCacheStorageLevel`, see [[Hydration]])
    val cached = Hydration.persist(vectors)
    val norms = Hydration.persist(cached.groupBy(col("id"))
      .agg(sqrt(sum(col("cnt") * col("cnt")).cast(DoubleType)).as("nrm")))
    val q = cached.filter(queryIds)
      .select(col("id").as("q_id"), col("idx"), col("cnt").as("q_cnt"))
    // the bucket-index equi-join works shuffled too — oversized query
    // sets degrade to a shuffle hash join instead of OOMing the
    // broadcast
    val qJoined =
      if (fitsBroadcast(q, broadcastLimit))
        cached.select(col("id").as("n_id"), col("idx"), col("cnt").as("n_cnt"))
          .join(broadcast(q), Seq("idx"))
      else
        cached.select(col("id").as("n_id"), col("idx"), col("cnt").as("n_cnt"))
          .join(q.hint("shuffle_hash"), Seq("idx"))
    val dots = qJoined
      .filter(col("q_id") =!= col("n_id"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(sum(col("q_cnt") * col("n_cnt")).cast(DoubleType).as("dot"))
    val scored = dots
      .join(norms.select(col("id").as("q_id"), col("nrm").as("q_nrm")), Seq("q_id"))
      .join(norms.select(col("id").as("n_id"), col("nrm").as("n_nrm")), Seq("n_id"))
      .withColumn("score", round(col("dot") / (col("q_nrm") * col("n_nrm")), 4))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("score"))
  }

  /** SemDeDup-style corpus collapse on an embedding column: hyperplane
    * LSH near-dup pairs above `threshold` → connected components →
    * cluster-min survivors. Returns the surviving rows of `vectors`
    * (zero-norm vectors never pair, so they always survive). Same
    * scale shape as [[graft.operators.Dedup.dedupCorpus]]: candidates
    * from a bucket equi-join, never vector × vector. */
  def semanticCollapse(vectors: DataFrame, threshold: Double, dim: Int,
      bits: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxBucket: Int = HotBuckets.DefaultCap,
      strict: Boolean = false): DataFrame = {
    val pairs = lshNearDupPairs(vectors, threshold, dim, bits, idCol, vecCol,
      maxBucket, strict)
    val comps = graft.operators.Dedup.connectedComponents(
      pairs.select(col("id_a"), col("id_b")))
    val drop = comps.filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    vectors.join(drop, Seq(idCol), "left_anti")
  }

  /** [[ivfTopK]] with an explicitly trained codebook — one delegate so
    * the scoring/tie-break contract lives in exactly one place. */
  def ivfTopKTrained(queries: DataFrame, corpus: DataFrame, k: Int,
      dim: Int, centroids: Seq[Seq[Double]], nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfTopK(queries, corpus, k, dim, centroids.size, nProbe, idCol, vecCol,
      Some(centroids))

  // ---- product quantization ------------------------------------------

  /** L2 nearest-centroid index for a subvector: argmin ‖x−c‖² ≡ argmax
    * (2·x·c − ‖c‖²) — the ‖c‖² bias is a driver-side constant, so the
    * whole assignment is `nCent` native dot products + a stable
    * array_sort (ties → lowest cell index, deterministic anywhere). */
  private def l2ArgminCell(sub: Column, centroids: Seq[Seq[Double]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val nsq = c.map(x => x * x).sum
      struct((dot(sub, constVec(c)) * 2 - lit(nsq)).as("score"),
        lit(i).as("cell"))
    }
    element_at(array_sort(array(scored: _*),
      (l, r) => when(l("score") > r("score"), -1)
        .when(l("score") < r("score"), 1).otherwise(0)), 1)("cell")
  }

  /** Unit-normalized (id, raw, vec) projection shared by the PQ paths
    * and [[kmeansCentroids]] — zero-norm / non-finite vectors cannot
    * be normalized and are excluded (one exclusion contract, one
    * place; NaN norms compare LARGER than anything in Spark, so
    * `nrm > 0` alone would let them through). */
  private def unitVectors(vectors: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    vectors.select(col(idCol).as("id"), asDouble(col(vecCol)).as("raw"))
      .withColumn("nrm", norm(col("raw")))
      .filter(col("nrm") > 0 && !isnan(col("nrm")) &&
        col("nrm") < lit(Double.PositiveInfinity))
      .select(col("id"), col("raw"),
        transform(col("raw"), x => x / col("nrm")).as("vec"))

  /** Train PQ sub-codebooks: split the (unit-normalized) vectors into
    * `m` contiguous subspaces of `dim/m` dims and run plain L2 Lloyd's
    * k-means in each — all `m` subspaces trained in the SAME Spark
    * jobs (one assignment projection + one
    * [[graft.functions.VectorDecimalSum]] aggregate per iteration,
    * never m separate passes). Deterministic: seeds are the subvectors
    * of the `nCent` lowest-id vectors, means are exact decimal sums
    * (bit-identical under any partitioning), ties assign to the lowest
    * cell. Driver-side state is the m×nCent×(dim/m) codebook itself —
    * a few KB at any corpus scale.
    *
    * @return codebooks(s)(cell) = centroid of subspace s */
  def pqCodebooks(vectors: DataFrame, dim: Int, m: Int, nCent: Int,
      iters: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): Seq[Seq[Seq[Double]]] = Hydration.scoped {
    require(m >= 1 && dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    require(nCent >= 1, s"nCent must be >= 1, got $nCent")
    require(iters >= 0,
      s"iters must be >= 0 (0 = seed-only codebooks), got $iters")
    val subDim = dim / m
    val v = unitVectors(vectors, idCol, vecCol)
    // DISTINCT-vector seeding — the same duplicated-corpus hazard
    // [[kmeansCentroids]] closed: lowest-id seeds on a pre-dedup
    // corpus can all be the SAME vector, and identical seeds collapse
    // every subspace's Lloyd onto a few live cells. Distinct full
    // vectors don't guarantee distinct SUBvectors (two distinct
    // vectors can share a slice), but they remove the systematic
    // all-seeds-identical degeneracy; a residual subvector tie is
    // data, and empty cells keep their previous centroid as before.
    val seeds = v.groupBy(col("vec")).agg(min(col("id")).as("sid"))
      .orderBy(col("sid")).limit(nCent)
      .select(col("vec")).collect().map(_.getSeq[Double](0).toSeq).toSeq
    require(seeds.size == nCent,
      s"pqCodebooks: need >= $nCent DISTINCT non-zero vectors to seed")
    var books: Seq[Seq[Seq[Double]]] = (0 until m).map(s =>
      seeds.map(_.slice(s * subDim, (s + 1) * subDim)))
    // hydrated: every Lloyd iteration re-references this projection —
    // without the persist each round re-reads, re-normalizes, and
    // m-way re-explodes the full corpus from source
    val subs = Hydration.persist(
      v.select(col("id"), explode(array((0 until m).map(s =>
          struct(lit(s).as("s"),
            slice(col("vec"), s * subDim + 1, subDim).as("subvec"))): _*))
          .as("e"))
        .select(col("e.s").as("s"), col("e.subvec").as("subvec")))
    for (_ <- 1 to iters) {
      val assign = coalesce((0 until m).map(s =>
        when(col("s") === s, l2ArgminCell(col("subvec"), books(s)))): _*)
      val means = subs.withColumn("cell", assign)
        .groupBy(col("s"), col("cell"))
        .agg(graft.functions.VectorAggregates
            .vectorDecimalSum(col("subvec"), subDim).as("sum"),
          count(lit(1)).cast(DoubleType).as("n"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1)),
          (r.getSeq[Double](2), r.getDouble(3))))
        .toMap
      books = books.zipWithIndex.map { case (cents, s) =>
        cents.zipWithIndex.map { case (old, c) =>
          means.get((s, c)) match {
            // plain L2 mean — NOT re-normalized (subvectors of a unit
            // vector are not unit; spherical renorm would bias them)
            case Some((sums, cnt)) => (0 until subDim).map(d => sums(d) / cnt)
            case None => old
          }
        }
      }
    }
    books
  }

  /** PQ code column for a normalized vector: `array<int>` of length m,
    * codes(s) = nearest centroid of subspace s. 8-bit codes compress a
    * 64-dim float vector 32× — the storage/bandwidth lever that makes
    * billion-vector ANN fit a cluster's memory.
    *
    * Codegen form: scores land in a per-row array (ONE evaluation of
    * each dot — `array` + `array_max` + `array_position` are all
    * codegen'd builtins), argmin = first index attaining the max
    * biased score, so ties go to the LOWEST cell exactly like
    * [[l2ArgminCell]]'s stable sort — the two renderings agree on
    * every input ([[pqCodebooks]]' training keeps the sort form: its
    * per-iteration cost is one assignment scan, not a per-corpus-row
    * index build). The sort form measured ~2× this one on the
    * ivf_pq_ann corpus quantization (interpreted lambda comparator +
    * per-row struct allocation). */
  private def pqCodes(vec: Column, books: Seq[Seq[Seq[Double]]],
      subDim: Int): Column =
    array(books.zipWithIndex.map { case (cents, s) =>
      val sub = slice(vec, s * subDim + 1, subDim)
      val scored = array(cents.map { c =>
        val nsq = c.map(x => x * x).sum
        dot(sub, constVec(c)) * 2 - lit(nsq)
      }: _*)
      (array_position(scored, array_max(scored)) - 1).cast("int")
    }: _*)

  /** The ADC score — Σ_s tbl(s)(codes(s)) — as `m` UNROLLED
    * `element_at` terms instead of the `aggregate(zip_with(...))`
    * higher-order fold: element_at is a codegen'd builtin, so the
    * whole candidate scan stays inside WholeStageCodegen with zero
    * per-row array allocation, where the HOF form ran interpreted and
    * dominated the scan (measured on the ivf_pq_ann ScaleBench row:
    * the HOF form was ~2.5× the unrolled one at 16×). Left-to-right
    * addition order matches the old fold exactly (IEEE `0.0 + x ≡ x`
    * up to the sign of -0.0, which no comparison here observes).
    * Shared by [[pqTopK]] and [[ivfPqTopK]] — one rendering of the
    * lookup arithmetic. */
  private def adcScore(codes: Column, tbl: Column, m: Int): Column =
    (0 until m).map(s =>
        element_at(element_at(tbl, s + 1), element_at(codes, s + 1) + 1))
      .reduce(_ + _)

  /** PQ-ADC top-k search: corpus vectors quantized to `m` small codes;
    * each query precomputes an m×nCent table of subspace dot products
    * (asymmetric distance computation) and scores a corpus row with m
    * table LOOKUPS instead of a dim-wide dot product; the best `pool`
    * candidates per query (bounded partial-aggregatable kernel — no
    * window over the corpus) are re-ranked with the EXACT cosine of
    * the raw vectors, so precision of the final top-k comes from the
    * re-rank and the codes only steer candidate generation.
    *
    * At `pool` ≥ corpus size the candidate stage passes everything and
    * the result is EXACTLY brute force ([[bruteForceTopK]]'s contract,
    * same scoring + tie-break) — the oracle gate. At realistic pools
    * the ADC scan reads 8 bytes of codes per corpus row instead of
    * 256+ bytes of floats: the 100 TB story is memory-bandwidth
    * compression, measured in ScaleBench.
    *
    * The ADC tables ride the (broadcast) query rows as literal-free
    * Column expressions — nothing is collected to the driver. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      books: Seq[Seq[Seq[Double]]], pool: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      broadcastLimit: Int = DefaultBroadcastLimit): DataFrame = Hydration.scoped {
    val m = books.size
    require(m >= 1 && dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    require(k >= 1, s"k must be >= 1, got $k")
    require(pool >= k, s"pool=$pool must cover k=$k")
    val subDim = dim / m
    // corpus projection feeds the ADC scan AND the re-rank join
    val c = Hydration.persist(unitVectors(corpus, idCol, vecCol)
      .withColumn("codes", pqCodes(col("vec"), books, subDim))
      .select(col("id").as("n_id"), col("raw").as("n_raw"), col("codes")))
    // the query projection feeds THREE consumers (the broadcast-fit
    // probe, the ADC join, the re-rank join) — persist it like the
    // corpus side or the unitVectors+table plan re-executes per use
    val q = Hydration.persist(unitVectors(queries, idCol, vecCol)
      .withColumn("tbl", array(books.zipWithIndex.map { case (cents, s) =>
        array(cents.map(cent =>
          dot(slice(col("vec"), s * subDim + 1, subDim), constVec(cent))): _*)
      }: _*))
      .select(col("id").as("q_id"), col("raw").as("q_raw"), col("tbl")))
    val qSide =
      if (fitsBroadcast(q, broadcastLimit)) broadcast(q)
      else q.hint("shuffle_replicate_nl")
    val approx = c.select(col("n_id"), col("codes"))
      .join(qSide.select(col("q_id"), col("tbl")),
        col("q_id") =!= col("n_id"))
      .withColumn("adc", adcScore(col("codes"), col("tbl"), m))
    rerankTopK(approx, "adc", c, qSide, k, pool)
  }

  /** IVF-PQ top-k — the faiss-lineage composition of [[ivfTopK]]'s
    * coarse cells and [[pqTopK]]'s code scoring, i.e. the shape a
    * billion-vector deployment actually serves: corpus vectors are
    * assigned to their best cell ONCE and quantized to `m` one-byte
    * codes ONCE (both pure projections — the index build); each query
    * probes only its `nProbe` best cells and scores those cells' rows
    * by ADC table LOOKUP (m element_at's per row instead of a
    * dim-wide dot product); the `pool` best per query are re-ranked
    * with the EXACT raw-vector cosine through the shared
    * [[rerankTopK]] tail. vs [[pqTopK]] (q94) the cell equi-join cuts
    * the scanned row count by ~nCells/nProbe — q94 ADC-scans the
    * whole code table per query; vs [[projectedIvfTopK]] (q148) the
    * per-candidate score is m lookups instead of an outDim-wide dot
    * and the scan reads m bytes of codes per row instead of
    * outDim×8-byte projections — memory bandwidth is the 100 TB
    * bottleneck the codes compress away.
    *
    * Exactness contract (the q65/q94/q148 stance): at `nProbe =
    * nCells` and `pool` ≥ corpus the cell partition passes every row
    * and the candidate stage passes everything — the result is
    * EXACTLY brute force ([[bruteForceTopK]]'s scoring + tie-break),
    * which is what the oracle gates; at realistic dials recall is
    * bought by the (nProbe, pool) dials, measured in ScaleBench.
    * Cells live in the RAW space (`dim`-wide, unit-normalized — train
    * with [[kmeansCentroids]] on the same vectors); spherical argmax
    * assignment with ties to the lowest cell index, deterministic and
    * replayable. Degenerate (zero-norm/NaN) vectors are excluded on
    * both sides ([[unitVectors]]' contract). */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      centroids: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]],
      nProbe: Int, pool: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      broadcastLimit: Int = DefaultBroadcastLimit): DataFrame = Hydration.scoped {
    val m = books.size
    require(m >= 1 && dim % m == 0, s"dim=$dim must split into m=$m subspaces")
    require(k >= 1, s"k must be >= 1, got $k")
    require(pool >= k, s"pool=$pool must cover k=$k")
    val nCells = centroids.size
    require(nCells >= 1, "ivfPqTopK: need at least one centroid")
    require(nProbe >= 1 && nProbe <= nCells,
      s"ivfPqTopK: nProbe=$nProbe must be in [1, nCells=$nCells]")
    // loud geometry contract: the native dot silently truncates to the
    // shorter operand, so a projected-space (narrow) codebook here
    // would produce a plausible prefix assignment with no signal
    require(centroids.forall(_.size == dim),
      s"ivfPqTopK: centroid dims ${centroids.map(_.size).distinct} != " +
        s"dim=$dim — coarse cells live in the RAW (unit-normalized) " +
        "space; train kmeansCentroids on the same vectors")
    val subDim = dim / m
    // corpus index build: unit-normalize once, cell + codes as narrow
    // in-row projections; persisted because it feeds the cell join AND
    // the re-rank hydration join (the pqTopK discipline). The argmax
    // cell is the codegen'd array_max/array_position form (first
    // index attaining the max ≡ the stable sort's lowest-cell tie
    // rule — pqCodes' argument; the interpreted comparator sort cost
    // ~10% of the whole search at 16×)
    val c = Hydration.persist(unitVectors(corpus, idCol, vecCol)
      .withColumn("__cs",
        array(centroids.map(cn => dot(col("vec"), constVec(cn))): _*))
      .withColumn("cell",
        (array_position(col("__cs"), array_max(col("__cs"))) - 1)
          .cast("int"))
      .withColumn("codes", pqCodes(col("vec"), books, subDim))
      .select(col("id").as("n_id"), col("raw").as("n_raw"),
        col("cell"), col("codes")))
    // query side: ADC tables (m×nCent subspace dots) + the sorted cell
    // list, one row each — feeds the broadcast-fit probe, the cell
    // join, and the re-rank join (persisted like pqTopK's query side)
    val q = Hydration.persist(unitVectors(queries, idCol, vecCol)
      .withColumn("tbl", array(books.zipWithIndex.map { case (cents, s) =>
        array(cents.map(cent =>
          dot(slice(col("vec"), s * subDim + 1, subDim), constVec(cent))): _*)
      }: _*))
      .withColumn("__sorted", array_sort(
        array(cellScores(col("vec"), centroids): _*), cellCmp))
      .select(col("id").as("q_id"), col("raw").as("q_raw"),
        col("tbl"), col("__sorted")))
    val qProbes = q
      .withColumn("__probe", explode(slice(col("__sorted"), 1, nProbe)))
      .select(col("q_id"), col("tbl"), col("__probe")("cell").as("cell"))
    val broadcastQ = fitsBroadcast(q, broadcastLimit)
    // the cell equi-join works shuffled too — an oversized query set
    // degrades to a shuffle hash join instead of OOMing the broadcast
    val cellJoined =
      if (broadcastQ)
        c.select(col("n_id"), col("cell"), col("codes"))
          .join(broadcast(qProbes), Seq("cell"))
      else c.select(col("n_id"), col("cell"), col("codes"))
        .join(qProbes.hint("shuffle_hash"), Seq("cell"))
    val approx = cellJoined
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("adc", adcScore(col("codes"), col("tbl"), m))
    val qSide = if (broadcastQ) broadcast(q) else q.hint("shuffle_hash")
    rerankTopK(approx, "adc", c, qSide, k, pool)
  }

  /** Maximal-marginal-relevance diverse selection (Carbonell &
    * Goldstein 1998, see PAPERS.md) — pick k exemplars that are
    * RELEVANT to a query vector but DISSIMILAR to each other: the
    * curation op behind diverse few-shot pools and eval-set seeding,
    * where plain top-k returns k near-duplicates of the best hit.
    *
    * Greedy contract (λ = 0.5, argmax-equivalent form): step 1 takes
    * the max relevance; step i takes
    * `argmax_d (rel₄(d) − max_{s∈S} sim₄(d, s))` over unselected
    * candidates, where rel₄/sim₄ are round-4 cosines (the q24
    * determinism stance) and ties break to the smallest id — fully
    * deterministic, so the whole greedy walk replays in a DuckDB
    * recursive CTE.
    *
    * Scale shape: an EXPLICITLY bounded driver loop of k distributed
    * argmax steps (the PageRank/Lloyd stance — k ≤ 100, loud guard).
    * Each step broadcasts the ≤ k selected vectors and scans the
    * candidate set once (`O(k·N·d)` total work, no candidate-pair
    * blowup); the per-step winner is a TakeOrdered, never a window;
    * relevance is computed ONCE and persisted across steps. Returns
    * `(step, vec_id, score)`; fewer than k candidates ends the walk
    * early with the rows selected so far. */
  def mmrSelect(vectors: DataFrame, queryId: Long, k: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = Hydration.scoped {
    require(k >= 1 && k <= 100,
      s"k=$k outside [1, 100] — the greedy loop is k driver actions")
    val spark = vectors.sparkSession
    import spark.implicits._
    val base = vectors
      .select(col(idCol).cast(LongType).as("id"),
        asDouble(col(vecCol)).as("vec"))
      .filter(col("id").isNotNull && col("vec").isNotNull)
      // finite-norm exclusion: a zero-norm candidate's rel4 is NaN,
      // which sorts FIRST descending — the garbage vector wins step 1
      // and its NaN similarity then poisons EVERY later step's scores
      .withColumn("__nrm", norm(col("vec")))
      .filter(col("__nrm") > 0 && !isnan(col("__nrm")) &&
        col("__nrm") < lit(Double.PositiveInfinity))
      .drop("__nrm")
    val qRows = base.filter(col("id") === queryId).limit(2).collect()
    require(qRows.length == 1,
      s"queryId=$queryId must match exactly one vector (finite, " +
        s"non-zero norm), got ${qRows.length}")
    val qvec = qRows(0).getSeq[Double](1)
    val cand = Hydration.persist(base.filter(col("id") =!= queryId)
      .withColumn("rel4", round(cosine(col("vec"), constVec(qvec)), 4)))
    val picked = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    var continue = true
    while (continue && picked.size < k) {
      val notPicked =
        if (picked.isEmpty) cand
        else cand.filter(!col("id").isin(picked.map(_._1).toSeq: _*))
      val top =
        if (picked.isEmpty)
          notPicked.select(col("id"), col("rel4").as("score"))
            .orderBy(col("score").desc, col("id")).limit(1).collect()
        else {
          val selVecs = cand
            .filter(col("id").isin(picked.map(_._1).toSeq: _*))
            .select(col("id").as("s_id"), col("vec").as("s_vec"))
          notPicked.crossJoin(broadcast(selVecs))
            .groupBy(col("id"), col("rel4"))
            .agg(max(round(cosine(col("vec"), col("s_vec")), 4))
              .as("ms4"))
            .select(col("id"), (col("rel4") - col("ms4")).as("score"))
            .orderBy(col("score").desc, col("id")).limit(1).collect()
        }
      if (top.isEmpty) continue = false
      else picked += ((top(0).getLong(0), top(0).getDouble(1)))
    }
    picked.toSeq.zipWithIndex
      .map { case ((id, sc), i) => (i + 1L, id, sc) }
      .toDF("step", "vec_id", "score")
  }
}
