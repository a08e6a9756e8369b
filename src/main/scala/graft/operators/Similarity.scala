package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two top-k searches: [[bruteForceTopK]], the exact reference
  * (broadcast queries, O(|Q|·|C|·d), the right plan when |Q| is small),
  * and [[AnnIndex]], every approximate configuration as one index that
  * is built once and then searched (JL projection, IVF cells, PQ codes,
  * exact re-rank). Both rank through one tail ([[rankTop]]:
  * `(score desc, n_id asc)`, round-4 scores).
  *
  * Around them: the index's building blocks and trainers — seeded
  * Johnson–Lindenstrauss [[randomProjection]], hash or k-means
  * ([[kmeansCentroids]]) cells, PQ codebooks ([[pqCodebooks]]) — plus
  * hyperplane-LSH near-duplicate pairs and [[semanticCollapse]],
  * sparse TF cosine ([[sparseCosineTopK]]) and MMR diverse selection.
  *
  * Every seeded constant (hyperplanes, projection directions, hash
  * centroids) is a driver-side double literal, so an oracle replays the
  * arithmetic in another engine. All math is pure `Column` expressions
  * in double precision with a deterministic left-to-right fold — no
  * UDF, no collect of data, bit-stable results across partitionings.
  * One exclusion contract: zero-norm / non-finite vectors never score
  * (NaN compares LARGER than every real score in Spark), and a vector
  * of the wrong dim raises instead of silently prefix-truncating in the
  * native dot product.
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
  private[operators] def fitsBroadcast(df: DataFrame, limitRows: Int): Boolean =
    limitRows > 0 && df.limit(limitRows + 1).count() <= limitRows

  /** The one rank tail of every top-k search here: per query, order by
    * (score desc, neighbor id asc) — deterministic — and keep the `k`
    * best as `(q_id, rank, n_id, score)`. */
  private[operators] def rankTop(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), col("score"))
  }

  /** Brute-force exact top-k cosine neighbors for each query vector.
    * `queries` is expected small — it is broadcast, so the corpus is
    * scanned once with no shuffle until the per-query top-k window.
    * If the query side exceeds `broadcastLimit` rows the join falls
    * back to a shuffle-replicated nested loop (memory-safe; the
    * O(|Q|·|C|) compute is inherent to brute force — a huge query set
    * should use an [[AnnIndex]] with cells). Tie-break: (rounded score
    * desc, neighbor id asc) — deterministic. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      broadcastLimit: Int = DefaultBroadcastLimit): DataFrame = {
    // finite-norm exclusion on BOTH sides: a zero-norm or NaN vector
    // scores cosine = NaN, and NaN compares LARGER than every real
    // score in Spark — one degenerate corpus vector would otherwise
    // become the rank-1 neighbor of EVERY query
    val q = finiteRows(queries, idCol, vecCol, "q_id", "q_vec")
    val c = finiteRows(corpus, idCol, vecCol, "n_id", "n_vec")
    val joined =
      if (fitsBroadcast(q, broadcastLimit)) c.join(broadcast(q), col("q_id") =!= col("n_id"))
      else c.join(q.hint("shuffle_replicate_nl"), col("q_id") =!= col("n_id"))
    rankTop(joined
      .withColumn("score", round(cosine(col("q_vec"), col("n_vec")), 4)), k)
  }

  /** Deterministic pseudo-random unit-range constant derived from a
    * seed — computed driver-side so the hyperplanes are plain literal
    * arrays, not 6×64-node expression trees (which dominated codegen
    * time at small scale and bloat the plan at any scale). */
  private def hashU(seed: Long): Double =
    org.apache.spark.sql.catalyst.expressions.XXH64
      .hashLong(seed, 42L).toDouble / Long.MaxValue.toDouble

  private[operators] def constVec(values: Seq[Double]): Column =
    typedLit(values)

  /** A norm that can normalize: positive and finite. A bare `nrm > 0`
    * is not enough — a NaN norm compares LARGER than 0 in Spark. */
  private[operators] def finiteNorm(nrm: Column): Column =
    nrm > 0 && !isnan(nrm) && nrm < lit(Double.PositiveInfinity)

  /** Raw (un-normalized) projection with the [[unitVectors]] exclusion
    * contract: zero-norm / non-finite vectors drop — every raw-cosine
    * scorer needs this, or NaN scores ride Spark's NaN-is-largest
    * ordering to rank 1. */
  private[operators] def finiteRows(df: DataFrame, idCol: String,
      vecCol: String, idAs: String, vecAs: String): DataFrame =
    df.select(col(idCol).as(idAs), asDouble(col(vecCol)).as(vecAs))
      .withColumn("__nrm", norm(col(vecAs)))
      .filter(finiteNorm(col("__nrm")))
      .drop("__nrm")

  /** Loud dim contract shared by every dim-taking entry point: the
    * native dot silently truncates to the SHORTER operand, so a
    * wrong-dim vector would otherwise produce a plausible prefix
    * projection/bucketing with no signal. */
  private[operators] def assertDim(df: DataFrame, vecCol: String,
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
    * Loud dim contract ([[assertDim]]). NULL ids/vectors are excluded
    * (nothing to project). Output: `(vec_id, proj)` with `proj` the
    * round-4 double array. */
  def randomProjection(vectors: DataFrame, dim: Int, outDim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dim >= 1, s"randomProjection: dim=$dim must be >= 1")
    require(outDim >= 1 && outDim <= dim,
      s"randomProjection: outDim=$outDim must be in [1, dim=$dim] — " +
        "projecting UP is not reduction")
    assertDim(vectors.filter(col(idCol).isNotNull && col(vecCol).isNotNull),
        vecCol, dim, "randomProjection")
      .select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("__vec"))
      .select(col("vec_id"), projArray(col("__vec"), dim, outDim).as("proj"))
  }

  /** The round-4 projected array of `vec` — shared by
    * [[randomProjection]] and [[AnnIndex]] so the two can never
    * disagree on the projection arithmetic. */
  private[operators] def projArray(vec: Column, dim: Int, outDim: Int): Column = {
    val scale = projectionScale(outDim)
    array(projectionValues(dim, outDim).map { p =>
      round(dot(vec, constVec(p)) * lit(scale), 4)
    }: _*)
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

  /** Default (untrained) codebook: deterministic pseudo-random
    * centroids derived from hashes — the stand-in when no training
    * pass has run. */
  def hashCentroids(dim: Int, nCells: Int): Seq[Seq[Double]] =
    (0 until nCells).map(cIdx => (0 until dim).map(d => hashU(cIdx * 131071L + d)))

  /** The one "best cell" rendering: the 0-based index of the first
    * maximal score, so ties go to the LOWEST cell (DuckDB's
    * list_position-of-max has the same rule). Codegen'd builtins that
    * evaluate each score once — the comparator-sort form of an argmax
    * measured ~2× slower (interpreted comparator, per-row structs).
    * Non-nullable (-1 only for a null vector): a join on a nullable
    * cell makes the optimizer infer an `isnotnull(cell)` filter below
    * the projection, which scores every centroid a second time. */
  private[operators] def bestCell(scores: Seq[Column]): Column = {
    val arr = array(scores: _*)
    coalesce((array_position(arr, array_max(arr)) - 1).cast("int"), lit(-1))
  }

  /** IVF cell assignment: each finite vector to its best (max dot
    * product) of `nCells` centroids — a trained codebook if given, the
    * [[hashCentroids]] stand-in otherwise. Returns (id, vec, cell). */
  def ivfAssign(vectors: DataFrame, dim: Int, nCells: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroids: Option[Seq[Seq[Double]]] = None): DataFrame =
    assertDim(finiteRows(vectors, idCol, vecCol, "id", "vec"),
        "vec", dim, "ivfAssign")
      .withColumn("cell", bestCell(centroids.getOrElse(hashCentroids(dim, nCells))
        .map(c => dot(col("vec"), constVec(c)))))

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
    * 1024-dim embeddings; train in a projected space (an
    * [[AnnIndex]]'s projected `features` → this, q148's composition)
    * when dim is large. Deterministic: seeds are
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
      val assigned = v.withColumn("cell",
        bestCell(centroids.map(c => dot(col("vec"), constVec(c)))))
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
    val n = cached.select(col("id").as("n_id"), col("idx"), col("cnt").as("n_cnt"))
    val qJoined =
      if (fitsBroadcast(q, broadcastLimit)) n.join(broadcast(q), Seq("idx"))
      else n.join(q.hint("shuffle_hash"), Seq("idx"))
    val dots = qJoined
      .filter(col("q_id") =!= col("n_id"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(sum(col("q_cnt") * col("n_cnt")).cast(DoubleType).as("dot"))
    rankTop(dots
      .join(norms.select(col("id").as("q_id"), col("nrm").as("q_nrm")), Seq("q_id"))
      .join(norms.select(col("id").as("n_id"), col("nrm").as("n_nrm")), Seq("n_id"))
      .withColumn("score", round(col("dot") / (col("q_nrm") * col("n_nrm")), 4)), k)
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

  // ---- product quantization ------------------------------------------

  /** Unit-normalized (id, raw, vec) projection shared by the PQ
    * trainer, [[kmeansCentroids]] and the LSH pairs — zero-norm /
    * non-finite vectors cannot be normalized and are excluded
    * ([[finiteNorm]]). */
  private def unitVectors(vectors: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    vectors.select(col(idCol).as("id"), asDouble(col(vecCol)).as("raw"))
      .withColumn("nrm", norm(col("raw")))
      .filter(finiteNorm(col("nrm")))
      .select(col("id"), col("raw"),
        transform(col("raw"), x => x / col("nrm")).as("vec"))

  /** L2 nearest-centroid index of a subvector: argmin ‖x−c‖² ≡ argmax
    * (2·x·c − ‖c‖²) — the ‖c‖² bias is a driver-side constant, so the
    * whole assignment is `nCent` native dot products + [[bestCell]]
    * (ties → lowest cell index, deterministic anywhere). */
  private def l2Cell(sub: Column, centroids: Seq[Seq[Double]]): Column =
    bestCell(centroids.map { c =>
      dot(sub, constVec(c)) * 2 - lit(c.map(x => x * x).sum)
    })

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
        when(col("s") === s, l2Cell(col("subvec"), books(s)))): _*)
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
    * codes(s) = nearest centroid of subspace s ([[l2Cell]], the same
    * assignment [[pqCodebooks]] trains with). 8-bit codes compress a
    * 64-dim float vector 32× — the storage/bandwidth lever that makes
    * billion-vector ANN fit a cluster's memory. */
  private[operators] def pqCodes(vec: Column, books: Seq[Seq[Seq[Double]]],
      subDim: Int): Column =
    array(books.zipWithIndex.map { case (cents, s) =>
      l2Cell(slice(vec, s * subDim + 1, subDim), cents)
    }: _*)

  /** A query's asymmetric-distance table: tbl(s)(c) = the dot product
    * of `vec`'s subvector s with centroid c of subspace s. */
  private[operators] def adcTables(vec: Column, books: Seq[Seq[Seq[Double]]],
      subDim: Int): Column =
    array(books.zipWithIndex.map { case (cents, s) =>
      array(cents.map(cent =>
        dot(slice(vec, s * subDim + 1, subDim), constVec(cent))): _*)
    }: _*)

  /** The ADC score — Σ_s tbl(s)(codes(s)) — as `m` UNROLLED
    * `element_at` terms instead of the `aggregate(zip_with(...))`
    * higher-order fold: element_at is a codegen'd builtin, so the
    * whole candidate scan stays inside WholeStageCodegen with zero
    * per-row array allocation, where the HOF form ran interpreted and
    * dominated the scan (measured on the ivf_pq_ann ScaleBench row:
    * the HOF form was ~2.5× the unrolled one at 16×). Left-to-right
    * addition order matches the old fold exactly (IEEE `0.0 + x ≡ x`
    * up to the sign of -0.0, which no comparison here observes). */
  private[operators] def adcScore(codes: Column, tbl: Column, m: Int): Column =
    (0 until m).map(s =>
        element_at(element_at(tbl, s + 1), element_at(codes, s + 1) + 1))
      .reduce(_ + _)

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
    // finite-norm exclusion: a zero-norm candidate's rel4 is NaN,
    // which sorts FIRST descending — the garbage vector wins step 1
    // and its NaN similarity then poisons EVERY later step's scores
    val base = finiteRows(vectors.filter(col(idCol).isNotNull)
      .withColumn(idCol, col(idCol).cast(LongType)), idCol, vecCol, "id", "vec")
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
