package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Similarity._

/** Approximate top-k search as ONE index, built once and then searched
  * (REPOSE's route → prune → exact re-rank split, and the incremental
  * top-k stance of reusing one built index across a session's queries —
  * PAPERS.md). Each configuration picks a point on three axes:
  *  - transform: none, or the seeded JL projection to `outDim` dims
  *    ([[Similarity.randomProjection]]'s arithmetic);
  *  - route: none (every corpus row is a candidate), or IVF cells —
  *    hash ([[Similarity.hashCentroids]]) or trained
  *    ([[Similarity.kmeansCentroids]]) centroids, each query probing its
  *    `nProbe` best cells through a cell equi-join;
  *  - approximate score: none (the exact cosine), the round-4 projected
  *    dot product, or PQ-ADC table lookups ([[Similarity.pqCodebooks]]).
  *
  * Build: [[AnnIndex.build]] drops non-finite rows, checks the dim and
  * projects, and pins the result ONCE ([[Hydration.persist]]) as
  * [[features]] `(n_id, n_raw, n_nrm[, n_proj])` — trainers read it
  * instead of re-projecting, and every search reads the pin.
  * [[withCells]] and [[withCodes]] add routing and PQ scoring; the cell
  * and the codes are columns over the pin. A PQ-coded index lives on the
  * unit sphere: its codes and its cells are computed from the
  * unit-normalized vector; otherwise cells route on the projection (an
  * `outDim`-wide codebook) or the raw vector (a `dim`-wide one).
  *
  * Search: route, score approximately, keep each query's `pool` best
  * ([[graft.functions.BoundedMaxByScore]], id-asc ties), re-rank them by
  * the exact round-4 cosine. An index with neither projection nor codes
  * scores exactly already and ranks its candidates directly (a lazy
  * result); the others checkpoint theirs. Ties everywhere go to the
  * lowest cell / id, so every stage replays in the oracle. At
  * `nProbe = nCells` and `pool` ≥ corpus the result is EXACTLY
  * [[Similarity.bruteForceTopK]]'s. */
final class AnnIndex private (val features: DataFrame, dim: Int,
    outDim: Int, idCol: String, vecCol: String,
    centroids: Seq[Seq[Double]], books: Seq[Seq[Seq[Double]]]) {

  private def nCells = centroids.size
  private def exact = outDim == 0 && books.isEmpty

  /** Route through `cs`, one centroid per cell: `dim` wide (raw or,
    * with codes, unit-normalized vectors — full-width routing) or
    * `outDim` wide (projected routing). Any other width fails here, once
    * — a mismatched codebook would silently prefix-truncate in the dot
    * product. */
  def withCells(cs: Seq[Seq[Double]]): AnnIndex = {
    val widths = cs.map(_.size).distinct
    require(cs.nonEmpty && widths.size == 1 &&
      (widths.head == dim || (outDim > 0 && widths.head == outDim)),
      s"AnnIndex: ${cs.size} centroids of widths $widths must share " +
        s"dim=$dim (RAW space, full-width routing)" +
        (if (outDim > 0) s" or outDim=$outDim (projected routing)" else "") +
        " — train on the matching vectors")
    new AnnIndex(features, dim, outDim, idCol, vecCol, cs, books)
  }

  /** Score candidates by PQ-ADC over `bs` (bs(s)(cell) = centroid of
    * subspace s, [[Similarity.pqCodebooks]]' output). */
  def withCodes(bs: Seq[Seq[Seq[Double]]]): AnnIndex = {
    require(bs.nonEmpty && dim % bs.size == 0 &&
      bs.forall(_.forall(_.size == dim / bs.size)),
      s"AnnIndex: dim=$dim must split into m=${bs.size} subspaces of " +
        "the codebooks' width")
    new AnnIndex(features, dim, outDim, idCol, vecCol, centroids, bs)
  }

  /** The vector `p`'s side routes with: see the class header. */
  private def route(p: String): Column =
    if (outDim > 0 && centroids.head.size == outDim) col(s"${p}_proj")
    else if (books.nonEmpty) col(s"${p}_unit")
    else col(s"${p}_raw")

  /** The cells by `vec`'s dot product with their centroid, as
    * `struct(score, cell)` sorted (score desc, cell asc): equal scores
    * compare 0 and `array_sort` is stable, so ties go to the lowest
    * cell — [[Similarity.bestCell]]'s rule. */
  private def probeOrder(vec: Column): Column =
    array_sort(array(centroids.zipWithIndex.map { case (c, i) =>
        struct(dot(vec, constVec(c)).as("score"), lit(i).as("cell"))
      }: _*),
      (l, r) => when(l("score") > r("score"), -1)
        .when(l("score") < r("score"), 1).otherwise(0))

  /** `p`'s features plus what routing and scoring read: the unit vector
    * (PQ), the corpus cell and codes, the query's ADC table. */
  private def prepare(df: DataFrame, p: String): DataFrame = {
    val unit = if (books.isEmpty) df else df.withColumn(s"${p}_unit",
      transform(col(s"${p}_raw"), x => x / col(s"${p}_nrm")))
    val subDim = if (books.isEmpty) 0 else dim / books.size
    if (p == "q") {
      if (books.isEmpty) unit
      else unit.withColumn("tbl", adcTables(col("q_unit"), books, subDim))
    } else {
      val celled = if (centroids.isEmpty) unit else unit.withColumn("cell",
        bestCell(centroids.map(c => dot(route("n"), constVec(c)))))
      if (books.isEmpty) celled
      else celled.withColumn("codes", pqCodes(col("n_unit"), books, subDim))
    }
  }

  /** Top-`k` neighbors `(q_id, rank, n_id, score)` of each finite
    * query row (same id/vector columns and dim as the corpus; a query
    * never neighbors itself). `nProbe` cells per query (all by
    * default); `pool` approximate candidates per query re-ranked
    * exactly (at least `k`; an exact index has no pool). The query
    * side is broadcast (per probe) up to `broadcastLimit` rows, above
    * it the joins fall back to a shuffle-replicated nested loop (no
    * cells) or shuffle hash joins. */
  def search(queries: DataFrame, k: Int, nProbe: Int = nCells,
      pool: Int = 0, broadcastLimit: Int = DefaultBroadcastLimit): DataFrame =
    Hydration.scoped {
      require(k >= 1, s"k must be >= 1, got $k")
      require(exact || pool >= k, s"pool=$pool must cover k=$k")
      require(centroids.isEmpty || (nProbe >= 1 && nProbe <= nCells),
        s"AnnIndex: nProbe=$nProbe must be in [1, nCells=$nCells]")
      val prepared = prepare(AnnIndex.featuresOf(queries, "q", dim, outDim,
        idCol, vecCol), "q")
      val q = if (exact) prepared else Hydration.persist(prepared)
      val c = prepare(features, "n")
      val (cand, shuffled) =
        if (centroids.isEmpty) {
          val bq = fitsBroadcast(q, broadcastLimit)
          (c.join(if (bq) broadcast(q) else q.hint("shuffle_replicate_nl"),
            col("q_id") =!= col("n_id")), !bq)
        } else {
          val probes = q.withColumn("cell",
            explode(slice(probeOrder(route("q")), 1, nProbe)("cell")))
          val bq = fitsBroadcast(probes, broadcastLimit)
          (c.join(if (bq) broadcast(probes) else probes.hint("shuffle_hash"),
            Seq("cell")).filter(col("q_id") =!= col("n_id")), !bq)
        }
      // the cosine, with both norms read from the features
      val exactScore = round(dot(col("q_raw"), col("n_raw")) /
        (col("q_nrm") * col("n_nrm")), 4)
      if (exact) rankTop(cand.withColumn("score", exactScore), k)
      else {
        val approx =
          if (books.nonEmpty) adcScore(col("codes"), col("tbl"), books.size)
          else round(dot(col("q_proj"), col("n_proj")), 4)
        val qSide = q.select(col("q_id"), col("q_raw"), col("q_nrm"))
        // scored in a projection, not inside the aggregate: the
        // object aggregate evaluates its inputs without codegen
        val pooled = cand.withColumn("ascore", approx).groupBy(col("q_id"))
          .agg(graft.functions.BoundedMaxByScore
            .boundedMaxByScore(col("ascore"), col("n_id"), pool).as("__ids"))
          .select(col("q_id"), explode(col("__ids")).as("n_id"))
          .join(c.select(col("n_id"), col("n_raw"), col("n_nrm")), Seq("n_id"))
          .join(if (shuffled) qSide.hint("shuffle_hash") else broadcast(qSide),
            Seq("q_id"))
        rankTop(pooled.withColumn("score", exactScore), k).localCheckpoint()
      }
    }
}

object AnnIndex {

  /** Build the index's pinned features over `corpus`: finite rows of
    * declared `dim`, JL-projected to `outDim` dims unless `outDim` is 0
    * (no projection). */
  def build(corpus: DataFrame, dim: Int, outDim: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): AnnIndex = {
    require(dim >= 1, s"AnnIndex: dim=$dim must be >= 1")
    require(outDim >= 0 && outDim <= dim,
      s"AnnIndex: outDim=$outDim must be in [1, dim=$dim] (0 = no " +
        "projection) — projecting UP is not reduction")
    new AnnIndex(Hydration.persist(featuresOf(corpus, "n", dim, outDim,
      idCol, vecCol)), dim, outDim, idCol, vecCol, Nil, Nil)
  }

  /** `(p_id, p_raw, p_nrm[, p_proj])` of `df`'s finite rows; a vector
    * of another dim raises. */
  private def featuresOf(df: DataFrame, p: String, dim: Int, outDim: Int,
      idCol: String, vecCol: String): DataFrame = {
    val v = assertDim(df.select(col(idCol).as(s"${p}_id"),
        asDouble(col(vecCol)).as(s"${p}_raw"))
      .withColumn(s"${p}_nrm", norm(col(s"${p}_raw")))
      .filter(finiteNorm(col(s"${p}_nrm"))), s"${p}_raw", dim, "AnnIndex")
    if (outDim == 0) v
    else v.withColumn(s"${p}_proj", projArray(col(s"${p}_raw"), dim, outDim))
  }
}
