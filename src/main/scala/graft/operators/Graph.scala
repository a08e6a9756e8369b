package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics beyond connected components
  * ([[Dedup.connectedComponents]] covers label propagation; this adds
  * mass propagation — PageRank-style node importance).
  *
  * The reference has no graph surface at all; its closest intent is
  * the "correlation analysis" the README aspires to
  * (`/root/reference/README.md:17,27`). A training-data curation
  * pipeline meets the same shape when scoring domains/hosts by link
  * authority before sampling (a web-crawl corpus ships a link graph;
  * rank-weighted sampling is a standard quality lever).
  *
  * INTEGER-EXACT CONTRACT: textbook PageRank iterates
  * `r' = (1-d)/N + d·Σ r/deg` in floating point — and float sums are
  * order-dependent, so results drift across engines/partitionings and
  * a hash-exact oracle is impossible. This operator carries rank as
  * integer "mass units" (`scale` total mass) and every step is floor
  * (`div`) arithmetic: contributions `rank div out_deg`, damping
  * `(dampNum · Σcontrib) div 100`. Any engine with 64-bit integers
  * reproduces every iteration bit-for-bit, in any partitioning and
  * any aggregation order. Floor division leaks a little mass per
  * iteration (≤ out_deg−1 units per node from the contribution floor,
  * ≤ 99/100 units per node from the damping floor) — the documented,
  * deterministic divergence from real-valued PageRank; at the default
  * `scale` = 10¹² the relative error is ~deg/10¹² per node.
  *
  * Scale shape (100 TB): per iteration ONE join of the degree-annotated
  * edge table with the current ranks on `src` and ONE aggregation by
  * `dst` — both shuffles are on graph keys Spark can hash-partition
  * and AQE can skew-split; rank state is O(nodes) and distributed.
  * The edge table is degree-annotated ONCE up front and hydrated
  * ([[Hydration.persist]], released when the call exits), not
  * recomputed per iteration; each iteration's ranks are
  * `localCheckpoint`ed so lineage stays O(1) deep (the same
  * discipline as the distributed connected-components loop). Dangling
  * nodes (no out-edges) contribute nothing — their mass evaporates
  * rather than teleporting, the documented variant
  * (uniform redistribution would need an extra global aggregate per
  * iteration; callers who need it can add a sink node).
  */
object Graph {

  /** Fixed-iteration integer PageRank over a directed edge list.
    *
    * @param edges frame with long-castable `src`, `dst` columns
    * @param iters fixed iteration count (deterministic by design —
    *              no convergence test, so every engine runs the same
    *              number of steps)
    * @param scale total rank mass in integer units; per-node precision
    *              is `scale / n` so raise it for huge graphs
    * @param dampNum damping numerator out of 100 (85 = classic 0.85)
    * @param dedupEdges collapse parallel edges first (one extra
    *                   shuffle); pass false when the caller's edge list
    *                   is already distinct — parallel edges otherwise
    *                   multiply a neighbor's contribution
    * @return (node, rank) — every node that appears as a src or dst
    */
  def pageRankInt(edges: DataFrame, iters: Int,
      scale: Long = 1000000000000L, dampNum: Long = 85L,
      dedupEdges: Boolean = true): DataFrame = Hydration.scoped {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampNum >= 0L && dampNum <= 100L,
      s"dampNum is a percentage, got $dampNum")
    require(scale > 0L && scale <= Long.MaxValue / 100L,
      s"scale=$scale outside the overflow-safe envelope")
    val e0 = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    // the edge list feeds node derivation, degree counting, AND every
    // iteration's contribution join — hydrate it or the (possibly
    // join-heavy) upstream derivation re-runs 3+iters times
    val e = Hydration.persist(if (dedupEdges) e0.distinct() else e0)
    val nodes = Hydration.persist(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .distinct())
    // one tiny driver action for the two integer constants every
    // iteration embeds as literals (1 row)
    val n = nodes.count()
    require(n > 0, "pageRankInt: empty graph")
    val init = scale / n
    require(init >= 100L,
      s"pageRankInt: scale=$scale over n=$n nodes leaves < 100 mass " +
        "units per node — raise scale or the ranks are all floor noise")
    val base = (100L - dampNum) * init / 100L
    // degree-annotated edges, built once and hydrated: the loop below
    // references this table `iters` times
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("out_deg"))
    // measured: pre-partitioning this cache on src (so the iteration
    // join could reuse the layout) LOST 0.7 s at sf0.1 — AQE
    // broadcasts the small materialized rank table into the cached
    // edge scan, so the edges never re-exchange anyway. The broadcast
    // ceiling is MEASURED, not hypothetical (ScaleBench guards,
    // pagerank_rank_join rows): a 200k-node rank table broadcasts
    // (4.3 s / 3 iters on a chain graph); at 3M nodes AQE falls back
    // to sort-merge and 15× the graph costs 1.7× (7.4 s) — the
    // shuffle fallback is the graceful path, so no repartition(src)
    // pre-layout is warranted until a profile shows the per-iteration
    // exchange dominating
    val eDeg = Hydration.persist(e.join(outDeg, "src"))
    // Nodes with NO in-edges receive zero contribution in EVERY
    // iteration — their rank is the constant `base`. Computing that
    // set ONCE (one distinct + one anti-join) and UNIONing it onto
    // each iteration's contribution readout replaces the previous
    // per-iteration `nodes LEFT JOIN contrib` (a node-scale join ×
    // iters; r20 optimization — union is exchange-free, so each
    // iteration is now contribution join + aggregate only). On
    // symmetrized graphs (q92's) the set is EMPTY and the join is
    // saved outright. Row set per iteration is identical: contrib
    // covers exactly the nodes with ≥ 1 in-edge (every src carries a
    // rank), the complement gets base + damp·0 — the same arithmetic
    // the coalesce(contrib, 0) branch produced.
    val noInbound = Hydration.persist(
      nodes.join(e.select(col("dst").as("node")).distinct(),
          Seq("node"), "left_anti")
        .withColumn("rank", lit(base)))
    var ranks = nodes.withColumn("rank", lit(init))
    for (_ <- 1 to iters) {
      val contrib = eDeg
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          expr("rank div out_deg").as("c"))
        .groupBy("node").agg(sum(col("c")).as("contrib"))
      ranks = contrib
        .select(col("node"),
          (lit(base) + expr(s"($dampNum * contrib) div 100"))
            .as("rank"))
        .unionByName(noInbound)
      // checkpoint EVERY round: lineage stays depth-1 and each
      // iteration's small materialized rank table gives AQE real stats
      // for the next contribution join. Measured head-to-head at sf0.1
      // (1M-edge graph, 5 rounds): every-round 5.1 s vs every-3rd
      // 7.4 s — the lazy chained rounds lose more to stat-less join
      // planning than they save in materialization barriers.
      ranks = ranks.localCheckpoint()
    }
    ranks
  }

  /** Exact per-node triangle counts over an undirected graph — the
    * standard local-clustering / community-density statistic (and the
    * classic "does your join strategy survive skew" graph benchmark).
    *
    * Algorithm: degree-ordered edge orientation (Cohen's map-reduce
    * triangle counting / the compact-forward algorithm). Each
    * undirected edge is directed from its lower-ranked endpoint to
    * its higher-ranked one under the TOTAL order (degree, id); every
    * triangle then has exactly one "pivot" node with two outgoing
    * oriented edges, is generated exactly once as a wedge join on the
    * pivot, and is confirmed by one equi-join against the oriented
    * edge list. The orientation is the skew guard: out-degree under
    * degree ordering is O(√m) for ANY graph (a star's hub ranks
    * highest, so the hub gets NO outgoing edges — its million
    * spokes produce zero wedges), which bounds the wedge table by
    * Σ out_deg² = O(m^1.5) worst-case and far less on real graphs.
    * All joins are equi-joins on node ids (hash-partitionable, AQE
    * skew-splittable); nothing touches the driver.
    *
    * Determinism: counts are exact integers over a canonicalized
    * (dedup'd, self-loop-free, undirected) edge set, so any engine
    * replays them exactly.
    *
    * Output: (node, triangles) for every node in ≥1 triangle,
    * triangle count attributed to all three corners. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // Deliberately NOT hydration-pinned (r20, measured): the canonical
    // edge set and the oriented list look like multi-consumer pin
    // candidates, but caching them was a PESSIMIZATION — isolated
    // 5-pass floors at sf0.1/32 cpus: no pins 2.7 s, both pinned
    // 5.0 s, und-only pinned 15 s. AQE's exchange reuse already
    // collapses the duplicate subtrees here, and InMemoryRelation's
    // accurate (decompressed) size stats push the degree/annotation
    // joins off the broadcast path the raw-plan estimates get. The
    // caching contract's second clause ("no exchange-level reuse can
    // deliver the same") is load-bearing.
    val und = edges
      .select(least(col("src"), col("dst")).cast("long").as("u"),
        greatest(col("src"), col("dst")).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
      .distinct()
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // orient each edge toward the higher (deg, id) endpoint; carry the
    // destination's rank so the wedge join can order its two legs
    // without re-joining degrees
    val annotated = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
    val fwd = annotated.filter(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")))
      .select(col("u").as("src"), col("v").as("dst"),
        col("dv").as("ddeg"))
    val bwd = annotated.filter(col("dv") < col("du") ||
        (col("dv") === col("du") && col("v") < col("u")))
      .select(col("v").as("src"), col("u").as("dst"),
        col("du").as("ddeg"))
    val oriented = fwd.union(bwd)
    // wedges from each pivot: unordered pairs of out-neighbors,
    // ordered by the same (deg, id) rank so the closing edge — also
    // oriented low→high — matches by plain equality
    val e1 = oriented.select(col("src").as("p"), col("dst").as("x"),
      col("ddeg").as("dx"))
    val e2 = oriented.select(col("src").as("p"), col("dst").as("y"),
      col("ddeg").as("dy"))
    val wedges = e1.join(e2, Seq("p"))
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
    val closing = oriented.select(col("src").as("x"), col("dst").as("y"))
    val triangles = wedges.join(closing, Seq("x", "y"))
      .select(col("p"), col("x"), col("y"))
    triangles.select(col("p").as("node"))
      .union(triangles.select(col("x").as("node")))
      .union(triangles.select(col("y").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
  }
}
