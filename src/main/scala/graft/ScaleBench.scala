package graft

import graft.Harness.time
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-linearity harness: amplifies the sf0.1 tables in place
  * (deterministic copies with perturbed identity) and measures the
  * heavy pipelines at 1× and N×. The point is the RATIO: a pipeline
  * whose runtime grows ~linearly in rows here has no hidden quadratic
  * candidate blowup or single-task stage, which is the property that
  * matters at 100 TB. Results print as one JSON line per pipeline:
  *   {"pipeline":<row name>,"x1_sec":…,"xN_sec":…,"factor":N,
  *    "ratio":xN/x1}
  *
  * Amplified copies perturb each duplicate's text with a unique suffix
  * so they are NEAR-duplicates (jaccard ≈ shingles/(shingles+2)) —
  * the dedup pipelines face a denser candidate graph than the base
  * corpus, i.e. the amplified run is a strictly harder instance, not
  * just more rows.
  *
  * Usage: runMain graft.ScaleBench [factor] [sections] [names]
  *   factor   amplification N (default 4)
  *   sections comma-separated `pipelines` (1× vs N× ratios) and/or
  *            `guards` (planted degenerate-input bound checks); default
  *            both — iterate on one without paying the other
  *   names    comma-separated row names within those sections; default
  *            every row. An unknown name, or one outside the selected
  *            sections, fails before any table is written.
  */
object ScaleBench {

  private val Sections = Seq("pipelines", "guards")

  /** One bench row: selected by `name`, grouped by `section`; `body`
    * runs it and prints its JSON line(s), given the row's name. */
  final case class Row(name: String, section: String, body: String => Unit)

  /** The rows a `[sections] [names]` argument pair selects, in table
    * order. Fails on an unknown section and on a name that no row of
    * the selected sections carries — a typo would silently bench
    * nothing. */
  def select(rows: Seq[Row], sections: Option[String],
      names: Option[String]): Seq[Row] = {
    val secs = sections.fold(Sections.toSet)(_.split(',').toSet)
    require(secs.nonEmpty && secs.subsetOf(Sections.toSet),
      s"unknown section(s) ${secs -- Sections}: valid are " +
        Sections.mkString(", "))
    val inSections = rows.filter(r => secs(r.section))
    val wanted = names.map(_.split(',').toSet)
    wanted.foreach { w =>
      val unknown = w -- inSections.map(_.name)
      require(unknown.isEmpty,
        s"unknown name(s) ${unknown.mkString(", ")} in section(s) " +
          s"${secs.mkString(", ")}: valid are " +
          inSections.map(_.name).mkString(", "))
    }
    inSections.filter(r => wanted.forall(_(r.name)))
  }

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = args.headOption.map(_.toInt).getOrElse(4)
    val spark = Harness.session()
    select(new Rows(spark, sf, factor).rows, args.lift(1), args.lift(2))
      .foreach(r => r.body(r.name))
    spark.stop()
  }

  /** The row table over one session. Every table is written under
    * `target/scale` on first use, so building the table runs no Spark
    * job and a name-filtered run pays only for the tables its rows
    * read (the amplified writes dominate setup). */
  final class Rows(spark: SparkSession, sf: String, factor: Int) {
    import spark.implicits._
    private val scratch = "target/scale"

    // ---- tables, materialized to parquet so both sides read from
    // disk with the same access path. The read-back is counted once
    // here (file index + scan path warm-up), outside any timed region.
    private def materialize(name: String)(df: => DataFrame): DataFrame = {
      df.write.mode("overwrite").parquet(s"$scratch/$name")
      val out = spark.read.parquet(s"$scratch/$name")
      out.count()
      out
    }
    // `factor` copies of every row, tagged 0..factor-1 in `copy`
    private def copies(df: DataFrame): DataFrame =
      df.withColumn("copy", explode(sequence(lit(0), lit(factor - 1))))

    // 1× baselines are re-materialized with the SAME writer/layout as
    // the amplified copies, so the comparison isolates data volume,
    // not file layout
    private lazy val docs = Tables.documents(spark, sf)
    private lazy val docs1 = materialize("documents_x1")(docs)
    private lazy val docsN = materialize("documents")(copies(docs).select(
      ($"doc_id" * factor + $"copy").as("doc_id"),
      when($"copy" === 0, $"text")
        .otherwise(concat($"text", lit(" uniqcopy"), $"copy")).as("text"),
      $"lang", $"source", $"n_chars"))
    private lazy val events = Tables.events(spark, sf)
    private lazy val events1 = materialize("events_x1")(events)
    private lazy val eventsN = materialize("events")(copies(events).select(
      ($"event_id" * factor + $"copy").as("event_id"),
      $"ts_ns", $"ts",
      ($"user_id" + $"copy" * 10000L).as("user_id"),
      $"event_type", $"value", $"props"))
    private lazy val li = Tables.lineitem(spark, sf)
    private lazy val li1 = materialize("lineitem_x1")(li)
    private lazy val liN = materialize("lineitem")(copies(li).drop("copy"))

    // synthetic edge lists ABOVE the 1M-edge driver-union-find cutoff,
    // so both runs exercise the distributed alternating-star loop (the
    // path no natural sf0.1 corpus reaches): chains of 64 nodes / 63
    // edges → diameter 63, the topology min-label propagation needed
    // ~63 shuffle rounds for; large/small-star collapses it in O(log n)
    // rounds. Integer `div` keeps the ids exact (plain `/` is double
    // division — it used to write fractional ids, quietly turning the
    // chains into a different graph).
    private def edgeFrame(nEdges: Long): DataFrame =
      spark.range(nEdges).select(
        (expr("id div 63") * 64 + pmod($"id", lit(63))).as("id_a"),
        (expr("id div 63") * 64 + pmod($"id", lit(63)) + 1).as("id_b"))
    private lazy val edges1 = materialize("edges_x1")(edgeFrame(1200000L))
    private lazy val edgesN =
      materialize("edges")(edgeFrame(1200000L * factor))

    // embeddings amplified with fresh ids (identical vectors — ANN cost
    // depends on row count and dims, not vector novelty)
    private lazy val emb = Tables.embeddings(spark, sf)
    private lazy val emb1 = materialize("embeddings_x1")(emb)
    private lazy val embN = materialize("embeddings")(copies(emb).select(
      ($"vec_id" * factor + $"copy").as("vec_id"), $"embedding", $"label"))
    // CLUSTERED embedding corpus (r17 verdict task #2): the testdata
    // embeddings are near-uniform on the sphere, where recall@10 at
    // partial probe is uninformative — with no cluster structure the
    // true neighbors of a query spread across MANY IVF cells, so any
    // nProbe ≪ nCells necessarily misses most of them (measured r17:
    // 0.2-0.5) regardless of index quality. Real embedding spaces are
    // CLUSTERED (semantic neighborhoods), which is the geometry IVF
    // exploits. This corpus is a deterministic 1024-component
    // mixture-of-Gaussians in 64-d: centers uniform in [-1,1]^64
    // (expected inter-center distance ≈ 6.5), noise σ = 0.25 per
    // component (vector's expected distance from its center ≈ 2.0) —
    // separated but not trivially so. All randomness is xxhash64-seeded
    // per (vector, dim): reruns are bit-identical, no RNG state.
    //
    // Component count is load-bearing: ~59 members per component keeps
    // the semantic neighborhood UNDER the 100-row re-rank pool. A
    // first cut used 64 components (~937 members): every in-cluster
    // candidate is a near-tie under the APPROXIMATE scorer, so the
    // fixed pool held a quasi-random 100 of 937 and recall pinned at
    // ~pool/cluster ≈ 0.20 at EVERY nProbe — a real deployment lesson
    // (pool must cover the neighborhood size) but it measures pool
    // saturation, not index routing. At 59-member components the pool
    // covers the whole neighborhood and recall measures what the dial
    // is supposed to buy: whether probing more cells finds the right
    // component.
      private lazy val embClustered = materialize("embeddings_clustered") {
      val dim = 64
      def u(salt: Int, a: org.apache.spark.sql.Column,
          b: org.apache.spark.sql.Column) =
        (pmod(xxhash64(lit(salt), a, b), lit(1048576L)).cast("double") +
          lit(0.5)) / 1048576.0
      val cId = pmod(xxhash64(lit(7), $"id"), lit(1024L))
      val vec = transform(sequence(lit(0), lit(dim - 1)), j => {
        val center = u(1, cId, j) * 2.0 - 1.0
        val gauss = sqrt(log(u(2, $"id", j)) * -2.0) *
          cos(u(3, $"id", j) * (2.0 * math.Pi))
        (center + gauss * 0.25).cast("float")
      })
      spark.range(60000L)
        .select($"id".as("vec_id"), vec.as("embedding"), cId.as("label"))
    }

    // the (1×, N×) table pairs a ratio row reads
    private def onDocs = (docs1, docsN)
    private def onEvents = (events1, eventsN)
    private def onLineitem = (li1, liN)
    private def onEdges = (edges1, edgesN)
    private def onEmbeddings = (emb1, embN)

    private def sessionize(ev: DataFrame): Long = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"user_id").orderBy($"ts_ns", $"event_id")
      ev.withColumn("prev", lag($"ts_ns", 1).over(w))
        .withColumn("new_sess",
          when($"prev".isNull || $"ts_ns" - $"prev" > 1800L * 1000000000L, 1L)
            .otherwise(0L))
        .withColumn("sess_id", sum($"new_sess")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy($"user_id", $"sess_id").agg(count(lit(1)))
        .count()
    }

    // Build-once memos are keyed on the bench SIDE LABEL ("x1"/"xN",
    // set by the harness right before each side's timed passes) — an
    // explicit stable key. The previous System.identityHashCode(d) key
    // was two silent hazards (r15 ADVICE): identity hashes are not
    // unique, so an x1/xN collision would reuse the WRONG table's
    // artifact (same dims — no guard fires, just a skewed ratio), and
    // a table thunk that stopped returning a stable lazy val would
    // quietly degrade to retrain-per-pass.
    private var sideLabel = "x1"
    // per-table memo for winnow_decontaminate's split point: the
    // two-pass min discipline then times the operator alone (pass 1
    // pays the one-time max scan, pass 2 is clean and wins the min)
    private val decontCuts = scala.collection.mutable.Map.empty[String, Long]
    // per-table memo for projected_ivf_trained's codebook: training is
    // build-once (the SketchStore stance) — the timed passes measure
    // the SEARCH, the same boundary q141's hash-cell row measures
    private val trainedCells =
      scala.collection.mutable.Map.empty[String, Seq[Seq[Double]]]
    // per-table memo for ivf_pq_ann's index artifacts (coarse cells +
    // PQ codebooks — the same build-once boundary)
    private val pqIndex = scala.collection.mutable.Map
      .empty[String, (Seq[Seq[Double]], Seq[Seq[Seq[Double]]])]
    // the held-out / eval split point of a table: a fixed property of
    // each side, memoized so the timed region pays ONLY the operator
    // (the max(doc_id) scan would otherwise inflate both sides of the
    // very ratio winnow_decontaminate exists to compare against
    // winnow_fingerprints)
    private def cut(d: DataFrame): Long =
      decontCuts.getOrElseUpdate(sideLabel,
        d.agg(max(col("doc_id"))).head().getLong(0) / 10 + 1)
    private def pqArtifacts(side: String, d: DataFrame) =
      pqIndex.getOrElseUpdate(side,
        (Similarity.kmeansCentroids(d, nCells = 16, iters = 2, dim = 64),
          Similarity.pqCodebooks(d, dim = 64, m = 8, nCent = 16, iters = 1)))

    /** A 1×-vs-N× row: `run` on each side of `tables`, JSON line with
      * both times and their ratio. */
    private def ratio(name: String, tables: => (DataFrame, DataFrame))
        (run: DataFrame => Long): Row = Row(name, "pipelines", _ => {
      // FORCE the lazy tables (write + warm-up count) OUTSIDE the
      // timed region — first use pays materialization, later rows
      // reuse the cached lazy val
      val (b, aN) = tables
      // two interleaved runs each, min taken: the first pass absorbs
      // codegen/JIT for this plan shape, which otherwise dwarfs the 1×
      // runtime and makes the ratio meaningless
      // drop DataFrame caches between EVERY timed pass (hydration
      // persists): the two-pass min exists to absorb codegen/JIT
      // warm-up, not data-cache warmth — a pin surviving into the
      // next pass (or the next ROW sharing a logical sub-plan, e.g.
      // the curated pipeline warming the composed row's dedup stage)
      // reports a phantom speedup
      // the row count rides along so two commits' runs compare outputs
      def minOf2(body: => Long): (Double, Long) = {
        var rows = 0L
        val a = time { rows = body }; spark.catalog.clearCache()
        val bb = time { rows = body }; spark.catalog.clearCache()
        (math.min(a, bb), rows)
      }
      sideLabel = "x1"
      val (t1, rows1) = minOf2(run(b))
      sideLabel = "xN"
      val (tN, rowsN) = minOf2(run(aN))
      println(f"""{"pipeline":"$name","x1_sec":$t1%.2f,"xN_sec":$tN%.2f,"factor":$factor,"ratio":${tN / t1}%.2f,"x1_rows":$rows1,"xN_rows":$rowsN}""")
    })

    private def guard(name: String)(body: String => Unit): Row =
      Row(name, "guards", body)

    // ---- ANN recall@10 at REALISTIC dials (r16 Next #3): q148's
    // trained projected-IVF and q150's IVF-PQ are ORACLE-gated only at
    // full probe + pool, where they are brute-force-equivalent by
    // construction; a serving deployment tunes (nProbe, pool) by the
    // recall@k those dials buy. This block measures that curve against
    // the exact brute-force top-10 at nProbe ∈ {1, 4, 8} of nCells =
    // 16 with pool = 100, on BOTH the 1× and the amplified table.
    // Monotonicity: probing more cells only ADDS candidates, so with a
    // non-binding pool recall is monotone in nProbe — but the FIXED
    // pool can reorder them (a newly-probed cell's approximately-scored
    // rows can displace a true neighbor from the top-pool before the
    // exact re-rank). MEASURED at the 16× amplified table: projected-
    // IVF recall 0.972 @ nProbe=1 → 0.947 @ nProbe=4 — a real
    // displacement, amplified by duplication (16 identical copies of a
    // near-miss flood the pool at once). The monotone flag (with 0.02
    // sampling jitter) is therefore meaningful on the 1× side only —
    // the distinct-vector corpus where the dial behaves like
    // production; the amplified side's recall is REPORTED but its
    // duplicated vectors both inflate it (every true neighbor has
    // factor identical copies, any one of which counts) and expose the
    // displacement, so it is a time ladder, not a recall testbed. The
    // recall-1.0 anchor at full dials is the q148/q150 oracle gate. ----
    // The `clustered` side (r17 verdict task #2) runs the SAME dials on
    // the mixture-of-Gaussians corpus above: recall there measures what
    // the index buys on realistic (clustered) embedding geometry, with
    // the uniform x1 side kept as the adversarial floor. xN stays a
    // time ladder (duplicated vectors both inflate recall and displace
    // the pool — see the r17 analysis above).
    private def annRecall(side: String, d: DataFrame): Unit = {
      val queries = d.filter(col("vec_id") % 37L === 0L)
      val exact = Similarity.bruteForceTopK(queries, d, 10)
        .select($"q_id", $"n_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
      spark.catalog.clearCache()
      def recallOf(res: DataFrame): Double = {
        val approx = res.select($"q_id", $"n_id").as[(Long, Long)]
          .collect().groupBy(_._1)
          .map { case (q, ns) => q -> ns.map(_._2).toSet }
        val per = exact.toSeq.map { case (q, ex) =>
          (ex & approx.getOrElse(q, Set.empty[Long])).size.toDouble /
            ex.size }
        per.sum / per.size
      }
      // index artifacts are build-once (the q148/q150 row stance) and
      // share the pipeline rows' memo keys; the indexes themselves are
      // built (and their features pinned) once per side, then searched
      // at every dial point of the session below
      val (cents, books) = pqArtifacts(side, d)
      val projCents = trainedCells.getOrElseUpdate(side, {
        val proj = Similarity.randomProjection(d, dim = 64, outDim = 16)
        Similarity.kmeansCentroids(
          proj, nCells = 16, iters = 2, dim = 16, vecCol = "proj")
      })
      val raw = AnnIndex.build(d, dim = 64)
      val projected = AnnIndex.build(d, dim = 64, outDim = 16)
      Seq(raw, projected).foreach(_.features.count())
      // (name, reports monotonicity, (nProbe, pool) => top-10): q150's
      // IVF-PQ, q148's trained projected-IVF, and FULL-WIDTH routing
      // (r18 verdict task #2) — the same projected scan + pool + exact
      // re-rank, but cells assigned on exact 64-dim center distances
      // (the raw-space kmeans codebook the IVF-PQ rows already train),
      // which isolates how much of the projected variant's recall gap
      // is ROUTING error vs pool displacement
      val indexes: Seq[(String, Boolean, AnnIndex)] = Seq(
        ("ann_recall_ivf_pq", true, raw.withCells(cents).withCodes(books)),
        ("ann_recall_projected_ivf", true, projected.withCells(projCents)),
        ("ann_recall_projected_ivf_fullroute", false,
          projected.withCells(cents)))
      // the ladder (nProbe 1/4/8 at pool 100), then a pool-scaling
      // diagnostic at the widest probe: the r17 lesson says scale
      // `pool` with nProbe — this point separates the two ways a fixed
      // pool caps recall. If the plateau is POOL DISPLACEMENT
      // (approximately-scored near-misses evicting true neighbors
      // before the exact re-rank), pool 400 recovers it; if it is
      // ROUTING error (the right cell was never probed — the projected
      // index's hazard: cells are trained and probed in the 16-dim
      // projected space), no pool helps.
      val prev = scala.collection.mutable.Map.empty[String, Double]
        .withDefaultValue(0.0)
      for ((nProbe, pool) <- Seq((1, 100), (4, 100), (8, 100), (8, 400));
           (nm, monotone, index) <- indexes) {
        var r = 0.0
        val t = time { r = recallOf(index.search(queries, 10, nProbe, pool)) }
        // monotonicity is REPORTED, not require-d (r17 ADVICE): a
        // fixed re-rank pool can genuinely lose recall as nProbe
        // grows on duplicated corpora (probe displacement — measured
        // r17), so a dip is a finding to flag, not a broken build. The
        // pool-400 point is not a ladder step: monotonicity was never
        // evaluated there, and a hard-coded true would fabricate a
        // pass for flag consumers.
        val flag = if (monotone && pool == 100) {
          val mono = r >= prev(nm) - 0.02
          prev(nm) = r
          s""","monotone":$mono"""
        } else ""
        println(f"""{"pipeline":"$nm","side":"$side","n_probe":$nProbe,"pool":$pool,"recall_at_10":$r%.3f$flag,"sec":$t%.2f}""")
      }
      spark.catalog.clearCache()
    }

    // 7 id-salted tokens per doc: shingle sets are disjoint across ids,
    // so true jaccard between distinct docs is 0 and a doc matches only
    // a replay of its own text — accepted counts are deterministic
    private def synthDocs(from: Long, n: Long): DataFrame =
      spark.range(from, from + n)
        .select($"id".as("doc_id"), concat_ws(" ",
          concat(lit("alpha"), $"id"), concat(lit("beta"), $"id" * 7),
          concat(lit("gamma"), $"id" * 13), concat(lit("delta"), $"id" * 3),
          concat(lit("eps"), $"id" * 11), concat(lit("zeta"), $"id" * 5),
          concat(lit("eta"), $"id" * 17)).as("text"))

    // 1M rows all in ONE source key (the web-crawl shape: a single
    // dominant domain) plus a 1k-row tail domain
    private lazy val megaDomain = spark.range(1000000L)
      .select($"id".as("doc_id"), lit("megadomain.example").as("source"))
      .union(spark.range(1000L).select($"id" + 2000000L, lit("tail.example")))

    // the shared build-once/probe-many economics readout (sketch +
    // winnow lifecycle rows): marginal = per-batch cost on each path,
    // breakeven = batches amortizing the one-time build — ONE place
    // for the arithmetic, so an epsilon/denominator fix cannot land
    // in one row and miss the other
    private def printLifecycle(name: String, nBatches: Int, tRebuild: Double,
        tBuild: Double, tProbe: Double): Unit = {
      val marginalRebuild = tRebuild / nBatches
      val marginalProbe = tProbe / nBatches
      require(tProbe < tRebuild,
        s"$name: the probe path must beat rebuilds on marginal cost alone")
      val breakeven =
        tBuild / math.max(marginalRebuild - marginalProbe, 1e-9)
      println(f"""{"pipeline":"$name","batches":$nBatches,"rebuild_sec":$tRebuild%.2f,"build_once_sec":$tBuild%.2f,"probe_sec":$tProbe%.2f,"reuse_speedup":${tRebuild / (tBuild + tProbe)}%.2f,"marginal_speedup":${marginalRebuild / marginalProbe}%.2f,"breakeven_batches":$breakeven%.1f}""")
    }

    val rows: Seq[Row] = Seq(
      ratio("agg_q01_shape", onLineitem)(d => d
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(sum($"l_quantity"), avg($"l_extendedprice"), count(lit(1))).count()),
      ratio("sessionization", onEvents)(sessionize),
      ratio("minhash_pairs", onDocs)(d => Dedup
        .minHashDupPairs(d, 0.5).count()),
      ratio("corpus_dedup", onDocs)(d => Dedup.dedupCorpus(d, 0.5).count()),
      // the COMPOSED training-prep job (quality → PII → span dedup →
      // langID → corpus dedup → pack → split): the end-to-end artifact
      // a 100 TB user actually runs — a near-linear ratio here means
      // the stages COMPOSE without a cross-stage blowup (each stage is
      // also measured alone; this row is the integration bound)
      // q143: the composed pipeline + winnow decon (vs the 1×
      // documents slice as the eval set) + LM band — the added
      // stages' cost should track winnow_fingerprints + lm_surprisal
      // on top of the composed row
      ratio("training_pipeline_curated", onDocs)(d => TrainingPipeline
        .prepare(d, jaccardThreshold = 0.5,
          winnowEval = Some(docs1.limit(500)),
          surprisalBand = Some((5, 95))).count()),
      // q147's shape: the curated chain with the band scored by the
      // HELD-OUT model (bandTrain = the same 500-doc reference slice).
      // vs training_pipeline_curated this swaps the self-scored LM for
      // the smoothed held-out one — the delta should track
      // heldout_lm's ratio over lm_surprisal's, since the reference
      // side is fixed-size and only the candidate scan scales
      ratio("training_pipeline_heldout", onDocs)(d => TrainingPipeline
        .prepare(d, jaccardThreshold = 0.5,
          winnowEval = Some(docs1.limit(500)),
          surprisalBand = Some((5, 95)),
          bandTrain = Some(docs1.limit(500))).count()),
      ratio("training_pipeline_composed", onDocs)(d => TrainingPipeline
        .prepare(d, jaccardThreshold = 0.5).count()),
      // NOTE: amplified copies are IDENTICAL inside the 80-char verify
      // window, so the TRUE answer grows quadratically with the factor
      // (every copy-pair is a real duplicate: ~45 pairs per 10-cluster,
      // ~9000× the 1× output). The ratio here measures cost per
      // produced pair, not scan scaling — pair-ENUMERATING dedup is
      // inherently quadratic in cluster size; the scale path for dense
      // corpora is cluster-collapsing dedup (corpus_dedup above), which
      // stays sub-linear on the same input
      ratio("edit_distance_pairs", onDocs)(d => Dedup
        .editDistancePairs(d, maxDist = 5).count()),
      // gram-collision gate: the corpus side explodes to 8-grams but
      // only 8-byte xxhash64 keys cross the join boundary — linear
      // ratio here means the projection (not the 13× gram-string
      // blowup) is what scales
      ratio("decontaminate", onDocs)(d => Dedup.decontaminate(
        d.filter($"doc_id" % 20 =!= 0),
        Dedup.Exact(d.filter($"doc_id" % 20 === 0)), n = 8).count()),
      // exact-substring repeat spans (the Lee-et-al suffix-array
      // family, q152): amplified copies duplicate every window of the
      // original text, so duplicated-OCCURRENCE volume grows ~linearly
      // with the factor — a near-linear ratio means the window
      // hash-agg + equi-join-back + per-doc island merge (never an
      // all-pairs or suffix-sort stage) is what scales
      ratio("exact_substring_spans", onDocs)(d => Dedup
        .exactSubstringSpans(d, n = 10).count()),
      // the Lee-et-al OPERATING POINT (n = 50, the paper's span
      // length): ~5× longer windows, far fewer distinct repeats — the
      // kernel hashes more bytes per window while the group-by and
      // island-merge see less mass. minCount 2 vs 10 separates "any
      // repeat" from "heavy boilerplate": on the amplified table every
      // copy family repeats ×factor, so minCount=10 binds from 16×
      // up (it finds NOTHING at 1× — the x1 side measures the scan +
      // empty-result floor, the xN side the thresholded mass)
      ratio("exact_substring_n50", onDocs)(d => Dedup
        .exactSubstringSpans(d, n = 50).count()),
      ratio("exact_substring_n50_min10", onDocs)(d => Dedup
        .exactSubstringSpans(d, n = 50, minCount = 10).count()),
      // the CUT variant adds the canonical min(struct) aggregate, the
      // coverage explode (≤ n rows per cut occurrence), the anti-join
      // against the token table, and the per-doc rebuild — all
      // output/doc-bounded stages; near-linear here means the rebuild
      // path (not just the spans report) survives the octave. The
      // action SUMS text lengths, deliberately: a bare count() lets
      // Catalyst DELETE the rebuild (the left join's aggregate side is
      // provably unique per doc, so join elimination + column pruning
      // reduce the whole operator to docs.count() — first measurement
      // read ratio 0.91 at 16×, i.e. nothing ran)
      ratio("exact_substring_dedup", onDocs)(d => Dedup
        .dedupExactSubstrings(d, n = 10)
        .agg(sum(length($"text"))).head().getLong(0)),
      // corpus drift: four aggregates over ONE reused corpus shuffle
      // plus a vocabulary-sized join — a linear ratio means the AQE
      // exchange reuse holds under amplification (without it this is
      // four corpus scans and the ratio drifts super-linear)
      ratio("corpus_divergence", onDocs)(d => CorpusStats
        .tokenDivergence(d, "source").count()),
      // provenance matrix: the pair join rides the AGGREGATED
      // (fingerprint, slice) table; amplified copies carry distinct
      // fingerprints (unique suffixes), so the aggregate grows
      // linearly and the matrix cost must track it — not duplication
      // depth
      ratio("dup_matrix", onDocs)(d => CorpusStats
        .duplicationMatrix(d, "source").count()),
      // per-doc n-gram novelty of the (amplified) candidate corpus vs
      // the fixed 1× reference: candidate windows grow ×factor but the
      // reference's DISTINCT gram set is constant, so the join stays
      // vocabulary-×-candidates — a near-linear ratio means the
      // distinct aggregates (not a gram-set blowup) dominate
      ratio("ngram_novelty", onDocs)(d => CorpusStats
        .ngramNovelty(d, docs1, n = 8).count()),
      // the keyless (sensor-less) as-of merge: auto-sharded into
      // time-contiguous bins — without the auto-shard this whole merge
      // is ONE task at any scale, the classic hidden serialization
      ratio("asof_keyless_autoshard", onEvents) { d =>
        val ev = d.select($"event_id", $"ts".as("event_ts"))
        val sm = d.filter($"event_type" === "error")
          .select($"ts".as("time"), $"value".as("data"))
        graft.streaming.Correlate.nearest(ev, sm,
          toleranceSec = Some(3600)).count()
      },
      // the distributed alternating-star loop at 1.2M / factor×1.2M
      // edges of diameter-63 chains: ratio ≈ linear means the per-round
      // aggregate+join scales and the edge-cache hygiene (unpersist
      // superseded generations, pinned checkpoints) holds — the driver
      // union-find path never fires here
      ratio("connected_components_distributed", onEdges)(d => Dedup
        .connectedComponents(d).count()),
      ratio("range_correlate", onEvents) { d =>
        graft.plans.BinRangeJoin.install(spark)
        val p = d.filter($"event_type" === "purchase")
          .select($"event_id".as("p_event"), expr("ts_ns div 1000").as("p_us"))
        val e = d.filter($"event_type" === "error")
          .select($"event_id".as("e_event"), expr("ts_ns div 1000").as("e_us"))
        p.join(e, e("e_us") >= p("p_us") - lit(60000000L) &&
            e("e_us") <= p("p_us") + lit(60000000L)).count()
      },
      // inverted-index containment: amplified copies share most of
      // their shingles, so gram document-frequencies grow with the
      // factor — a near-linear ratio means the hot-gram guard (not a
      // df² candidate blowup) is what bounds the join
      ratio("containment_pairs", onDocs)(d => Dedup
        .containmentPairs(d, 0.5).count()),
      // the bounded-aggregate selection family at data scale (the
      // planted mega-key guards below pin the skew bound; these rows
      // pin the plain volume ratio): map-side combine means the ratio
      // tracks the scan, not the key cardinality
      ratio("quota_per_key", onDocs)(d => Sampling
        .quotaPerKey(d, "source", "doc_id", 100).count()),
      ratio("topk_per_key", onDocs)(d => Sampling
        .topKPerKey(d.withColumn("score", ($"n_chars" % 97).cast("double")),
          "source", "doc_id", "score", 100).count()),
      ratio("weighted_sample_per_key", onDocs)(d => Sampling
        .weightedSamplePerKey(d, "source", "doc_id", "n_chars", 100).count()),
      // zero-shuffle narrow replication (q80's dial): output rows grow
      // ~2× the input under these weights; ratio must track the scan
      ratio("replicate_by_weight", onDocs)(d => Sampling.replicateByWeight(
        d.withColumn("wt", lit(0.25) +
          Sampling.portableBucket($"source", 8)
            .cast("double") * lit(0.5)),
        "doc_id", "wt").count()),
      // q82's composition: fingerprint-cluster weights → stochastic
      // replication — one fingerprint shuffle + one narrow explode
      ratio("soft_dedup", onDocs) { d =>
        val fp = d.withColumn("fp",
          graft.functions.TextFunctions.fingerprint($"text"))
        val counts = fp.groupBy($"fp").agg(count(lit(1)).as("n_dup"))
        Sampling.replicateByWeight(
          fp.join(counts, "fp")
            .withColumn("w", lit(1.0) / $"n_dup".cast("double")),
          "doc_id", "w").count()
      },
      // q85's sketch: the corpus collapses to ≤ k hashes per slice per
      // map partition — the ratio must track the gram scan, never the
      // (growing) distinct-gram count, and the pairwise stage is
      // slice-count²-bounded regardless of factor
      ratio("kmv_overlap", onDocs)(d => Sketches.kmvOverlapMatrix(
        d.select($"source",
          explode(graft.functions.TextFunctions.shingles($"text", 3))
            .as("gram"))
          .select($"source",
            Sampling.portableHash48($"gram").as("h")),
        "source", $"h", 256).count()),
      // q86's prune-then-verify: the benchmark side grows with the
      // factor but crosses as a fixed 2^20-bit filter; ratio tracks
      // the corpus gram scan
      ratio("bloom_decontaminate", onDocs)(d => Dedup.decontaminate(
        d.filter($"doc_id" % 10 =!= 0),
        Dedup.Bloomed(d.filter($"doc_id" % 10 === 0), numBits = 1 << 20),
        n = 6).count()),
      // q119: dedupCorpus's cluster machinery + two label joins + a
      // narrow bucket map — ratio must track the dedup family's
      ratio("leakage_safe_split", onDocs)(d => Dedup.leakageSafeSplit(
        d, trainPct = 90, jaccardThreshold = 0.5).count()),
      // q116: the fraction variant — same prune shape plus the narrow
      // per-doc totals projection and the hit aggregate
      ratio("contamination_fraction", onDocs)(d => Dedup.contaminationFraction(
        d.filter($"doc_id" % 10 =!= 0), d.filter($"doc_id" % 10 === 0),
        n = 6, numBits = 1 << 20).count()),
      // q87: narrow zero-shuffle window explode — ratio must track the
      // scan (output rows grow exactly with input tokens)
      ratio("chunking", onDocs)(d => Chunking
        .chunkByTokens(d, 40, 30).count()),
      // q88: tf only for the broadcast query vocabulary; candidate and
      // score shuffles grow with matching rows, the top-k stays a
      // bounded aggregate — ratio tracks the token scan
      ratio("bm25_topk", onDocs)(d => Retrieval.bm25TopK(
        d, graft.queries.TrainingData.Bm25Queries.toDF("query_id", "term"),
        10).count()),
      // q92's engine over the SAME diameter-63 chain graphs as the CC
      // row: per-iteration cost is one edge join + one aggregate, so
      // the ratio must track edge count — a super-linear drift here
      // means the rank/degree hydration or checkpoint hygiene broke
      ratio("pagerank_int", onEdges)(d => Graph.pageRankInt(
        d.select($"id_a".as("src"), $"id_b".as("dst")),
        iters = 3, dedupEdges = false).count()),
      // q93: each step is a filtered-scan aggregate keyed on user —
      // amplified copies add users (copy-offset ids), so the ratio
      // tracks the event scan with O(1) state per user per step
      ratio("funnel_4step", onEvents)(d => Funnel.funnelTimes(
        d, "user_id", "ts", "event_type",
        Seq("signup", "view", "click", "purchase")).count()),
      // q91: corpus-wide tf/df aggregates + the bounded per-doc top-k
      // kernel; the amplified vocabulary grows (unique copy suffixes),
      // so a linear ratio means df aggregation scales with tokens, not
      // with vocabulary² anywhere
      ratio("tfidf_topterms", onDocs)(d => Retrieval
        .tfIdfTopTerms(d, 3).count()),
      // q94 at a REALISTIC pool (100 of corpus): one training step +
      // the 8-byte-per-row ADC scan + bounded pool + pool-sized exact
      // re-rank; ratio tracks the corpus scan
      ratio("pq_ann_pool100", onEmbeddings) { d =>
        val books = Similarity
          .pqCodebooks(d, 64, 8, 16, iters = 1)
        AnnIndex.build(d, dim = 64).withCodes(books)
          .search(d.filter($"vec_id" < 3), 10, pool = 100).count()
      },
      // q120: one posexplode scan to (label, dim) sums; the pair join
      // runs on the labels×dims aggregate — ratio tracks the scan
      ratio("centroid_affinity", onEmbeddings)(d => Affinity.centroidAffinity(
        d, "label", "embedding").count()),
      // q101: per-key quantiles — exactly two raw scans (ranges +
      // binning) and a keys×nBins downstream; ratio tracks the scans
      ratio("group_quantiles", onEvents)(d => Histogram.groupQuantileEstimates(
        d, "event_type", "value", 128, Seq(25, 50, 90, 99)).count()),
      // q102: distinct (entity, period) partial-dedups map-side, so
      // 4× event volume over the same calendar must track the scan
      ratio("cohort_retention", onEvents)(d => Cohort.retention(
        d, "user_id", "ts", "day").count()),
      // q103: one lag(1) window per entity (amplified copies add NEW
      // users, so partitions stay user-sized) + a states² aggregate
      ratio("transition_matrix", onEvents)(d => Transitions.transitionMatrix(
        d, "user_id", "event_type", $"ts_ns", $"event_id").count()),
      // q113: the same adjacency shape plus the gap arithmetic
      ratio("dwell_times", onEvents)(d => Transitions.dwellTimes(
        d, "user_id", "event_type", $"ts_ns", $"event_id").count()),
      // q114: the gaps composed into the per-key histogram — the
      // downstream (keys × nBins) stages are constant-size across
      // factors, so the ratio must track the two gap scans
      ratio("dwell_quantiles", onEvents)(d => Transitions.dwellQuantiles(
        d, "user_id", "event_type", $"ts_ns", $"event_id").count()),
      // q115: two single-column scans + the CMS-pruned count — the
      // grid is constant-size across factors, so the ratio tracks the
      // scans (amplified copies add users, densifying the same grid)
      ratio("cms_heavy_hitters", onEvents)(d => CountMin.heavyHitters(
        d, "user_id", threshold = 70L, depth = 4, width = 1024).count()),
      // q117: one (key, window, qv) hash aggregate + the cum/rank
      // selection on the aggregated table — amplified events densify
      // the same calendar of windows, so the ratio tracks the scan
      ratio("windowed_quantiles", onEvents)(d => WindowedQuantiles.quantiles(
        d, "event_type", "ts", "value", "hour", Seq(50, 95)).count()),
      // q111: ONE conditional-aggregate scan to the per-period joint
      // series (calendar-bounded, identical across factors) + the
      // day-partitioned window — amplified events only grow the scan
      ratio("rolling_corr", onEvents)(d => Timeseries.rollingCorrelation(
        d, "event_type", "ts", "value", "purchase", "error",
        trailing = 6, grain = "hour").count()),
      // q104's engine on a co-minute chain graph derived from events
      // (amplified copies add users → ~factor× more edges): ratio
      // tracks edges through the orientation joins, and the wedge
      // stage is bounded by out-degree under degree ordering
      ratio("triangles", onEvents) { d =>
        import org.apache.spark.sql.expressions.Window
        val members = d.select(date_trunc("minute", $"ts").as("m"),
          $"event_type".as("g"), $"user_id".as("u")).distinct()
        val w = Window.partitionBy($"m", $"g").orderBy($"u")
        val edges = members.withColumn("prev", lag($"u", 1).over(w))
          .filter($"prev".isNotNull)
          .select($"prev".as("src"), $"u".as("dst"))
        Graph.triangleCounts(edges).count()
      },
      // q105: ONE five-moment hash aggregate — the cheapest shape in
      // the library; ratio is the pure scan bound
      ratio("group_trend", onEvents)(d => Trend.groupTrend(
        d, "event_type", expr("ts_ns div 60000000000"), $"value").count()),
      // q106: narrow bigram zip + token-keyed aggregates/joins; the
      // amplified vocabulary grows (unique copy suffixes), so a linear
      // ratio means cost tracks tokens, not vocabulary²
      ratio("pmi_collocations", onDocs)(d => Collocations.pmiTopBigrams(
        d, "text", 5L, 50).count()),
      // q100: the dense spine is CALENDAR-bounded (identical across
      // factors — amplified events add density, not span), so the
      // ratio must come out SUB-linear: only the count aggregate grows
      ratio("rate_anomaly_dense", onEvents)(d => Anomaly.rateZScores(
        d, "event_type", "ts", 30).count()),
      // q107: dedup + lag window + one five-column aggregate — ratio
      // tracks the sample scan
      ratio("twap", onEvents)(d => Timeseries.timeWeightedAvg(
        d, "event_type", "ts_ns", "value").count()),
      // q108: grid is calendar-bounded; the as-of sides grow with
      // samples — ratio must stay sub-linear like the dense spine
      ratio("interpolate_minutes", onEvents)(d => Timeseries.interpolateMinutes(
        d, "event_type", "ts_ns", "value").count()),
      // round-13 text-family rows: near-linear ratios mean the
      // one-corpus-shuffle shapes hold under amplification
      ratio("phrase_search", onDocs)(d => Retrieval
        .phraseSearch(d, Seq("table", "part")).count()),
      ratio("shard_manifest", onDocs)(d => Sampling
        .shardManifest(d, "doc_id", nShards = 64, seed = "42").count()),
      ratio("lm_surprisal", onDocs)(d => LanguageModel
        .bigramSurprisal(d).count()),
      // q138/q145: the held-out variant adds the vocabulary aggregate
      // + LEFT-join smoothing to the self-scored row — the ratio
      // should track lm_surprisal's (the model side is the smaller
      // reference slice; the candidate scan dominates)
      ratio("heldout_lm", onDocs) { d =>
        val cut = this.cut(d)
        LanguageModel.bigramSurprisalHeldOut(
          d.filter(col("doc_id") < cut),
          d.filter(col("doc_id") >= cut)).count()
      },
      // q131: LM + domain aggregate + apportion — the LM dominates, so
      // the ratio should track lm_surprisal's
      ratio("domain_reweight", onDocs)(d => LanguageModel
        .domainReweight(d, "source", budget = 100000L).count()),
      // q132 split in two: selection is the linear part (one per-doc
      // window pass); the pair join faces the amplified corpus's
      // DENSER duplicate graph (each copy shares fingerprints with its
      // original → within-cluster pairs grow ~factor², the strictly-
      // harder-instance stance in the header)
      ratio("winnow_fingerprints", onDocs)(d => Winnowing
        .fingerprints(d).count()),
      ratio("winnow_pairs", onDocs)(d => Winnowing
        .sharedPairs(d, minShared = 2).count()),
      // q136/q137: the decontaminate adds a multiplicity-≤1 overlap
      // join to the fingerprint pass; the band filter adds one
      // per-language window to the LM — both should track their
      // component rows (winnow_fingerprints / lm_surprisal)
      ratio("winnow_decontaminate", onDocs) { d =>
        val cut = this.cut(d)
        Winnowing.evalOverlap(
          d.filter(col("doc_id") >= cut),
          d.filter(col("doc_id") < cut), minShared = 2).count()
      },
      ratio("surprisal_band", onDocs)(d => LanguageModel
        .surprisalBandFilter(d, "lang").count()),
      // q24 vs q135 head-to-head at the same corpus: the projected
      // candidate stage scans outDim/dim (16/64) of brute force's dot
      // width — compare the two rows' xN_sec for the payoff
      ratio("brute_ann", onEmbeddings)(d => Similarity.bruteForceTopK(
        d.filter(col("vec_id") % 37L === 0L), d, k = 8).count()),
      ratio("projected_ann", onEmbeddings)(d => AnnIndex
        .build(d, dim = 64, outDim = 16)
        .search(d.filter(col("vec_id") % 37L === 0L), k = 8, pool = 200)
        .count()),
      // q141 vs q135 at the same corpus/queries: the cell stage cuts
      // the candidate count by ~nCells/nProbe (16/4 here) ON TOP of
      // the projection's narrower dots — compare the three ANN rows'
      // xN_sec for the composed payoff (brute → projected → +IVF)
      ratio("projected_ivf_ann", onEmbeddings)(d => AnnIndex
        .build(d, dim = 64, outDim = 16)
        .withCells(Similarity.hashCentroids(16, 16))
        .search(d.filter(col("vec_id") % 37L === 0L), k = 8, nProbe = 4,
          pool = 200).count()),
      // q148's trained variant at the SAME dials as projected_ivf_ann
      // (nProbe 4/16): the row isolates what Lloyd-trained cells buy
      // over the seeded hash stand-ins. Training is BUILD-ONCE (the
      // artifact stance) — memoized per table so the two-pass min
      // times the search alone; the one-time cost is per-run visible
      // in pass 1 of the raw samples
      ratio("projected_ivf_trained", onEmbeddings) { d =>
        val cents = trainedCells.getOrElseUpdate(sideLabel, {
            val proj = Similarity
              .randomProjection(d, dim = 64, outDim = 16)
            val trained = Similarity.kmeansCentroids(
              proj, nCells = 16, iters = 2, dim = 16, vecCol = "proj")
            // occupancy diagnostic — the mechanism behind this row's
            // ratio: candidate volume per probe ∝ probed-cell MASS,
            // so a codebook that concentrates corpus mass into few
            // cells inflates the scan even at the same nProbe
            def maxFrac(cs: Seq[Seq[Double]]): Double = {
              val occ = Similarity.ivfAssign(proj,
                  dim = 16, nCells = 16, idCol = "vec_id",
                  vecCol = "proj", centroids = Some(cs))
                .groupBy(col("cell")).count()
                .agg(max(col("count")), sum(col("count"))).head()
              occ.getLong(0).toDouble / occ.getLong(1)
            }
            println(f"""{"pipeline":"projected_ivf_trained_cells","rows":${d.count()},"trained_max_cell_frac":${maxFrac(trained)}%.3f,"hash_max_cell_frac":${maxFrac(Similarity.hashCentroids(16, 16))}%.3f}""")
            trained
          })
        AnnIndex.build(d, dim = 64, outDim = 16).withCells(cents)
          .search(d.filter(col("vec_id") % 37L === 0L), k = 8, nProbe = 4,
            pool = 200).count()
      },
      // q150's composition at REALISTIC dials (the projected_ivf rows'
      // nProbe 4/16, pool 200): trained coarse cells prune to ~1/4 of
      // the corpus AND the survivors cross the cell join as m = 8
      // one-byte codes scored by ADC table lookup, vs
      // projected_ivf_trained's 16-double projections scored by a
      // 16-wide dot. Train (cells + codebooks, one artifact pair) is
      // BUILD-ONCE (memoized per side — the q148 stance); the timed
      // pass still builds the index and quantizes the corpus (codes
      // are computed over the pinned features at search time). Read
      // the three-way ladder:
      // pq_ann_pool100 (codes, no cells) → projected_ivf_trained
      // (cells, no codes) → this row (both).
      ratio("ivf_pq_ann", onEmbeddings) { d =>
        val (cents, books) = pqArtifacts(sideLabel, d)
        AnnIndex.build(d, dim = 64).withCells(cents).withCodes(books)
          .search(d.filter(col("vec_id") % 37L === 0L), k = 8, nProbe = 4,
            pool = 200).count()
      },
      // not a ratio row, but it reads the embeddings tables
      Row("ann_recall", "pipelines", _ =>
        Seq(("x1", () => emb1), ("xN", () => embN),
          ("clustered", () => embClustered))
          .foreach { case (side, table) => annRecall(side, table()) }),
      // ---- hot-bucket bound under a PLANTED degenerate bucket: 10k
      // byte-identical docs share every LSH band bucket, so unguarded
      // candidate generation is 10k²/2 pairs in ONE task (the straggler
      // that kills a 100 TB run). Above the cap the self-join degrades
      // to star candidates vs the bucket-min — the pipeline must finish
      // in normal time, emit the cluster's 9 999 verified star pairs
      // (NOT zero: a drop would let the whole cluster through a dedup),
      // and warn-log the mass (graft_hot_buckets_star above). ----
      guard("hot_bucket_guard_degenerate") { name =>
        val degen = spark.range(10000)
          .select($"id".as("doc_id"),
            lit("the same degenerate boilerplate text repeated across " +
              "every copy of this planted document forever and ever").as("text"))
          .union(docs1.select($"doc_id" + 1000000L, $"text"))
        val tGuard = time(Dedup
          .minHashDupPairs(degen, 0.5, maxBucket = 1000).count())
        println(f"""{"pipeline":"$name","sec":$tGuard%.2f,"planted":10000,"cap":1000}""")
      },
      // ---- span dedup under a PLANTED corpus-wide mega-span: 1M docs
      // all opening with the SAME 10-token boilerplate chunk (plus a
      // unique tail chunk each). The first-occurrence decision sees one
      // span key with 1M occurrences — under the pre-round-8 row_number
      // window that is a single-task sort of 1M rows (the skewed-key
      // straggler VERDICT r7 flagged); under the min(struct) aggregate
      // the hot key combines map-side and no task ever co-locates it.
      // Plant sized so the straggler would dominate: pass = finishing in
      // aggregate-shaped time, and doc 0 alone keeping the boilerplate. ----
      // EXACTLY spanWords (10) tokens, so every doc's chunk 0 is this
      // span verbatim and chunk 1 is its unique tail
      guard("span_dedup_mega_span") { name =>
        val boiler = "all rights reserved legal copyright notice template " +
          "header boilerplate words"
        val megaSpan = spark.range(1000000L).select($"id".as("doc_id"),
          concat(lit(boiler + " "),
            concat_ws(" ", (0 until 10).map(i => concat(lit(s"u${i}_"), $"id")): _*))
            .as("text"))
        val tSpan = time {
          val out = Dedup.dedupSpans(megaSpan, spanWords = 10)
          // survivors of the boilerplate span: exactly doc 0
          val keepers = out.filter($"text".startsWith(boiler)).count()
          require(keepers == 1L, s"mega-span must keep exactly 1 owner, got $keepers")
        }
        println(f"""{"pipeline":"$name","sec":$tSpan%.2f,"planted":1000000,"span_copies":1000000}""")
      },
      // ---- winnow sub-stage attribution (r18 verdict stretch #7): the
      // composed pipeline family's 'winnow_clean' boundary was its
      // priciest macro-stage (q143 stageTiming: 3.6 of 13.7 s) — this
      // splits it one level deeper with the q143 shape (corpus = the
      // documents table, eval = its 500-doc head). Four cumulative
      // compositions timed separately: corpus_fp the corpus-side
      // fingerprint pass alone, eval_fp the eval pass + distinct set,
      // overlap the full join+threshold, anti the decontaminating
      // anti-join; overlap − corpus_fp − eval_fp ≈ the join's own cost,
      // anti − overlap ≈ the anti-join's. ----
      guard("winnow_substages") { name =>
        val evW = docs1.limit(500)
        val tCorpusFp = time(Winnowing
          .fingerprints(docs1).count())
        val tEvalFp = time(Winnowing
          .fingerprints(evW).select($"fp").distinct().count())
        val tOverlap = time(Winnowing
          .evalOverlap(docs1, evW).count())
        val tAnti = time {
          val flagged = Winnowing
            .evalOverlap(docs1, evW).select($"doc_id")
          // consume the text column (the benchmark-validity lesson: a bare
          // count lets Catalyst prune the anti-join's payload)
          docs1.join(flagged, Seq("doc_id"), "left_anti")
            .agg(sum(length($"text"))).head()
        }
        println(f"""{"pipeline":"$name","corpus_fp_sec":$tCorpusFp%.2f,"eval_fp_sec":$tEvalFp%.2f,"overlap_sec":$tOverlap%.2f,"anti_join_sec":$tAnti%.2f}""")
      },
      // ---- largest-remainder apportionment at 1M KEYS: the remainder
      // rank is the two-level sharded pattern, so a keys-scale weights
      // frame must apportion in aggregate+window-shaped time with the
      // exact-sum contract intact (a global row_number window would
      // sort all 1M remainders in one task). ----
      guard("apportion_1m_keys") { name =>
        val tApp = time {
          val ws = spark.range(1000000L)
            .select($"id".cast("string").as("k"), ($"id" % 1000L + 1L).as("w"))
          val out = Mixture.apportion(ws, "k", "w",
            budget = 1000000000000L)
          val total = out.agg(sum($"quota")).head().getLong(0)
          require(total == 1000000000000L,
            s"apportion must hit the budget exactly, got $total")
        }
        println(f"""{"pipeline":"$name","sec":$tApp%.2f,"keys":1000000,"budget":1000000000000}""")
      },
      // ---- triangle counting under a PLANTED 1M-spoke hub star (plus
      // one planted triangle): a naive wedge enumeration from the hub
      // generates ~5·10¹¹ wedges in one task; degree-ordered orientation
      // ranks the hub HIGHEST, so it receives every spoke edge and emits
      // ZERO wedges — pass = join-shaped time and exactly the planted
      // triangle's three corners. ----
      guard("triangles_megastar") { name =>
        val tTri = time {
          val spokes = spark.range(2L, 1000002L)
            .select(lit(1L).as("src"), $"id".as("dst"))
          val g = spokes.union(
            Seq((2L, 3L)).toDF("src", "dst"))
          val corners = Graph.triangleCounts(g)
            .orderBy($"node").as[(Long, Long)].collect().toSeq
          require(corners == Seq((1L, 1L), (2L, 1L), (3L, 1L)),
            s"mega-star must yield exactly the planted triangle: $corners")
        }
        println(f"""{"pipeline":"$name","sec":$tTri%.2f,"planted":1000000,"triangles":1}""")
      },
      // ---- PageRank broadcast-rank fallback probe (the Graph.scala
      // revisit note, quantified): the iteration join broadcasts the
      // materialized rank table while it fits the 10 MB AQE threshold;
      // past it, the join falls back to shuffle. Run the SAME chain
      // shape at a node count under and over the threshold, measure
      // both, and OBSERVE the join mode on a replica of the iteration
      // join against the returned (localCheckpointed, so size-accurate)
      // rank table — the 100× story as a measured number, not a code
      // comment. ----
      guard("pagerank_rank_join") { name =>
        for ((label, nNodes) <- Seq(("under_10mb", 200000L),
            ("over_10mb", 3000000L))) {
          val chain = spark.range(nNodes - 1L)
            .select($"id".as("src"), ($"id" + 1L).as("dst"))
          var ranks: DataFrame = null
          val tPr = time {
            ranks = Graph.pageRankInt(chain, iters = 3,
              dedupEdges = false)
            require(ranks.count() == nNodes, "rank row per node")
          }
          // replica of the per-iteration contribution join, against the
          // final rank table exactly as the loop would see it. Execute
          // through the probe's OWN QueryExecution (toRdd.count), so the
          // AQE final plan inspected below is the one that actually ran —
          // probe.count() would build a SEPARATE QueryExecution and leave
          // this one un-executed (r17 ADVICE: reading a.executedPlan off
          // an unexecuted AQE root re-materializes stages = a silent
          // second run of the probe)
          val probe = chain.join(
            ranks.withColumnRenamed("node", "src"), "src")
          probe.queryExecution.toRdd.count()
          // match on the plan TREE, not its rendered string: plan strings
          // are capped (spark.sql.maxPlanStringLength) and a truncation
          // before the join node would misreport the mode (r16 ADVICE)
          val finalPlan = probe.queryExecution.executedPlan match {
            case a: org.apache.spark.sql.execution.adaptive
                .AdaptiveSparkPlanExec => a.executedPlan
            case p => p
          }
          // QueryStageExec is a LEAF node — an already-materialized AQE
          // stage hides its subtree from collect/collectFirst, so a join
          // that landed inside a stage would silently report "other"
          // (r17 ADVICE). Recurse through stage boundaries explicitly.
          def joinMode(p: org.apache.spark.sql.execution.SparkPlan)
              : Option[String] = p.collect {
            case _: org.apache.spark.sql.execution.joins
                .BroadcastHashJoinExec => Some("broadcast")
            case _: org.apache.spark.sql.execution.joins
                .SortMergeJoinExec => Some("sort_merge")
            case s: org.apache.spark.sql.execution.adaptive
                .QueryStageExec => joinMode(s.plan)
          }.flatten.headOption
          val mode = joinMode(finalPlan).getOrElse("other")
          println(f"""{"pipeline":"${name}_$label","sec":$tPr%.2f,"nodes":$nNodes,"edges":${nNodes - 1},"iters":3,"rank_join":"$mode"}""")
        }
      },
      // ---- quota sampling under a PLANTED mega-domain: 1M rows all in
      // ONE source key (the web-crawl shape: a single dominant domain).
      // A row_number window would sort the entire key in one reducer
      // task; the BoundedMinIds aggregate carries 100 pairs of state per
      // partition and combines map-side, so the hot key crosses the wire
      // as O(partitions × n) rows. Pass = aggregate-shaped time and
      // EXACTLY n survivors for the hot key. ----
      guard("quota_hot_domain") { name =>
        val tQuota = time {
          val kept = Sampling
            .quotaPerKey(megaDomain, "source", "doc_id", 100)
            .groupBy($"source").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          require(kept("megadomain.example") == 100L,
            s"mega-domain must keep exactly the quota, got $kept")
          require(kept("tail.example") == 100L, s"tail domain off-quota: $kept")
        }
        println(f"""{"pipeline":"$name","sec":$tQuota%.2f,"planted":1000000,"quota":100}""")
      },
      // ---- top-k-by-score under the SAME planted mega-domain: the
      // score-ordered twin must show the same aggregate shape (a
      // row_number window would sort the 1M-row key in one task). Scores
      // are id-derived mod 97, so ~10309 rows tie on each of the top
      // scores and the ascending-id tiebreak is load-bearing: pass =
      // exactly k survivors AND exactly the k smallest ids of the top
      // score band (score 96 → ids ≡ 96 mod 97, ascending). ----
      guard("topk_hot_domain") { name =>
        val tTopK = time {
          val kept = Sampling
            .topKPerKey(megaDomain
                .withColumn("score", ($"doc_id" % 97).cast("double")),
              "source", "doc_id", "score", 100)
            .filter($"source" === "megadomain.example")
            .select($"doc_id").as[Long].collect().sorted.toSeq
          val expect = (0 until 100).map(i => 96L + 97L * i)
          require(kept == expect,
            s"top-k must keep the 100 smallest ids of the top score band; " +
              s"got ${kept.take(5)}... (${kept.size} rows)")
        }
        println(f"""{"pipeline":"$name","sec":$tTopK%.2f,"planted":1000000,"k":100}""")
      },
      // ---- weighted sample under the SAME planted mega-domain: the
      // soft-preference member of the family must show the same
      // bounded-aggregate shape. Weights are id-derived (1..5), so the
      // expected selection is NOT hash order alone — pass = exactly k
      // survivors AND selection identical to the priority-order
      // reference computed on the same frame (a one-off global
      // sort+limit here in the harness; the OPERATOR is what must never
      // sort the hot key in one task). ----
      guard("weighted_hot_domain") { name =>
        val tWeighted = time {
          val weighted = megaDomain
            .withColumn("w", ($"doc_id" % 5 + 1).cast("double"))
          val kept = Sampling
            .weightedSamplePerKey(weighted, "source", "doc_id", "w", 100)
            .filter($"source" === "megadomain.example")
            .select($"doc_id").as[Long].collect().sorted.toSeq
          val prio = Sampling
            .portableHash48($"doc_id".cast("string")).cast("double") / $"w"
          val expect = weighted
            .filter($"source" === "megadomain.example")
            .orderBy(prio, $"doc_id").limit(100)
            .select($"doc_id").as[Long].collect().sorted.toSeq
          require(kept == expect,
            s"weighted sample must equal the priority-order reference; got " +
              s"${kept.take(5)}... vs ${expect.take(5)}...")
        }
        println(f"""{"pipeline":"$name","sec":$tWeighted%.2f,"planted":1000000,"k":100}""")
      },
      // ---- BM25 under a PLANTED stopword query: a term present in
      // EVERY one of 200k docs makes the candidate set the entire
      // corpus — the worst case for per-query top-k. The bounded pair
      // aggregate ships ≤ k pairs per map partition; a row_number window
      // would sort all 200k candidate rows of the one query key in a
      // single reducer task. Pass = aggregate-shaped time, exactly k
      // results, and the deterministic winners: every doc matches ONLY
      // the stopword with tf=1 and identical dl, so scores tie
      // corpus-wide and the doc_id tiebreak must select ids 0..k−1. ----
      guard("bm25_stopword_query") { name =>
        val tBm25 = time {
          val stopCorpus = spark.range(200000L)
            .select($"id".as("doc_id"),
              concat(lit("common filler"), $"id",
                lit(" pad"), $"id", lit(" tail")).as("text"))
          val got = Retrieval.bm25TopK(
              stopCorpus, Seq((1L, "common")).toDF("query_id", "term"), k = 10)
            .orderBy($"rank").select($"doc_id").as[Long].collect().toSeq
          require(got == (0L until 10L),
            s"stopword top-k must be ids 0..9 by the tiebreak, got $got")
        }
        println(f"""{"pipeline":"$name","sec":$tBm25%.2f,"planted":200000,"k":10}""")
      },
      // ---- streaming near-dup under a PLANTED over-cap bucket: 20k
      // byte-identical docs stream into the SAME 7 band buckets. Unbound,
      // per-bucket state grows to 20k and the drain pays the 20k-clique —
      // 7 × 2×10⁸ signature compares in single-bucket tasks. With
      // maxBucket=20 each bucket retains 20 docs, every later arrival
      // compares against exactly 20 — per-arrival work is O(cap), the
      // drain is linear in the stream. Pass = bounded pair count
      // (20·19/2 + 19 980·20 per band, deduped across bands) and
      // completing in stream-floor time. ----
      guard("stream_neardup_capped_hot_bucket") { name =>
        implicit val sqlCtx = spark.sqlContext
        val in = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String)]
        val pairs = graft.streaming.NearDup.pairs(
          in.toDF().toDF("doc_id", "text"), maxHamming = 6, maxBucket = 20)
        @volatile var sunk = 0L
        val q = pairs.writeStream
          .foreachBatch((df: DataFrame, _: Long) => { sunk += df.count(); () })
          .outputMode("append").start()
        val degenText = "identical streaming boilerplate document body " +
          "repeated across every copy in the planted hot bucket"
        val tStream = time {
          (0 until 20).foreach { b =>
            in.addData((0 until 1000).map(i => ((b * 1000 + i).toLong, degenText)))
          }
          q.processAllAvailable()
        }
        q.stop()
        // enforce the pass criterion, like the mega-span's require: a
        // cap regression (stops comparing instead of stops retaining, or
        // stops capping at all) changes this count — it must not survive
        // as just a different number inside a printed line. 7 bands at
        // maxHamming 6; identical docs collide in every band.
        val expected = 20L * 19 / 2 + (20000L - 20) * 20
        require(sunk == 7L * expected,
          s"capped stream must sink exactly 7 x $expected pairs, got $sunk")
        println(f"""{"pipeline":"$name","sec":$tStream%.2f,"planted":20000,"cap":20,"pairs_per_band_expected":$expected,"sunk_rows":$sunk}""")
      },
      // ---- containment guard recall under a PLANTED boilerplate corpus:
      // every doc opens with the same 32-token boilerplate (30 shingles,
      // df = corpus size — exactly the grams the hot-gram cap drops);
      // every even doc's unique content is VERBATIM-contained in its odd
      // successor (true containment 1.0 through pair-private grams). The
      // capped run must (a) recover 100% of the content-backed true
      // pairs — their evidence grams are pair-private, far under any cap
      // — and (b) drop the ONE planted boilerplate-only doc's pairs
      // (its whole vocabulary is capped away): the documented
      // conservative loss, now MEASURED instead of asserted. Overall
      // recall = capped pairs / uncapped pairs quantifies how much of
      // the uncapped answer was boilerplate-driven. ----
      guard("containment_guard_recall") { name =>
        val nPairs = 1000
        val boiler = (0 until 32).map(i => s"b$i").mkString(" ")
        val content = spark.range(nPairs.toLong).select(
          ($"id" * 2).as("doc_id"),
          concat(lit(boiler + " "),
            concat_ws(" ", (0 until 20).map(i => concat(lit(s"c${i}_"), $"id")): _*))
            .as("text"))
        val containing = spark.range(nPairs.toLong).select(
          ($"id" * 2 + 1).as("doc_id"),
          concat(lit(boiler + " "),
            concat_ws(" ", (0 until 20).map(i => concat(lit(s"c${i}_"), $"id")): _*),
            lit(" "),
            concat_ws(" ", (0 until 10).map(i => concat(lit(s"d${i}_"), $"id")): _*))
            .as("text"))
        // one boilerplate-ONLY doc: its containment vs every doc is 1.0
        // uncapped, and exactly the pair class the cap must sacrifice
        val boilerOnly = Seq((2L * nPairs, boiler)).toDF("doc_id", "text")
        val corpus = content.unionByName(containing).unionByName(boilerOnly)
        corpus.write.mode("overwrite").parquet(s"$scratch/containment_plant")
        val plant = spark.read.parquet(s"$scratch/containment_plant")
        def pairSet(cap: Int): Set[(Long, Long)] = Dedup
          .containmentPairs(plant, 0.8, maxBucket = cap)
          .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
        val t0 = System.nanoTime()
        val capped = pairSet(100)
        val tCapped = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val uncapped = pairSet(Int.MaxValue)
        val tUncapped = (System.nanoTime() - t1) / 1e9
        val truePairs = (0 until nPairs)
          .map(i => (2L * i, 2L * i + 1)).toSet
        require(truePairs.subsetOf(uncapped),
          "uncapped run must find every planted content pair")
        require((capped & truePairs) == truePairs,
          s"capped run lost content-backed true pairs: " +
            s"${(truePairs -- capped).take(5)}")
        require(!capped.exists(p => p._1 == 2L * nPairs || p._2 == 2L * nPairs),
          "boilerplate-only doc must drop under the cap (its whole " +
            "vocabulary is hot) — if it pairs, the guard stopped guarding")
        val recallContent = (capped & truePairs).size.toDouble / truePairs.size
        val recallOverall = (capped & uncapped).size.toDouble / uncapped.size
        println(f"""{"pipeline":"$name","planted_pairs":$nPairs,"cap":100,"capped_sec":$tCapped%.2f,"uncapped_sec":$tUncapped%.2f,"content_pair_recall":$recallContent%.4f,"overall_pair_recall":$recallOverall%.4f,"capped_pairs":${capped.size},"uncapped_pairs":${uncapped.size}}""")
      },
      // ---- multi-batch on-disk index lifecycle: ONE persisted corpus
      // index ingests 4 successive batches (each half replays the
      // previous generation's survivors, half is new). The 100 TB
      // contract under test: the corpus is shingled exactly once — at
      // its own ingestion — and every append writes ONLY the batch
      // survivors' rows, so the index's existing parquet files are
      // immutable across the whole lifecycle. Pass = exact accepted
      // count per batch (replayed half dropped, new half kept), index
      // growth exactly Σ accepted, and the pre-lifecycle file listing
      // (name → (bytes, mtime)) unchanged after all four ingestions. ----
      guard("index_lifecycle_4_batches") { name =>
        val idxDir = s"$scratch/corpus_index_lifecycle"
        val fs = Harness.freshDir(spark, idxDir)
        val corpusN = 100000L
        val half = 5000L
        Dedup.buildCorpusIndex(synthDocs(0L, corpusN))
          .write.mode("overwrite").parquet(idxDir)
        def listing() = fs.listStatus(new org.apache.hadoop.fs.Path(idxDir))
          .filter(_.getPath.getName.startsWith("part-"))
          .map(s => s.getPath.getName -> (s.getLen, s.getModificationTime))
          .toMap
        val before = listing()
        var acceptedTotal = 0L
        val tLife = time {
          (0 until 4).foreach { b =>
            // replayed half: batch 0 re-sends corpus docs; later batches
            // re-send the PREVIOUS batch's accepted half — proving
            // survivors really entered the index, not just the seed
            val dupFrom = if (b == 0) 0L else corpusN + (b - 1) * half
            val batch = synthDocs(dupFrom, half)
              .unionByName(synthDocs(corpusN + b * half, half))
            val n = Dedup
              .ingestBatch(spark, idxDir, batch).count()
            require(n == half,
              s"batch $b must accept exactly its new half ($half), got $n")
            acceptedTotal += n
          }
        }
        val after = listing()
        require(before.forall { case (f, v) => after.get(f).contains(v) },
          "corpus index files must be byte-stable across ingestion — an " +
            "append that rewrites them is O(corpus) per batch, not O(batch)")
        require(after.size > before.size,
          "each append must land as new files")
        val rows = spark.read.parquet(idxDir).count()
        require(rows == corpusN + acceptedTotal,
          s"index must grow by exactly the accepted rows: " +
            s"expected ${corpusN + acceptedTotal}, got $rows")
        println(f"""{"pipeline":"$name","sec":$tLife%.2f,"corpus":$corpusN,"batches":4,"accepted":$acceptedTotal}""")
      },
      // ---- windowed-quantiles preflight cost: the opt-in fail-early
      // gate is one extra hash-aggregate pass (sort-free) — measure what
      // that insurance costs on the real q117 shape so the dial's price
      // is a recorded number, not a guess. Pass = identical row counts
      // with and without preflight (the dial is result-invisible on an
      // in-bounds domain). ----
      guard("windowed_quantiles_preflight") { name =>
        val ev = Tables.events(spark, sf)
        ev.count() // warm the scan path so the delta is the extra pass
        val tOff = time(WindowedQuantiles.quantiles(
          ev, "event_type", "ts", "value", "hour", Seq(50, 95)).count())
        val tOn = time(WindowedQuantiles.quantiles(
          ev, "event_type", "ts", "value", "hour", Seq(50, 95),
          preflight = true).count())
        val nOff = WindowedQuantiles.quantiles(
          ev, "event_type", "ts", "value", "hour", Seq(50, 95)).count()
        val nOn = WindowedQuantiles.quantiles(
          ev, "event_type", "ts", "value", "hour", Seq(50, 95),
          preflight = true).count()
        require(nOff == nOn,
          s"preflight must be result-invisible: $nOff vs $nOn rows")
        println(f"""{"pipeline":"$name","off_sec":$tOff%.2f,"on_sec":$tOn%.2f,"overhead":${tOn / tOff}%.2f,"rows":$nOn}""")
      },
      // ---- sketch artifact lifecycle: ONE persisted Bloom blocklist
      // ([[SketchStore]]) probed by N ingestion batches, vs rebuilding
      // the filter from the benchmark corpus per batch — the economics
      // the artifact store exists for (build-once/probe-many). Pass =
      // both paths accept exactly the clean half of every batch (the
      // artifact path is bit-identical to the rebuild path, q121's
      // contract), and the reuse path is cheaper than rebuilds. ----
      guard("sketch_artifact_lifecycle") { name =>
        val artDir = s"$scratch/sketch_artifact_lifecycle"
        Harness.freshDir(spark, artDir)
        // the production shape: a blocklist 400× the batch — the point
        // of the artifact is precisely that re-shingling the benchmark
        // per batch (the Bloomed probe scans it TWICE: filter build +
        // the exact verify join's gram table) dwarfs reading the
        // persisted gram table + stamped filter. At smaller blocklists
        // (measured: 20k docs → 0.95×, 200k → 1.04×) the batch-side
        // probe dominates both paths and the artifact buys nothing —
        // the dial only pays when the reference side is the heavy one.
        val benchN = 2000000L
        val half = 5000L
        val nBatches = 12
        val gramN = 5
        val domain = s"xxhash64($gramN-gram(text))"
        val benchmark = synthDocs(0L, benchN)
        // batch b: `half` clean docs + `half` docs replaying benchmark
        // texts under fresh ids (the contaminated half)
        def batch(b: Int) = synthDocs(benchN + b * half, half)
          .unionByName(synthDocs(b * half / 10, half)
            .select(($"doc_id" + 10000000L).as("doc_id"), $"text"))
        // REBUILD-PER-BATCH: every batch re-scans the benchmark, re-
        // derives the gram table, and re-collects the filter
        var rebuildSurvivors = 0L
        val tRebuild = time {
          (0 until nBatches).foreach { b =>
            // ~6M grams: 2^27 bits ≈ 0.2% fp (2^20 would saturate → no prune)
            rebuildSurvivors += Dedup.decontaminate(batch(b),
              Dedup.Bloomed(benchmark, numBits = 1 << 27), n = gramN).count()
          }
        }
        // BUILD-ONCE: gram table + stamped filter persisted as artifacts
        val tBuild = time {
          val grams = Dedup.benchmarkGrams(benchmark, gramN)
          grams.write.mode("overwrite").parquet(s"$artDir/grams")
          SketchStore.writeBloom(spark,
            Bloom.buildWords(
              spark.read.parquet(s"$artDir/grams"), "gram_h", 1 << 27),
            s"$artDir/bloom", domain)
        }
        // PROBE-MANY: each batch loads the stamped artifacts (cold read,
        // the honest per-job cost) and runs only the probe plan
        var probeSurvivors = 0L
        val tProbe = time {
          (0 until nBatches).foreach { b =>
            probeSurvivors += Dedup.decontaminate(batch(b),
              Dedup.Prebuilt(spark.read.parquet(s"$artDir/grams"),
                SketchStore.readBloom(spark, s"$artDir/bloom", domain)),
              n = gramN).count()
          }
        }
        val expected = nBatches.toLong * half
        require(rebuildSurvivors == expected && probeSurvivors == expected,
          s"both paths must accept exactly the clean half per batch " +
            s"($expected): rebuild=$rebuildSurvivors, artifact=$probeSurvivors")
        // the economics that matter at fleet scale are MARGINAL — see
        // printLifecycle
        printLifecycle(name, nBatches, tRebuild,
          tBuild, tProbe)
      },
      // ---- winnowing fingerprint-index lifecycle: the q140 artifact's
      // serve-many economics (the sketch-lifecycle stance, pointed at
      // the winnowing decontamination family): N ingestion batches
      // probing a persisted eval fingerprint index vs re-winnowing the
      // eval set per batch. The eval side carries the HEAVY text (long
      // docs — benchmarks are prompts+passages), the batches are small:
      // exactly the regime where re-selecting eval fingerprints per
      // batch dwarfs a parquet read of the selected set. Pass = the
      // probe path flags the identical doc set (q140's invisibility
      // contract) and beats rebuilds on marginal cost. ----
      guard("winnow_index_lifecycle") { name =>
        val wDir = s"$scratch/winnow_index_lifecycle"
        Harness.freshDir(spark, wDir)
        // eval docs: 2500 × factor docs of 60 id-salted tokens each
        // (fingerprints are disjoint across ids) — the heavy EVAL side
        // scales with the amplification factor so the octave ladder
        // means something for this family (16× reproduces the
        // historical fixed 40k-doc size; 64× is the 160k tier); batch
        // docs: 2k docs × 12 tokens, half of them REPLAYING an eval
        // doc's first 12 tokens (≥ w+k−1 run → flagged by the
        // detection guarantee)
        def evalText(idc: org.apache.spark.sql.Column) = concat_ws(" ", (0 until 60).map(j =>
          concat(lit(s"t$j"), idc * (2 * j + 1))): _*)
        val evalN = 2500L * factor
        val evalDocs = spark.range(evalN)
          .select($"id".as("doc_id"), evalText($"id").as("text"))
        def cleanText(idc: org.apache.spark.sql.Column) = concat_ws(" ", (0 until 12).map(j =>
          concat(lit(s"c$j"), idc * (2 * j + 3))): _*)
        def contamText(idc: org.apache.spark.sql.Column) = concat_ws(" ", (0 until 12).map(j =>
          concat(lit(s"t$j"), idc * (2 * j + 1))): _*)
        val halfW = 1000L
        val nBatchesW = 12
        def batchW(b: Int) = spark.range(1000000L + b * halfW,
            1000000L + (b + 1) * halfW)
          .select($"id".as("doc_id"), cleanText($"id").as("text"))
          .unionByName(spark.range(b * halfW, (b + 1) * halfW)
            .select(($"id" + 2000000L).as("doc_id"),
              // mod keeps the replayed id inside the eval corpus at
              // every factor (12 batches × 1000 could exceed a small
              // evalN); each contaminated doc still replays SOME eval
              // doc, so the flagged count per batch stays halfW
              contamText($"id" % evalN).as("text")))
        var rebuildFlagged = 0L
        val tRebuildW = time {
          (0 until nBatchesW).foreach { b =>
            rebuildFlagged += Winnowing
              .evalOverlap(batchW(b), evalDocs, minShared = 1).count()
          }
        }
        val tBuildW = time {
          Winnowing.writeFingerprintIndex(evalDocs,
            s"$wDir/idx")
        }
        var probeFlagged = 0L
        val tProbeW = time {
          (0 until nBatchesW).foreach { b =>
            probeFlagged += Winnowing
              .evalOverlapFromIndex(batchW(b), s"$wDir/idx",
                minShared = 1).count()
          }
        }
        val expectedW = nBatchesW.toLong * halfW
        require(rebuildFlagged == expectedW && probeFlagged == expectedW,
          s"both paths must flag exactly the contaminated half per batch " +
            s"($expectedW): rebuild=$rebuildFlagged, artifact=$probeFlagged")
        printLifecycle(name, nBatchesW, tRebuildW,
          tBuildW, tProbeW)

        // ---- index APPEND vs full rebuild: a new eval suite lands (5%
        // of the accumulated eval corpus — the realistic ratio: suites
        // arrive one at a time against years of accumulated benchmarks).
        // The append pays winnowing the NEW suite + one parquet scan of
        // the existing fingerprint set; the rebuild re-winnows all 42k
        // docs. Pass = the two indexes hold the IDENTICAL fingerprint
        // set (append ≡ rebuild-on-union, the WinnowingSpec contract, at
        // scale) and the append wins on wall-clock. ----
        val newSuiteN = evalN / 20 // 5% of the accumulated eval corpus
        val newSuite = spark.range(evalN, evalN + newSuiteN)
          .select($"id".as("doc_id"), evalText($"id").as("text"))
        val tAppend = time {
          Winnowing
            .appendToFingerprintIndex(newSuite, s"$wDir/idx")
        }
        val tFullRebuild = time {
          Winnowing.writeFingerprintIndex(
            evalDocs.unionByName(newSuite), s"$wDir/idx_rebuilt")
        }
        val appFps = Winnowing
          .readFingerprintIndex(spark, s"$wDir/idx")
        val rebFps = Winnowing
          .readFingerprintIndex(spark, s"$wDir/idx_rebuilt")
        require(appFps.exceptAll(rebFps).isEmpty &&
          rebFps.exceptAll(appFps).isEmpty,
          "appended index must hold the rebuild's exact fingerprint set")
        println(f"""{"pipeline":"winnow_index_append","new_docs":$newSuiteN,"eval_docs":$evalN,"append_sec":$tAppend%.2f,"rebuild_sec":$tFullRebuild%.2f,"speedup":${tFullRebuild / tAppend}%.2f}""")
      },
      // ---- materialized rollup maintenance: a persisted daily rollup
      // refreshed by N ingestion batches (aggregate the delta, merge
      // with the COLD previous rollup) vs recomputing from the ever-
      // growing history each batch — the O(|delta| + |rollup|) vs
      // O(|history|) economics [[graft.operators.MaterializedRollup]]
      // exists for. Pass = the final incremental readout is IDENTICAL
      // to the final recompute's (the merge-algebra gate, at scale,
      // after N real merge generations) and the incremental path's
      // marginal batch cost beats the recompute's.
      guard("rollup_maintenance") { name =>
        val dir = s"$scratch/rollup_maintenance"
        Harness.freshDir(spark, dir)
        val t0us = 1704067200000000L // 2024-01-01, epoch µs
        def synthEvents(from: Long, n: Long) = spark.range(from, from + n)
          .select(concat(lit("type_"), $"id" % 8).as("event_type"),
            timestamp_micros(lit(t0us) + ($"id" % 30) * 86400000000L +
              ($"id" % 86400L) * 1000000L).as("ts"),
            (($"id" % 1000L).cast("double") / 10.0).as("value"))
        // history large enough that the rescan dominates the per-job
        // fixed overhead — measured ladder on this box: 4M history →
        // 1.08× marginal, 20M → 1.19× (the ~1.2 s/batch local job
        // floor hides the asymmetry), 100M → the rescan is finally the
        // visible term. The operator's regime is precisely the one
        // where history no longer fits a casual rescan.
        val histN = 100000000L
        val deltaN = 500000L // each ingestion batch: 0.5% of history
        val nBatches = 5
        synthEvents(0L, histN).write.mode("overwrite")
          .parquet(s"$dir/delta_0")
        (1 to nBatches).foreach { b =>
          synthEvents(histN + (b - 1) * deltaN, deltaN)
            .write.mode("overwrite").parquet(s"$dir/delta_$b")
        }
        // one-time initial build (both paths would pay it)
        val tBase = time {
          MaterializedRollup.aggregate(spark.read.parquet(s"$dir/delta_0"))
            .write.mode("overwrite").parquet(s"$dir/rollup_0")
        }
        // INCREMENTAL: each batch aggregates its delta and merges with
        // the cold persisted rollup — history is never re-read
        val tInc = time {
          (1 to nBatches).foreach { b =>
            MaterializedRollup.merge(Seq(
                spark.read.parquet(s"$dir/rollup_${b - 1}"),
                MaterializedRollup.aggregate(
                  spark.read.parquet(s"$dir/delta_$b"))))
              .write.mode("overwrite").parquet(s"$dir/rollup_$b")
          }
        }
        // RECOMPUTE-PER-BATCH: each batch rescans history + all deltas
        val tRe = time {
          (1 to nBatches).foreach { b =>
            MaterializedRollup.aggregate(spark.read.parquet(
                (0 to b).map(i => s"$dir/delta_$i"): _*))
              .write.mode("overwrite").parquet(s"$dir/recompute_$b")
          }
        }
        val incFinal = MaterializedRollup.readout(
            spark.read.parquet(s"$dir/rollup_$nBatches"))
          .orderBy($"event_type", $"day").collect().toSeq
        val reFinal = MaterializedRollup.readout(
            spark.read.parquet(s"$dir/recompute_$nBatches"))
          .orderBy($"event_type", $"day").collect().toSeq
        require(incFinal == reFinal && incFinal.nonEmpty,
          s"incremental rollup diverged from recompute after $nBatches " +
            s"merges: ${incFinal.size} vs ${reFinal.size} rows")
        val marginalInc = tInc / nBatches
        val marginalRe = tRe / nBatches
        require(marginalInc < marginalRe,
          "the incremental path must beat recompute on marginal cost")
        println(f"""{"pipeline":"$name","batches":$nBatches,"base_sec":$tBase%.2f,"incremental_sec":$tInc%.2f,"recompute_sec":$tRe%.2f,"marginal_speedup":${marginalRe / marginalInc}%.2f}""")
      },
      // ---- per-file Bloom index economics: point lookups on an
      // UNCLUSTERED key over a 64-file table — min/max stats prune
      // nothing (every file spans the key range), so the honest
      // comparison is full-scan-filter vs index-pruned read, in the
      // serve-many pattern the handle exists for (load + staleness check
      // ONCE, probe repeatedly — a one-shot lookup pays the load and
      // loses at small scale, the rollup-floor lesson). Breakeven counts
      // the lookups that pay off build + load. Exactness required. ----
      guard("bloom_index") { name =>
        val dir = s"$scratch/bloom_index"
        val n = 16000000L * factor
        // key clustered by hash into files, ids scattered — the lookup
        // key concentrates in ONE file but no min/max stat knows it
        spark.range(n)
          .select($"id", ($"id" % 100000L).as("key"),
            ($"id" * 31L % 997L).as("payload"))
          .repartition(64, $"key")
          .write.mode("overwrite").parquet(s"$dir/data")
        val probes = Seq(17L, 4242L, 99999L, 31337L)
        def fullLookup(k: Long): Long =
          spark.read.parquet(s"$dir/data").where($"key" === k).count()
        val expected = probes.map(fullLookup) // warm the scan path
        val tFull = time(probes.foreach(fullLookup))
        val tBuild = time(graft.sources.Lake.buildBloomIndex(
          spark, s"$dir/data", "key", s"$dir/idx", numBits = 1 << 20))
        var idx: graft.sources.Lake.BloomIndex = null
        val tLoad = time {
          idx = graft.sources.Lake.loadBloomIndex(
            spark, s"$dir/data", s"$dir/idx", "key")
        }
        def prunedLookup(k: Long): Long = idx.read(k).count()
        val warm = probes.map(prunedLookup)
        require(warm == expected,
          s"index-pruned lookups diverged from the full scan: $warm vs " +
            s"$expected")
        val tPruned = time(probes.foreach(prunedLookup))
        val perFull = tFull / probes.size
        val perPruned = tPruned / probes.size
        val breakeven = (tBuild + tLoad) /
          math.max(perFull - perPruned, 1e-9)
        println(f"""{"pipeline":"${name}_lookup","rows":$n,"files":64,"lookups":${probes.size},"full_per_lookup_sec":$perFull%.3f,"pruned_per_lookup_sec":$perPruned%.3f,"build_sec":$tBuild%.2f,"load_sec":$tLoad%.2f,"speedup":${perFull / perPruned}%.2f,"breakeven_lookups":$breakeven%.1f}""")

        // ---- index APPEND vs full rebuild: one ingestion batch lands
        // (~3% of the lake — the realistic per-batch ratio), making the
        // index stale. The day-2 choice: appendBloomIndex scans ONLY the
        // new files + the existing (tiny) words table; the rebuild
        // re-scans the whole lake. Pass = the appended index is
        // WORD-IDENTICAL to a rebuild on the union (per-file words are
        // independent — the LakeBloomIndexSpec contract, at scale) and
        // lookups stay exact across old and new keys. ----
        val newN = n / 32 // ~3% of rows, landing as 2 new files
        spark.range(n, n + newN)
          .select($"id", (lit(100000L) + $"id" % 1000L).as("key"),
            ($"id" * 31L % 997L).as("payload"))
          .repartition(2, $"key")
          .write.mode("append").parquet(s"$dir/data")
        val tAppendB = time(graft.sources.Lake.appendBloomIndex(
          spark, s"$dir/data", "key", s"$dir/idx"))
        val tRebuildB = time(graft.sources.Lake.buildBloomIndex(
          spark, s"$dir/data", "key", s"$dir/idx_rebuilt",
          numBits = 1 << 20))
        val wA = spark.read.parquet(s"$dir/idx/words")
        val wR = spark.read.parquet(s"$dir/idx_rebuilt/words")
        require(wA.exceptAll(wR).isEmpty && wR.exceptAll(wA).isEmpty,
          "appended bloom index must hold the rebuild's exact words")
        val idx2 = graft.sources.Lake.loadBloomIndex(
          spark, s"$dir/data", s"$dir/idx", "key")
        // one old key (now spans old+new files? no — new keys are
        // disjoint at +100000) and one new-file-only key, both exact
        require(idx2.read(4242L).count() == fullLookup(4242L),
          "old key lookup diverged after append")
        require(idx2.read(100007L).count() == fullLookup(100007L) &&
          idx2.read(100007L).count() > 0L,
          "new-file key lookup diverged after append")
        println(f"""{"pipeline":"${name}_append","new_rows":$newN,"lake_rows":${n + newN},"append_sec":$tAppendB%.2f,"rebuild_sec":$tRebuildB%.2f,"speedup":${tRebuildB / tAppendB}%.2f}""")
      })
  }
}
