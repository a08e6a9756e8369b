package graft

import org.apache.spark.sql.execution.{CollectMetricsExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}

/** Global plan-quality gate over EVERY driver-contract query: the
  * physical plan must contain
  *
  *  - no unpartitioned WindowExec (whole dataset on one task at scale),
  *  - no CartesianProduct (O(n·m) pair blowup),
  *  - no BroadcastNestedLoopJoin except where it is the operator's
  *    definition (exact brute-force ANN scans query × corpus by design;
  *    its scale path is the LSH/IVF variant).
  *
  * This turns the COVERAGE.md scale claims ("every candidate generator
  * is a bucket equi-join, nothing is O(n²), no global windows") into an
  * enforced invariant for all current and future queries.
  */
class PlanQualitySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // exact brute-force ANN is BY DESIGN a broadcast nested loop over the
  // tiny query set (q24 on raw embeddings, q60 on stub-featurized media)
  // q24/q60: bounded query set broadcast against the corpus;
  // q79: a ONE-row grand-total frame broadcast against vocab-sized
  // counts — both NLJ shapes are linear in the big side, not quadratic
  private val nestedLoopAllowed =
    // q85's non-equi pair join (slice_a < slice_b) runs on the
    // POST-aggregate sketch table — one k-long array per slice, bounded
    // by slice count, never corpus size — the same bounded-side class
    // as q79's 1-row grand-total cross join
    // q106 broadcasts a ONE-row corpus token total against the
    // (pruned) bigram count table — q79's linear 1-row NLJ shape
    // q138/q145/q146/q147 broadcast a ONE-row train-vocabulary total
    // against the candidate bigram stream — the same linear 1-row
    // class (all inherit it through bigramSurprisalHeldOut; q147
    // through the pipeline's bandTrain stage, q151 through bandTrain
    // AND the reweighted balancing stage)
    Set("q24_ann_topk", "q60_multimodal_ann", "q79_corpus_divergence",
      "q85_kmv_overlap", "q106_collocations", "q138_heldout_surprisal",
      "q145_heldout_band", "q146_heldout_reweight",
      "q147_pipeline_heldout_band", "q151_pipeline_heldout_reweight")

  test("q28 band self-join reuses the signature shuffle stage (the no-cache contract)") {
    // the SimHash pair join deliberately does NOT cache its signature
    // projection: both join sides shuffle the same canonical banded
    // child, so AQE's exchange reuse must compute the md5 kernel once.
    // If a plan change ever breaks that canonical equality, this gate
    // fails before the 2× kernel cost ships.
    // hermetic: a cache pin leaked by ANOTHER suite's plan sweep
    // rewrites matching subtrees into InMemoryRelations whose stats
    // flip this band join to broadcast — then there is no exchange to
    // reuse and the gate fails against a plan no fresh session (or
    // production run) would produce
    spark.catalog.clearCache()
    val df = SparkEntry.queries("q28_simhash_dedup")(spark, sf)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    val reused = plan.linesIterator.count(l =>
      l.contains("ReusedQueryStage") || l.contains("ReusedExchange"))
    assert(reused >= 1, s"no reused stage in final q28 plan:\n$plan")
  }

  test("band self-joins of q27/q39/q64 join in place: sort-merge, no " +
      "broadcast of a hot-bucket window, pin materialized or not") {
    // every action a query runs, its eager stages included
    def executedPlans(q: String): Seq[SparkPlan] =
      Explain.executedPlans(spark)(SparkEntry.queries(q)(spark, sf).collect())
        .map(_._2)
    // into adaptive stages and into the plans that filled a pin
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case o => o.children
    }
    // the join nearest above each star guard's metrics node
    def starJoins(p: SparkPlan, above: Option[SparkPlan]): Seq[SparkPlan] =
      p match {
        case c: CollectMetricsExec
            if c.name.startsWith("graft_hot_buckets_star/") => above.toSeq
        case j: BaseJoinExec => kids(j).flatMap(starJoins(_, Some(j)))
        case o => kids(o).flatMap(starJoins(_, above))
      }
    // a broadcast that reaches a hot-bucket window without a join
    // between them ships that window's output
    def windowBroadcast(p: SparkPlan, under: Boolean): Boolean = p match {
      case w: WindowExec if w.windowExpression.exists(_.name == "__bsz") =>
        under || kids(w).exists(windowBroadcast(_, under))
      case b: BroadcastExchangeExec => kids(b).exists(windowBroadcast(_, true))
      case j: BaseJoinExec => kids(j).exists(windowBroadcast(_, false))
      case o => kids(o).exists(windowBroadcast(_, under))
    }
    spark.catalog.clearCache()
    // the first pass plans over cold pins; the second re-plans the same
    // queries over the pins the first pass materialized
    for (pass <- Seq("cold pins", "materialized pins");
        q <- Seq("q27_minhash_dedup", "q39_dedup_corpus_near",
          "q64_incremental_dedup")) {
      val plans = executedPlans(q)
      val joins = plans.flatMap(starJoins(_, None))
      assert(joins.nonEmpty, s"$q ($pass): no star band join found")
      val other = joins.filterNot(_.isInstanceOf[SortMergeJoinExec])
      assert(other.isEmpty, s"$q ($pass): star band join is not the " +
        s"merge-hinted sort-merge join:\n${other.take(1).mkString}")
      assert(!plans.exists(windowBroadcast(_, false)),
        s"$q ($pass): a hot-bucket window's output is broadcast")
    }
    spark.catalog.clearCache()
  }

  test("decontamination probes: q68 verifies gram hashes with no Bloom " +
      "filter; q86/q116/q121 Bloom-prune under the gram_h verify join") {
    object Plans extends AdaptiveSparkPlanHelper
    spark.catalog.clearCache()
    // the probe filter tests the key's second hash, xxhash64(gram_h)
    def bloomProbed(q: String): Boolean = {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect() // finalize the adaptive plan
      val verify = Plans.collect(df.queryExecution.executedPlan) {
        case j: BaseJoinExec
            if j.leftKeys.exists(_.references.exists(_.name == "gram_h")) => j
      }
      assert(verify.nonEmpty, s"$q: no gram_h verify join")
      verify.exists(j => Plans.find(j) {
        case f: FilterExec => f.condition.toString.contains("xxhash64(gram_h")
        case _ => false
      }.isDefined)
    }
    assert(!bloomProbed("q68_decontaminate"), "q68 is the exact hash join")
    for (q <- Seq("q86_bloom_decontaminate", "q116_contamination_frac",
        "q121_sketch_artifact_decontaminate"))
      assert(bloomProbed(q), s"$q: no Bloom probe under the verify join")
  }

  test("q79 divergence computes its four aggregates over ONE corpus shuffle (exchange reuse)") {
    // tokenDivergence re-aggregates the (slice, token) counts three
    // more times (global / per-slice totals / grand total); all four
    // hang off the SAME canonical shuffle, so AQE must reuse the
    // exchange — otherwise the 100 TB corpus is scanned and shuffled
    // four times instead of once
    spark.catalog.clearCache() // hermetic — the q28 gate's argument
    val df = SparkEntry.queries("q79_corpus_divergence")(spark, sf)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    val reused = plan.linesIterator.count(l =>
      l.contains("ReusedQueryStage") || l.contains("ReusedExchange"))
    assert(reused >= 3, s"expected ≥3 reused corpus-count stages in " +
      s"final q79 plan, found $reused:\n$plan")
  }

  test("q80 replication is a pure narrow op — zero exchanges before the presentation sort") {
    // replicateByWeight is projection + filter + generate only; any
    // Exchange in its plan would mean the copy fan-out shuffles the
    // corpus. The query's trailing orderBy (presentation for the
    // oracle) is the single allowed range exchange.
    val plan = SparkEntry.queries("q80_mixture_replicate")(spark, sf)
      .queryExecution.sparkPlan
    val exchanges = plan.collectWithSubqueries {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.outputPartitioning.getClass.getSimpleName
    }
    assert(exchanges.forall(_.contains("RangePartitioning")),
      s"replication itself must not shuffle (only the presentation " +
        s"sort may): $exchanges")
    assert(exchanges.size <= 1, s"expected ≤1 exchange: $exchanges")
  }

  test("unbounded streaming monitors (q97/q112/q118) run " +
      "flatMapGroupsWithState with NoTimeout and no event-time watermark") {
    // a micro-batch's executed plan reaches the listener bus with its
    // SQL execution start event; the drain inside the query hides the
    // StreamingQuery itself
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          plans.add(s.physicalPlanDescription)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try for (q <- Seq("q97_stream_funnel", "q112_stream_anomaly",
        "q118_stream_quantiles")) {
      plans.clear()
      SparkEntry.queries(q)(spark, sf).collect()
      def fmgws = plans.toArray(Array.empty[String])
        .find(_.contains("FlatMapGroupsWithState"))
      val deadline = System.currentTimeMillis + 30000
      while (fmgws.isEmpty && System.currentTimeMillis < deadline)
        Thread.sleep(50)
      val plan = fmgws.getOrElse(fail(s"$q: no FlatMapGroupsWithState plan"))
      assert(plan.contains("NoTimeout") && !plan.contains("EventTimeTimeout"),
        s"$q:\n$plan")
      assert(!plan.contains("EventTimeWatermark"), s"$q:\n$plan")
      info(q + ": " + plan.linesIterator.find(_.contains("NoTimeout")).get.trim)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("q70 span dedup decides first-occurrence with a partial aggregate, not a window sort") {
    // the "first (id, idx) per chunk" decision must be min(struct(..))
    // — partial-aggregatable, so a corpus-boilerplate span repeated
    // across millions of docs combines map-side (Spark plans the
    // struct min as SortAggregate — fine: that sort is per-partition
    // and pre-combine, bounded by partition size, never by key
    // frequency). A row_number window partitioned by raw span text
    // (the pre-round-8 shape) instead sorts every occurrence of the
    // hottest span in ONE reducer task — the skewed-key straggler
    // class HotBuckets guards everywhere else.
    val plan = SparkEntry.queries("q70_span_dedup")(spark, sf)
      .queryExecution.sparkPlan
    val windows = plan.collectWithSubqueries { case w: WindowExec => w.nodeName }
    assert(windows.isEmpty,
      s"q70 must not contain any WindowExec (hot-span skew): $windows")
    val partialFirst = plan.collectWithSubqueries {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
        if a.aggregateExpressions.exists(e =>
          e.aggregateFunction.toString.contains("min") &&
            e.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial) =>
        a.nodeName
    }
    assert(partialFirst.nonEmpty,
      "expected a partial (map-side combinable) min aggregate for the " +
        s"first-occurrence decision:\n$plan")
  }

  for (name <- Seq("q75_domain_quota", "q77_quality_topk",
      "q78_weighted_sample")) {
    test(s"$name selects per-key rows with a partial bounded aggregate, " +
        "not a window sort") {
      // the quota/top-k family's whole point is replacing the
      // row_number window (sorts EVERY row of the hottest domain in
      // one reducer task) with a bounded aggregate that combines
      // map-side — so these plans must contain NO WindowExec at all
      // (the generic gate below only rejects GLOBAL windows) and the
      // bounded aggregate must appear in Partial mode
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.sparkPlan
      val windows = plan.collectWithSubqueries { case w: WindowExec => w.nodeName }
      assert(windows.isEmpty,
        s"$name must not contain any WindowExec (hot-domain skew): $windows")
      val partialBounded = plan.collectWithSubqueries {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.aggregateExpressions.exists(e =>
            e.aggregateFunction.prettyName.startsWith("bounded_") &&
              e.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial) =>
          a.nodeName
      }
      assert(partialBounded.nonEmpty,
        "expected the bounded selection aggregate in Partial (map-side " +
          s"combinable) mode:\n$plan")
    }
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name: no global window, no cartesian, no accidental nested loop") {
      // the pipeline queries TRUNCATE lineage at macro-stage boundaries
      // under the default stageCheckpoint=local policy — the gate must
      // sweep the FULL composed plan, so pin the policy to `none` here
      // (restored after: other suites measure the production default)
      spark.conf.set(graft.TrainingPipeline.StageCheckpointConf, "none")
      val plan = try fn(spark, sf).queryExecution.sparkPlan
        finally spark.conf
          .unset(graft.TrainingPipeline.StageCheckpointConf)
      val globalWindows = plan.collectWithSubqueries {
        case w: WindowExec if w.partitionSpec.isEmpty => w.nodeName
      }
      assert(globalWindows.isEmpty,
        s"unpartitioned WindowExec — single task at scale: $globalWindows")
      val cartesian = plan.collectWithSubqueries {
        case c: CartesianProductExec => c.nodeName
      }
      assert(cartesian.isEmpty, s"CartesianProduct in plan: $cartesian")
      if (!nestedLoopAllowed(name)) {
        val bnl = plan.collectWithSubqueries {
          case j: BroadcastNestedLoopJoinExec => j.nodeName
        }
        assert(bnl.isEmpty, s"BroadcastNestedLoopJoin in plan: $bnl")
      }
    }
  }
}
