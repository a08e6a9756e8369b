package graft

import graft.operators.Skew
import graft.sources.Lake
import org.apache.spark.sql.functions._

/** Plan-quality gates: these assert the *physical plan shape* that
  * makes queries survive 100 TB — filter/projection pushdown to the
  * parquet scan, broadcast of dimension joins, partition pruning on
  * the date-partitioned lake, partial aggregation, and salted-join
  * row parity. A regression here is a performance bug even when
  * results stay correct.
  */
class PlanChecksSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  // run first: under AQE the final plan (incl. WholeStageCodegen
  // fusion) only exists after execution
  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q02: predicate and projection reach the parquet scan") {
    val p = plan(queries.Relational.q02FilterPushdown(spark, sf))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull(l_shipdate)") || p.contains("GreaterThanOrEqual(l_shipdate"), p)
    // projection pruning: only the needed columns in ReadSchema
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_tax"), readSchema)
  }

  test("q03: dimension joins broadcast; fact join does not") {
    val p = plan(queries.Relational.q03RegionRevenue(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q01: aggregation is partial (map-side combine) then final") {
    val p = plan(queries.Relational.q01PricingSummary(spark, sf))
    assert(p.contains("partial_"), p) // HashAggregate(partial_sum...)
    assert(p.contains("HashAggregate"), p)
  }

  test("whole-stage codegen covers the scan→project→filter pipeline") {
    // codegen stages render as "*(n) Op" in the final adaptive plan
    val p = plan(queries.Relational.q02FilterPushdown(spark, sf))
    assert(p.contains("*(1)") || p.contains("WholeStageCodegen"), p)
  }

  test("lake: date partition pruning shows in the scan") {
    val dir = java.nio.file.Files.createTempDirectory("lake-prune").toString
    val ev = Tables.events(spark, sf)
    Lake.write(ev.select($"event_id", $"ts", $"value"), dir, "ts",
      mode = "overwrite")
    val pruned = Lake.read(spark, dir)
      .filter($"event_date" === "2024-01-03")
    val p = plan(pruned)
    assert(p.contains("PartitionFilters"), p)
    assert(pruned.count() > 0)
    // pruning actually limits partitions read
    val allDates = Lake.read(spark, dir).select($"event_date").distinct().count()
    assert(allDates > 1)
  }

  test("bucketed tables: co-located join runs without a shuffle") {
    for (t <- Seq("b_orders", "b_lineitem")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) org.apache.commons.io.FileUtils.deleteDirectory(loc)
    }
    val o = Tables.orders(spark, sf).select($"o_orderkey", $"o_totalprice")
    val l = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_quantity")
    Lake.writeBucketed(o, "b_orders", "o_orderkey", 8)
    Lake.writeBucketed(l.withColumnRenamed("l_orderkey", "o_orderkey"),
      "b_lineitem", "o_orderkey", 8)
    // force the non-broadcast path so the bucketing (not a broadcast)
    // is what eliminates the exchange
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
      val p = plan(j)
      assert(!p.contains("Exchange hashpartitioning"), p) // no shuffle
      assert(p.contains("SortMergeJoin"), p)
      assert(j.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
  }

  test("salted aggregation: exact parity with plain groupBy") {
    val df = spark.range(0, 5000)
      .select(($"id" % 3).as("k"), ($"id" % 7).cast("double").as("v"),
        $"id".as("rid"))
    val plain = df.groupBy($"k")
      .agg(sum($"v").as("sum_v"), count(lit(1)).as("n"))
      .orderBy($"k").as[(Long, Double, Long)].collect().toSeq
    val salted = Skew.saltedSumCount(df, "k", "v", 16, col("rid"))
      .orderBy($"k").as[(Long, Double, Long)].collect().toSeq
    assert(salted === plain)
  }

  test("no driver-gated query plans a cartesian product or nested loop") {
    // sweep every SparkEntry query's optimized plan at sf0.001 — any
    // operator degenerating to an O(n·m) join is a scale bug even if
    // results are right at test size
    // q24/q60 brute-force ANN *intend* a BroadcastNestedLoopJoin: the
    // broadcast side is the bounded query set, so the plan is linear
    // in the corpus — the legitimate NLJs here (same allowlist as
    // PlanQualitySpec).
    // q79's NLJ broadcasts a ONE-row grand total — linear, intended
    // q85's non-equi pair join runs on the POST-aggregate sketch table
    // (one row per slice) — bounded by slice count, intended
    // q106's NLJ broadcasts a ONE-row corpus token total — linear,
    // intended (q79's shape)
    // q138/q145/q146/q147/q151's NLJ broadcasts a ONE-row train-
    // vocabulary total — linear, intended (q79's shape; inherited
    // through bigramSurprisalHeldOut, q147 via the pipeline's
    // bandTrain stage, q151 via bandTrain + Balance.Reweighted)
    val intendedNlj =
      Set("q24_ann_topk", "q60_multimodal_ann", "q79_corpus_divergence",
        "q85_kmv_overlap", "q106_collocations", "q138_heldout_surprisal",
        "q145_heldout_band", "q146_heldout_reweight",
        "q147_pipeline_heldout_band", "q151_pipeline_heldout_reweight")
    try {
      for ((name, fn) <- SparkEntry.queries if !intendedNlj(name)) {
        // ONE build per query: fn is not free — pipeline queries run
        // eager driver actions and the streaming queries DRAIN a full
        // run just to hand back their sink table — and both plan
        // views hang off the same QueryExecution anyway
        val qe = fn(spark, sf).queryExecution
        val p = qe.optimizedPlan.toString
        assert(!p.contains("Cartesian"), s"$name plans a cartesian:\n$p")
        val phys = qe.executedPlan.toString
        assert(!phys.contains("CartesianProduct") &&
          !phys.contains("BroadcastNestedLoopJoin"),
          s"$name physical plan is nested-loop:\n$phys")
      }
    } finally {
      // session hygiene (the Bench pattern): building 140+ query plans
      // REGISTERS every Hydration pin those queries declare (a
      // `.persist()` call re-plans matching subtrees in EVERY later
      // query of the shared session, materialized or not) — without
      // the clear, a later suite's plan gate sees InMemoryRelations
      // this sweep leaked and asserts against a plan no fresh session
      // would produce (the q28 exchange-reuse gate caught exactly
      // that: a leaked shingle-projection pin flipped its band join
      // to broadcast)
      spark.catalog.clearCache()
    }
  }

  test("asof join plan: one exchange+sort per side, no cartesian") {
    val ev = Tables.events(spark, sf)
    val l = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("le"), $"user_id", $"ts_ns")
    val r = ev.filter($"event_type" === "signup")
      .select($"event_id".as("re"), $"user_id".as("ru"), $"ts_ns".as("rns"))
    val j = plans.AsOf.join(l, r, l("user_id"), r("ru"), l("ts_ns"), r("rns"))
    val p = plan(j)
    assert(p.contains("AsOfJoin"), p) // node renders without Exec suffix
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // AQE prints initial+final trees: 2 hash exchanges each, never more
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 4, p)
  }
}
