package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** SQL-name registration for the library's custom Catalyst functions —
  * the surface that makes every native kernel here reachable from pure
  * `spark.sql(...)`, not just the Scala Column API (a library consumer
  * living in SQL notebooks shouldn't need a Scala import to call a
  * bounded aggregate).
  *
  * Two installation paths, mirroring [[graft.plans.BinRangeJoin]]:
  *  - builder-time: `spark.sql.extensions=graft.plans.GraftExtensions`
  *    (which calls [[register]] via `injectFunction`), or
  *  - runtime: `SqlRegistry.install(spark)` on a live session.
  *
  * Static-arg contract: bounds like `n`/`k` must be INTEGER LITERALS
  * in the SQL (`bounded_min_ids(key, id, 100)`) — they size aggregation
  * buffers at plan time, so a column reference there is meaningless and
  * fails analysis loudly.
  *
  * DELIBERATELY NOT REGISTERED (Column/DataFrame-API-only by design,
  * spec-pinned so a drift is a loud test failure, not an accident):
  *  - Bloom membership ([[graft.operators.Bloom.mightContain]]): not a
  *    Catalyst expression but a COMPOSITION of builtins over a
  *    driver-built `Filter` whose 2²⁰-bit word array embeds in the
  *    plan as a literal. A SQL name would need that array typed into
  *    the query text (or a plan-time side channel); the honest SQL
  *    path is the one the generated plan already uses — pure builtin
  *    element_at/shift/mask calls, no custom name required.
  *  - Count-Min estimates ([[graft.operators.CountMin.estimate]]):
  *    the same shape as Bloom — a builtin composition (element_at +
  *    least) over a driver-built sketch embedded as a plan literal;
  *    no custom name exists to register.
  *  - Perceptual hash ([[graft.sources.Multimodal.withPerceptualHash]]):
  *    a JVM media codec over binary columns, runnable only via
  *    `mapPartitions` (the library's one sanctioned mapPartitions
  *    family — a Catalyst expression cannot host ImageIO). Registering
  *    it as a SQL UDF would put an interpreted black box in a surface
  *    that promises codegen'd kernels; SQL users get the OUTPUT
  *    (phash0/phash1 columns persisted by the multimodal pipeline),
  *    not the decode itself.
  */
object SqlRegistry {

  private def intLit(e: Expression, fn: String, pos: Int): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType)
        if v >= Int.MinValue && v <= Int.MaxValue => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: argument ${pos + 1} must be an INTEGER LITERAL (it sizes " +
        s"plan-time state), got $other")
  }

  // 5-arg ExpressionInfo is (className, db, name, usage, arguments) —
  // the 3-arg form is (className, db, NAME), which would garble
  // DESCRIBE FUNCTION output (usage shown as the name)
  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft.functions", null, name, usage, "")

  /** (name, usage, builder) for every SQL-callable custom function. */
  val functions: Seq[(String, String, FunctionBuilder)] = Seq(
    ("bounded_min_ids",
      "bounded_min_ids(sortKey, id, n) - ids of the n smallest " +
        "(sortKey, id) pairs, partial-aggregatable (no window sort)",
      (args: Seq[Expression]) =>
        BoundedMinIds(args(0), args(1), intLit(args(2), "bounded_min_ids", 2))),
    ("bounded_max_by_score",
      "bounded_max_by_score(score, id, n) - ids of the n best " +
        "(score DESC, id ASC) pairs, partial-aggregatable",
      (args: Seq[Expression]) =>
        BoundedMaxByScore(args(0), args(1),
          intLit(args(2), "bounded_max_by_score", 2))),
    ("bounded_max_long_pairs",
      "bounded_max_long_pairs(score, id, n) - the n best (score DESC, " +
        "id ASC) pairs as structs, integer scores, partial-aggregatable",
      (args: Seq[Expression]) =>
        BoundedMaxLongPairs(args(0), args(1),
          intLit(args(2), "bounded_max_long_pairs", 2))),
    ("kmv_min_hashes",
      "kmv_min_hashes(hash, k) - KMV distinct sketch: the k smallest " +
        "distinct non-negative hashes, ascending",
      (args: Seq[Expression]) =>
        KmvMinHashes(args(0), intLit(args(1), "kmv_min_hashes", 1))),
    ("word_shingles",
      "word_shingles(text, n) - distinct word n-grams (fewer than n " +
        "tokens yield one all-tokens gram)",
      (args: Seq[Expression]) =>
        WordShingles(args(0), intLit(args(1), "word_shingles", 1))),
    ("minhash_sig",
      "minhash_sig(shingles, k) - k-permutation MinHash signature of a " +
        "shingle array",
      (args: Seq[Expression]) =>
        MinHashSig(args(0), intLit(args(1), "minhash_sig", 1))),
    ("simhash96_portable",
      "simhash96_portable(shingles) - fused 96-bit portable SimHash " +
        "(both 48-bit words from ONE md5 digest per shingle)",
      (args: Seq[Expression]) => SimHash96Portable(args(0))),
    ("jaccard_sim",
      "jaccard_sim(a, b) - exact Jaccard similarity of two arrays in " +
        "one fused hash-set pass",
      (args: Seq[Expression]) => JaccardSim(args(0), args(1))),
    ("dot_product",
      "dot_product(a, b) - double-array dot product (codegen'd, no " +
        "higher-order-function interpretation; float arrays widen " +
        "exactly) - same name as the legacy temp-function registration",
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))

  /** Builder-time path: called by
    * [[graft.plans.GraftExtensions]].injectFunction. */
  def descriptions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] =
    functions.map { case (name, usage, builder) =>
      (FunctionIdentifier(name), info(name, usage), builder)
    }

  /** Runtime path: register on a live session (idempotent — re-install
    * overwrites with identical builders). */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    descriptions.foreach { case (id, inf, builder) =>
      registry.registerFunction(id, inf, builder)
    }
  }
}
