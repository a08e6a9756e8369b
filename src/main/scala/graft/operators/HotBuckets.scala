package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** HOT-BUCKET GUARD for every band/bucket candidate join.
  *
  * A bucket with B members yields B² candidate pairs in ONE task — a
  * single degenerate bucket (an empty-string block, a stopword-only
  * shingle set, a zero vector) turns the bucket equi-join the dedup
  * family is built on back into the O(n²) blowup it exists to avoid.
  * The guard drops all rows of any bucket larger than `cap`: members
  * of such a bucket are near-certainly degenerate-feature collisions,
  * and an all-pairs pass over them is exactly the straggler that kills
  * a 100 TB run (standard LSH practice: skip oversized buckets, tune
  * `cap` to the per-task pair budget — cap² pairs per bucket).
  *
  * Cost shape: the size count is a window over the SAME key
  * partitioning the candidate join shuffles on, so the guard adds no
  * extra shuffle and no extra job. The dropped mass is observed
  * LAZILY (`Dataset.observe`) and warn-logged when the query finishes
  * — a cap that fires is a data-quality signal the operator must not
  * swallow silently.
  */
object HotBuckets {

  /** Default cap: never reached by a sane corpus at test SF (buckets
    * there hold near-duplicates only), low enough that a degenerate
    * bucket is bounded at ~10⁸ candidate pairs instead of n². The
    * production dial on every operator that takes `maxBucket`. */
  val DefaultCap = 10000

  private val seq = new java.util.concurrent.atomic.AtomicLong()
  private val registered = new ListenerOnce
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // latest completed-query observation PER SESSION PER TAG — the
  // PROGRAMMATIC channel for the dropped/degraded mass: a warn-log is
  // easy to miss in a library context, and a report-only caller has no
  // other way to learn its recall silently narrowed. Keyed by the
  // call-site TAG, not the full observation name: an earlier ring of
  // 512 names let 512 later guarded queries with OTHER tags evict a
  // tag's last observation, making None after a completed action
  // indistinguishable from "never ran". [[ObservationStore]] carries
  // the retention semantics: weak session keys, latest-per-tag, and
  // eviction only past 512 DISTINCT tags (a dynamic-tag safety net —
  // call-site string literals never reach it).
  private val observations = new ObservationStore[(Long, Long)]()

  // the observation name is "<family>/<what>/<seq>" and lastObservation
  // parses the tag back out by position — a '/' inside the tag would
  // make it silently unqueryable (lift(1) returns its first segment
  // only and every lookup misses), so reject it where the tag enters
  private def requireTag(what: String): Unit =
    require(!what.contains('/'),
      s"hot-bucket tag '$what' must not contain '/' — the observation " +
        "name is '/'-delimited and lastObservation would never match it")

  /** Most recent completed observation in `spark` for a call-site tag
    * (the `what` passed to
    * [[guard]]/[[guardRep]]/[[starSelfJoinCandidates]]):
    * `(affectedRows, maxBucketSize)` — affected = dropped for the
    * drop-guard, degraded-to-representative for the other two; 0 means
    * the guard ran clean, `None` means no query with that tag has
    * COMPLETED in that session yet (observe fires on query completion,
    * so check after the action, not after building the plan).
    * Retention is per tag — other tags' traffic never evicts this
    * tag's latest observation. */
  def lastObservation(what: String,
      spark: SparkSession = SparkSession.active): Option[(Long, Long)] =
    observations.latest(spark, what)

  /** Filter `df` down to rows whose (`keys`) bucket has ≤ `cap`
    * members; oversized-bucket mass is observed, logged on query
    * completion, and queryable via [[lastObservation]]. `what` names
    * the call site. `strict = true` turns the silent drop into a
    * query-time failure: the first oversized-bucket row raises instead
    * of filtering, for callers who would rather die than lose recall
    * (the assert rides the filter condition, so column pruning cannot
    * eliminate it). */
  def guard(df: DataFrame, keys: Seq[String], cap: Int,
      what: String, strict: Boolean = false): DataFrame =
    bounded(sized(df, keys, None, cap, what, ""), keys, None, cap, what,
      "guard", strict).drop("__bsz")

  /** Drop-guard variant for ASYMMETRIC (cross) bucket joins: buckets
    * ≤ `cap` pass through untouched; oversized buckets are reduced to
    * their bucket-min representative row instead of dropped wholesale.
    * The other join side then still verifies against ONE member of a
    * mega-cluster — an incremental-batch doc duplicating an oversized
    * corpus cluster is still caught — while the bucket's contribution
    * to the cross product stays O(1). Same miss class as
    * [[starSelfJoinCandidates]]: matches within the cluster but
    * outside the representative's radius. `strict = true` raises on
    * the first oversized bucket instead of degrading (same contract
    * as [[guard]]'s strict mode). */
  def guardRep(df: DataFrame, keys: Seq[String], idCol: String,
      cap: Int, what: String, strict: Boolean = false): DataFrame =
    bounded(sized(df, keys, Some(idCol), cap, what, "_rep"), keys,
      Some(idCol), cap, what, "rep guard", strict).drop("__bsz", "__bmin")

  /** Bucket SELF-JOIN candidate pairs with a STAR fallback instead of
    * a drop: buckets ≤ `cap` self-join exactly as a guarded join would
    * (≤ cap² candidates per bucket); buckets ABOVE the cap degrade to
    * candidates (bucket-min row, member) — O(B) rows, not B² — that
    * still flow through the caller's verify stage.
    *
    * Why not just drop: a mega-cluster of GENUINE near-duplicates
    * (20k templated pages differing by one word) oversizes every
    * bucket it occupies; a drop-guard then emits zero pairs and a
    * downstream dedup silently keeps all 20k copies — the exact corpus
    * the dedup family exists for. Under the star fallback every member
    * still links to the bucket-min representative, the verify confirms
    * the genuine ones, and connected components collapse the cluster;
    * a degenerate-feature collision bucket (empty shingle set, zero
    * vector) costs O(B) verifies that then simply fail. Recall caveat
    * vs full enumeration: members within the radius of EACH OTHER but
    * not of the representative are missed — the standard star/canopy
    * tradeoff, logged so it is never silent. `strict = true` turns the
    * degradation into a query-time failure (same contract as
    * [[guard]]'s strict mode): callers who would rather die than lose
    * within-cluster recall get full enumeration or an error.
    *
    * Output columns: `keys ++ (id_a, payload_a…, id_b, payload_b…)`
    * with `id_a < id_b` guaranteed; the caller de-duplicates pairs and
    * verifies.
    *
    * Plan shape — no union, and the (possibly expensive) child plan
    * is computed ONCE: both join sides read the SAME windowed frame,
    * so they share one exchange (AQE reuses the materialized stage —
    * the signature kernel below it runs once; the q28 plan gate
    * asserts this). The LEFT side is [[guardRep]] over that window
    * (oversized buckets filtered down to their bucket-min row); the
    * RIGHT side is unfiltered. A small bucket then self-joins fully
    * (`id_a < id_b` halves it as usual); an oversized bucket's only
    * left row is the min id, so the join emits exactly its B−1 star
    * pairs — same output as an explicit small⋃star union at two window
    * passes instead of three. The window rides the join's own shuffle
    * key, and both sides leave it hash-partitioned AND sorted on the
    * keys, so the join is merge-hinted: it runs in place, with no
    * exchange of its own. Unhinted, AQE broadcast one side's window
    * output, and which side depended on size estimates that changed
    * with whether a pinned input was materialized yet — the plan
    * differed from run to run. */
  def starSelfJoinCandidates(df: DataFrame, keys: Seq[String],
      idCol: String, payload: Seq[String], cap: Int,
      what: String, strict: Boolean = false): DataFrame = {
    val all = sized(df, keys, Some(idCol), cap, what, "_star")
    def side(s: DataFrame, tag: String) = s.select(keys.map(col) ++
      (col(idCol).as("id_" + tag) +: payload.map(c => col(c).as(c + "_" + tag))): _*)
    side(bounded(all, keys, Some(idCol), cap, what, "star guard", strict), "a")
      .hint("merge")
      .join(side(all, "b"), keys)
      .filter(col("id_a") < col("id_b"))
  }

  /** The prelude every guard shares: ONE window over the bucket keys
    * (one projection, so both aggregates share one Window operator)
    * adds the bucket size `__bsz` — and, with `idCol`, the bucket-min
    * id `__bmin` — and observes the oversized rows plus the largest
    * bucket as `graft_hot_buckets<family>/<what>/<seq>`. The
    * drop-guard counts the rows it DROPS; the other two count
    * OVERSIZED rows, the kept representative included — rows
    * degraded, not lost. */
  private def sized(df: DataFrame, keys: Seq[String], idCol: Option[String],
      cap: Int, what: String, family: String): DataFrame = {
    require(cap > 0, s"hot-bucket cap must be positive, got $cap")
    requireTag(what)
    ensureListener(df.sparkSession)
    val w = Window.partitionBy(keys.map(col): _*)
    df.select(col("*") +: count(lit(1)).over(w).as("__bsz") +:
        idCol.map(c => min(col(c)).over(w).as("__bmin")).toSeq: _*)
      .observe(s"graft_hot_buckets$family/$what/${seq.incrementAndGet()}",
        sum(when(col("__bsz") > cap, lit(1L)).otherwise(lit(0L)))
          .as(if (family.isEmpty) "dropped_rows" else "oversized_rows"),
        max(col("__bsz")).as("max_bucket"))
  }

  /** Rows of [[sized]] buckets ≤ `cap`, plus each oversized bucket's
    * min-id row when `idCol` is given. `strict`: every row is kept
    * and the first oversized-bucket row raises instead. */
  private def bounded(sized: DataFrame, keys: Seq[String],
      idCol: Option[String], cap: Int, what: String, kind: String,
      strict: Boolean): DataFrame =
    if (strict) sized.filter(assert_true(col("__bsz") <= cap,
      concat(lit(s"hot-bucket $kind '$what' (strict): bucket of "),
        col("__bsz"), lit(s" rows exceeds cap $cap on keys "),
        lit(keys.mkString("(", ", ", ")")))).isNull)
    else sized.filter(idCol.foldLeft(col("__bsz") <= cap)(
      (small, id) => small || col(id) === col("__bmin")))

  private def ensureListener(spark: SparkSession): Unit =
    registered.ensure(spark)(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
            durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith("graft_hot_buckets")) {
              // (dropped or oversized rows, largest bucket); both
              // read 0 when the guarded frame was empty
              val (hit, top) = (row.getAs[Long](0), row.getAs[Long](1))
              // name is "<family>/<tag>/<seq>" — retention keys on the
              // tag so only a SAME-tag completion can supersede it
              observations.record(qe.sparkSession,
                name.split('/').lift(1).getOrElse(name), (hit, top))
              if (hit > 0) log.warn(
                if (name.startsWith("graft_hot_buckets_star"))
                  s"$name: $hit rows in oversized buckets degraded to " +
                    s"star candidates vs the bucket-min (largest bucket: " +
                    s"$top rows); within-cluster pairs beyond the " +
                    "representative's radius are missed — raise maxBucket " +
                    "for full enumeration"
                else if (name.startsWith("graft_hot_buckets_rep"))
                  s"$name: $hit rows in oversized buckets reduced to the " +
                    s"bucket-min representative (largest bucket: $top " +
                    "rows); cross-matches beyond the representative's " +
                    "radius are missed — raise maxBucket for full fan-out"
                else
                  s"$name: dropped $hit rows in oversized buckets " +
                    s"(largest bucket: $top rows); " +
                    "raise maxBucket or inspect the corpus for degenerate keys")
            }
          }
        override def onFailure(funcName: String, qe: QueryExecution,
            exception: Exception): Unit = ()
      })
}
