package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}

/** Streaming heavy hitters — SpaceSaving (Metwally et al. 2005,
  * "Efficient computation of frequent and top-k elements in data
  * streams", see PAPERS.md) summaries maintained per hash-shard in
  * `flatMapGroupsWithState`: the live twin of the batch Count-Min
  * prune-then-verify (q115/q122), and the first streaming family
  * whose EXACT deployment variant needs no TTL twin — the state IS
  * the sketch, O(capacity) per shard BY CONSTRUCTION, so unbounded
  * key cardinality can never grow it (contrast the bounded modes of
  * [[AnomalyStream]]/[[FunnelStream]], where boundedness had to be
  * added to an exact-state monitor).
  *
  * SHARDING: the caller keys each event by a deterministic hash
  * shard (`pmod(xxhash64(key), nShards)`). A key lives in EXACTLY
  * one shard, so shard summaries PARTITION the key space — the
  * global answer is the plain union of shard outputs, no cross-shard
  * merge arithmetic. Parallelism and state bound are both
  * `nShards × capacity`.
  *
  * BATCHED SPACESAVING (deterministic variant): each micro-batch is
  * pre-aggregated to per-key increments, then applied in ascending
  * key order — if the key is tracked, add; else if the summary has
  * room, insert with err 0; else REPLACE the min-count entry
  * (smallest key breaks count ties): the newcomer inherits
  * `minCount + inc` with `err = minCount`. Given the same batch
  * contents the update is order-invariant (arrival order inside a
  * batch never matters), so spec walks are exactly reproducible.
  * The SpaceSaving invariants survive batching:
  *   - one-sided: `n ≥ true` (evictions only ever INFLATE a count);
  *   - bounded:   `n − err ≤ true` (err is the evicted floor);
  *   - no false negatives: any key with true count > seen/capacity
  *     in its shard is present in the summary.
  *
  * EXACT REGIME: when `capacity ≥` the shard's distinct keys no
  * eviction ever fires, every `err` is 0 and every count is the
  * exact per-key total REGARDLESS of batch split or order — q125
  * drains a real file-stream run and hash-matches the exact
  * groupBy-count SQL oracle in that regime (the q118 stance: the
  * streaming plan is the one a live feed would run; the oracle sees
  * no sketch).
  *
  * EMISSION CONTRACT (snapshot, not delta): a shard re-emits its
  * FULL summary whenever a batch lands events for it, tagged with
  * the shard's strictly-increasing `seen`. Consumers read the
  * CURRENT summary by keeping each shard's max-`seen` rows — an
  * evicted key vanishes from later snapshots, so max-seen-per-key
  * reads (the quantile-stream consumer shape) would resurrect stale
  * rows; snapshot reads cannot. */
object HeavyHitterStream {

  /** (hash shard, key) — shard the caller's deterministic
    * `pmod(hash(key), nShards)`; nulls excluded upstream. */
  case class KEvent(shard: Int, key: Long)

  /** SpaceSaving summary: tracked key → inflated count, key →
    * overcount bound (err ≤ true miss floor at insert time), plus
    * the shard's total accepted events (`seen`, the emission tag). */
  case class HHState(counts: Map[Long, Long], errs: Map[Long, Long],
    seen: Long)

  case class HHRow(shard: Int, key: Long, n: Long, err: Long,
    seen: Long)

  private[graft] def fn(capacity: Int)(shard: Int,
      it: Iterator[KEvent], state: GroupState[HHState]):
      Iterator[HHRow] = {
    val add = it.foldLeft(Map.empty[Long, Long]) { (acc, e) =>
      acc.updated(e.key, acc.getOrElse(e.key, 0L) + 1L) }
    if (add.isEmpty) Iterator.empty
    else {
      val prev = state.getOption.getOrElse(
        HHState(Map.empty, Map.empty, 0L))
      var counts = prev.counts
      var errs = prev.errs
      add.toArray.sortBy(_._1).foreach { case (k, inc) =>
        counts.get(k) match {
          case Some(n) => counts = counts.updated(k, n + inc)
          case None if counts.size < capacity =>
            counts = counts.updated(k, inc)
            errs = errs.updated(k, 0L)
          case None =>
            // replace-min: smallest key breaks count ties, so the
            // eviction choice is deterministic given the summary
            val (mk, mn) = counts.minBy { case (ck, cn) => (cn, ck) }
            counts = (counts - mk).updated(k, mn + inc)
            errs = (errs - mk).updated(k, mn)
        }
      }
      val seen = prev.seen + add.valuesIterator.sum
      state.update(HHState(counts, errs, seen))
      counts.iterator.map { case (k, n) =>
        HHRow(shard, k, n, errs.getOrElse(k, 0L), seen) }
    }
  }

  /** `events` needs (shard: int, key: long); state per shard is
    * O(capacity) forever (`NoTimeout` is safe here — the sketch
    * cannot grow, which is the whole point of the family). */
  def topKeys(events: DataFrame, capacity: Int): Dataset[HHRow] = {
    require(capacity >= 1, s"capacity=$capacity must be >= 1")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(org.apache.spark.sql.functions.col("shard").isNotNull &&
        org.apache.spark.sql.functions.col("key").isNotNull)
      .as[KEvent](Encoders.product[KEvent])
      .groupByKey(_.shard)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn(capacity))
  }

  /** Snapshot read of a drained/collected emission table: each
    * shard's latest (max-`seen`) summary rows — the consumer shape
    * the emission contract requires (see class doc). */
  def latestSnapshot(emitted: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val latest = emitted.groupBy(col("shard").as("ls_shard"))
      .agg(max(col("seen")).as("ls_seen"))
    emitted.join(broadcast(latest),
      emitted("shard") === col("ls_shard") &&
        emitted("seen") === col("ls_seen"))
      .drop("ls_shard", "ls_seen")
  }

  /** Global top-k readout over the shard snapshots: `(key, n, err,
    * rank)`, ranked by (n desc, key asc) — the composed answer the
    * per-shard family was built toward.
    *
    * ERROR CONTRACT (union of partitions): the shards PARTITION the
    * key space (a key lives in exactly one shard — see the class
    * doc), so the union of [[latestSnapshot]] rows holds every
    * TRACKED key exactly once with its own shard's one-sided bounds
    * intact: `n ≥ true` and `n − err ≤ true`, per row, no cross-shard
    * arithmetic to dilute them. What the union can MISS is a key its
    * own shard evicted — possible only when the key's true count
    * ≤ its shard's current minimum tracked count ≤ seenₛ/capacity —
    * so any key with true count > maxₛ(seenₛ)/capacity is guaranteed
    * present, and in the exact regime (capacity ≥ per-shard distinct
    * keys, every err 0) the readout IS the exact global top-k.
    * Ranking by inflated `n` can promote an overcounted key past a
    * true-heavier one only within an `err` margin — callers needing
    * certainty filter `n − err ≥ threshold` (the q115 CMS stance).
    *
    * Scale shape: the snapshot is ≤ nShards × capacity rows BY
    * CONSTRUCTION, and the ranking runs through the bounded
    * partial-aggregatable kernel ([[graft.functions.BoundedMinIds]]
    * on the EXACT integer order (−n, key) — no global rank window,
    * no single-task sort even if someone dials the geometry up), then
    * one k-row equi-join back for (n, err). */
  def globalTopK(emitted: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"globalTopK: k=$k must be >= 1")
    import org.apache.spark.sql.functions._
    // checkpointed: the snapshot is ≤ nShards × capacity rows by
    // construction, and it feeds THREE consumers below (the partition
    // guard, the rank kernel, the join-back). The DISTINCT keeps
    // `shard`: an at-least-once sink can hold a shard's max-seen
    // emission twice as byte-identical rows — a replayed duplicate
    // (same shard) must neither trip the partition guard nor fan out
    // the join-back, while GENUINE cross-shard tracking of one key
    // still presents as two rows (shards differ) even when the
    // duplicated counts happen to match.
    val snapRows = latestSnapshot(emitted)
      .select(col("shard"), col("key"), col("n"), col("err"))
      .distinct()
      .localCheckpoint()
    // LOUD shards-partition-the-key-space guard: everything this
    // readout promises (per-row one-sided bounds, no cross-shard
    // summing, unique (key, rank) rows) rests on the caller-side
    // invariant that a key is tracked by EXACTLY one shard. A
    // mis-sharded feed (e.g. two producers hashing with different
    // nShards) would otherwise yield a plausible-looking top-k with
    // duplicated keys and un-summed counts — silently. One bounded
    // probe over the snapshot (the refreshLake monotonicity-probe
    // shape): any key with two snapshot rows proves the violation.
    val dup = snapRows.groupBy(col("key"))
      .agg(count(lit(1)).as("m"))
      .filter(col("m") > 1)
      .limit(1).collect()
    if (dup.nonEmpty) {
      throw new IllegalStateException(
        s"globalTopK: key ${dup(0).get(0)} appears in ${dup(0).getLong(1)} " +
          "shard snapshots — shards must PARTITION the key space (one " +
          "shard per key); a mis-sharded feed would emit duplicate " +
          "(key, rank) rows with un-summed counts")
    }
    // keys are unique across the union (shards partition the key
    // space — guarded above), so (−n, key) ascending = (n desc,
    // key asc) exactly
    val snap = snapRows.select(col("key"), col("n"), col("err"))
    val ranked = snap
      .agg(graft.functions.BoundedMinIds
        .boundedMinIds(-col("n"), col("key"), k).as("__ids"))
      .select(posexplode(col("__ids")))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("col").as("key"))
    ranked.join(snap, Seq("key"))
      .select(col("key"), col("n"), col("err"), col("rank"))
  }
}
