package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** STREAMING near-duplicate detection — the LSH near-dedup play as a
  * stateful stream, upgrading the engine's streaming dedup story from
  * exact-key `dropDuplicates` to similarity-level.
  *
  * Each arriving doc is signed (portable 96-bit SimHash, two 48-bit
  * md5-domain words — the q28 spec, through the batch operator's own
  * [[graft.operators.Dedup.simHashSigs]] projection), banded into
  * `maxHamming + 1` chunks ([[graft.operators.Dedup.simHashBandSpec]]
  * via the SHARED [[graft.operators.Dedup.sigChunkExprs]] helper — the
  * pigeonhole layout that guarantees recall at the promised radius, with 13-14
  * bit chunks so per-band bucket cardinality stays ≥ 2^13 instead of
  * the 64-128 buckets a single 48-bit word left), and compared
  * against every signature previously seen in its (band, chunk)
  * bucket via `flatMapGroupsWithState`; Hamming ≤ `maxHamming` emits
  * a pair.
  * Pairs are normalized to (min id, max id), so ARRIVAL ORDER never
  * changes the emitted SET — while every bucket stays under
  * `maxBucket`, a fully drained run produces exactly the batch
  * [[graft.operators.Dedup.simHashDupPairs]] candidate pairs,
  * which is what q72's oracle (q28's DuckDB replay) gates. Once the
  * cap fires the drained set narrows to a SUBSET of the UNCAPPED
  * batch enumeration (the set the oracle replays) — note the
  * comparison baseline: against a batch twin run at the SAME
  * `maxBucket`, whose star fallback emits only O(B) bucket-min pairs
  * for an oversized bucket, neither side contains the other (the
  * stream retains a cap-sized clique and emits its full pairs; the
  * batch star emits representative links only). See the cap contract
  * below.
  *
  * A pair sharing several chunks is emitted once per matching band
  * (different state buckets cannot see each other); consumers collapse
  * with [[distinctPairs]] on the sink side (a batch `dropDuplicates`
  * epilogue) — chaining another stateful dedup after
  * flatMapGroupsWithState inside the stream is unsupported, and
  * per-band emission is also the honest streaming contract.
  *
  * State per bucket is the (id, sig0, sig1) list seen so far: 24 bytes
  * per doc per band. TWO bounds keep it 100-TB-safe:
  *
  *  - `stateTtl` arms `GroupStateTimeout.ProcessingTimeTimeout`:
  *    bucket state untouched for the TTL is evicted, exactly like the
  *    watermark on the exact-dedup path. Set it to the ingestion dedup
  *    horizon (the reference's 7-day re-poll window, say); a drained
  *    test run stays batch-equivalent whenever TTL ≥ drain time. Pair
  *    a short TTL with a real `Trigger.ProcessingTime` interval: under
  *    the default continuous trigger, due timeouts make the engine
  *    spin no-data micro-batches back to back.
  *  - `maxBucket` caps the per-bucket list: a full bucket stops
  *    RETAINING, never stops COMPARING — arrivals past the cap still
  *    pair against the retained state (so a true-dup cluster still
  *    collapses downstream: every post-cap member links into it), but
  *    are not added, so no task ever scans an unbounded list. The
  *    miss class this buys bounded state with is post-cap × post-cap:
  *    two docs both arriving after the cap pair with retained members
  *    but not with each other — the streaming twin of
  *    [[graft.operators.HotBuckets.starSelfJoinCandidates]]' beyond-
  *    the-representative miss, spec-gated by the planted over-cap
  *    bucket StreamingSpec case.
  */
object NearDup {

  case class DocSig(id: Long, sig0: Long, sig1: Long)

  /** (doc stream with `idCol`, `textCol`) → streaming pair frame
    * (id_a, id_b, hamming); one row per matching band.
    *
    * '''Default-dial caveat''' (deliberate divergence from the batch
    * operators, whose defaults scaled with the round-7 widening):
    * 6/96 is HALF the pre-widening 6/48 normalized radius. Preserving
    * that radius would need 12/96 — 13 bands of 7-8-bit chunks, i.e.
    * 128-256 buckets per band: every real-corpus doc lands in a hot
    * bucket and per-arrival state compares blow up, the exact regime
    * the widening removed. Callers who need the old radius on a
    * LOW-CARDINALITY stream can pass maxHamming=12 explicitly; at
    * corpus scale, tighten the radius or pre-filter instead. */
  def pairs(docs: DataFrame, maxHamming: Int = 6,
      idCol: String = "doc_id", textCol: String = "text",
      stateTtl: Option[java.time.Duration] = None,
      maxBucket: Int = graft.operators.HotBuckets.DefaultCap): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sig = graft.operators.Dedup.simHashSigs(docs, idCol, textCol, 3)
    val chunkExprs = graft.operators.Dedup.sigChunkExprs(
      Seq(col("sig0"), col("sig1")), 48, 96, maxHamming)
    val banded = sig.select(col("id"), col("sig0"), col("sig1"),
      posexplode(array(chunkExprs: _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "chunk")
    val keyed = banded
      .select(col("id"), col("sig0"), col("sig1"), col("band"), col("chunk"))
      .as[(Long, Long, Long, Int, Long)]
      .groupByKey(r => (r._4, r._5))
    val timeoutConf = if (stateTtl.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    val out: Dataset[(Long, Long, Long)] = keyed.flatMapGroupsWithState(
      OutputMode.Append, timeoutConf) {
      (_: (Int, Long), rows: Iterator[(Long, Long, Long, Int, Long)],
          state: GroupState[List[DocSig]]) =>
        if (state.hasTimedOut) {
          // TTL horizon passed with no arrivals: evict the bucket —
          // a later duplicate of an evicted doc is a MISS by design,
          // the same contract as watermark-bounded exact dedup
          state.remove()
          Iterator.empty
        } else {
          var seen = state.getOption.getOrElse(Nil)
          var n = seen.size
          val emitted =
            scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
          rows.foreach { r =>
            val d = DocSig(r._1, r._2, r._3)
            seen.foreach { p =>
              if (p.id != d.id) {
                val h = (java.lang.Long.bitCount(p.sig0 ^ d.sig0) +
                  java.lang.Long.bitCount(p.sig1 ^ d.sig1)).toLong
                if (h <= maxHamming)
                  emitted += ((math.min(p.id, d.id), math.max(p.id, d.id), h))
              }
            }
            if (n < maxBucket) { seen = d :: seen; n += 1 }
          }
          state.update(seen)
          stateTtl.foreach(t => state.setTimeoutDuration(t.toMillis))
          emitted.iterator
        }
    }
    out.toDF("id_a", "id_b", "hamming")
  }

  /** Collapse [[pairs]]' per-band emissions to ONE row per (id_a,
    * id_b) — the epilogue every consumer was re-writing by hand. Run
    * it on the SINK side (inside `foreachBatch`, or on the drained
    * result frame): a stateful distinct cannot chain after
    * flatMapGroupsWithState inside the stream. `hamming` is identical
    * across a pair's bands (same signatures), so keeping an arbitrary
    * band's row loses nothing. */
  def distinctPairs(pairs: DataFrame): DataFrame =
    pairs.dropDuplicates("id_a", "id_b")
}
