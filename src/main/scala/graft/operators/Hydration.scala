package graft.operators

import org.apache.spark.sql.DataFrame

/** The one pin module. Every operator cache in `src/main` goes through
  * [[persist]]: the HYDRATION caches — slim projections
  * ([[Dedup.minHashDupPairs]]' shingles, q64's corpus index and
  * [[Dedup.dedupIncrementalIndexed]]'s batch projection,
  * [[Similarity.sparseCosineTopK]]'s vector aggregate) that feed more
  * than one plan reference on keys exchange reuse cannot cover — and
  * the eager operators' working sets alike.
  *
  * ==Lifetime==
  * [[scoped]] releases every frame [[persist]] pinned while its block
  * ran, when the block returns OR throws — pins made by lazy operators
  * called inside it included. Eager operators (those that materialize
  * their result before returning: [[Graph.pageRankInt]],
  * [[Dedup.connectedComponents]], [[Dedup.ingestBatch]], the ANN
  * searches and trainers in [[Similarity]], ...) wrap their body in
  * it, so no pin outlives the call on any exit path. A nested scope
  * releases only its own pins. A pin made outside any scope — a lazy
  * operator called from plain caller code — stays registered: the
  * frame it returns still reads it, so it is left to the session's LRU
  * or the caller's `spark.catalog.clearCache()` (Bench and Verify run
  * it after every query). The open scopes are per THREAD: a streaming
  * query's execution thread started inside a block does not inherit
  * it.
  *
  * ==Level==
  * [[persist]] is `Dataset.persist()`, so Spark's own
  * `spark.sql.defaultCacheStorageLevel` is the dial: `MEMORY_AND_DISK`
  * by default, which at test SF (a few MB) is strictly right; `NONE`
  * caches nothing, so each reference recomputes its upstream (at 100 TB
  * a shingle projection is petabyte-class and LRU-thrashing it through
  * executor storage is slower than recomputing it per reference).
  * Persisting the projection as a REAL table is the third answer —
  * [[Dedup.buildCorpusIndex]] + [[Dedup.dedupIncrementalIndexed]] make
  * that first-class for the corpus index, the one hydration input that
  * is reused across BATCHES. Results are bit-identical under every
  * level (spec-gated by the recompute-equivalence TrainingDataSpec
  * case); the level only moves where the cost lands. */
object Hydration {

  // innermost first; a plain ThreadLocal, NOT DynamicVariable, whose
  // inheritable value would hand an open scope to every thread started
  // inside the block
  private val scopes = new ThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }

  private final class Scope { var pins: List[DataFrame] = Nil }

  /** Pin `df` at the session's default cache level and register it with
    * the innermost open [[scoped]] block, if any. */
  def persist(df: DataFrame): DataFrame = {
    df.persist()
    scopes.get.headOption.foreach(s => s.pins = df :: s.pins)
    df
  }

  /** Run `body`, then release every pin [[persist]] made inside it
    * (newest first, so dependents go before their inputs), whether
    * `body` returns or throws. */
  def scoped[T](body: => T): T = {
    val scope = new Scope
    scopes.set(scope :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      scope.pins.foreach(_.unpersist())
    }
  }
}
