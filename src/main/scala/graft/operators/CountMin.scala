package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Count-Min sketch: constant-memory frequency estimation with
  * ONE-SIDED error (estimates never undercount), and the
  * prune-then-verify heavy-hitter composition that one-sidedness
  * buys — [[Bloom]]'s contract, one level up from membership to
  * frequency.
  *
  * Why at 100 TB: "which keys appear ≥ T times" is naively one
  * vocabulary-sized shuffle (`groupBy(key).count()` moves every
  * distinct key). The sketch is `depth × width` longs TOTAL,
  * regardless of key cardinality; probing it is codegen'd per-row
  * arithmetic against a broadcast literal. Pruning rows whose
  * estimate is under T shrinks the exact count's SHUFFLE INPUT to
  * the truly-heavy rows plus a collision-bounded false-positive
  * fraction — and because a key's every occurrence probes the same
  * cells, survival is all-or-none per key, so the exact count of a
  * surviving key is its TRUE total. Output ≡ the exact heavy-hitter
  * query bit-for-bit (no false negatives: counts only ever add, so
  * estimate ≥ truth); only the data volume reaching the shuffle
  * changes. The q115 oracle is therefore the EXACT SQL, the sketch
  * provably invisible in the result.
  *
  * Hashing: row i's bucket is `pmod(xxhash64(h1, i), width)` — an
  * independent draw per depth row from the caller's 64-bit key hash.
  * Build and probe derive buckets from the key hash alone, so the
  * two sides cannot drift. A 64-bit collision of two distinct KEYS
  * merely merges their cells (overcount — still one-sided); the
  * exact verify groups by the key VALUE, so the output is exact
  * regardless.
  *
  * SQL surface: like [[Bloom.mightContain]], [[estimate]] is a
  * COMPOSITION of builtins over a driver-built sketch embedded as a
  * plan literal — Column-API-only by design (see the SqlRegistry
  * scaladoc's non-registration note); the generated plan is pure
  * element_at/least arithmetic any SQL engine could replay.
  */
object CountMin {

  /** Max total cells: 2²² longs = 32 MB embedded literal / broadcast —
    * the same ceiling class as [[Bloom.MaxBits]]. */
  val MaxCells: Int = 1 << 22

  /** A built sketch: the flat `depth × width` count grid (row i at
    * `[i·width, (i+1)·width)`) bundled with its geometry — a
    * build/probe mismatch would silently mis-bucket, so the API makes
    * it unrepresentable. */
  final case class Sketch(words: Array[Long], depth: Int, width: Int) {
    require(words.length == depth * width,
      s"sketch grid ${words.length} != depth $depth × width $width")
  }

  private def bucket(h1: Column, i: Int, width: Int): Column =
    pmod(xxhash64(h1, lit(i)), lit(width.toLong))

  private[operators] def checkGeometry(depth: Int, width: Int): Unit = {
    require(depth >= 1 && depth <= 8, s"depth must be in [1, 8], got $depth")
    require(width >= 64, s"width must be >= 64, got $width")
    require(depth.toLong * width <= MaxCells,
      s"depth×width = ${depth.toLong * width} exceeds MaxCells=$MaxCells " +
        s"(${MaxCells * 8 / 1024 / 1024} MB) — cap the geometry or use " +
        "the exact aggregate")
  }

  /** Build a [[Sketch]] from a key-hash column (NULL hashes dropped —
    * the probe side yields NULL for them, so build and probe stay
    * symmetric). Distributed build: each row explodes to `depth`
    * cell indices, `count` combines map-side (every map partition
    * pre-collapses to ≤ depth·width cells before the shuffle), and
    * the driver collects AT MOST depth·width rows — the sketch size,
    * NEVER the key count. */
  def buildWords(hashes: DataFrame, hashCol: String, depth: Int,
      width: Int): Sketch = {
    checkGeometry(depth, width)
    val cells = (0 until depth).map { i =>
      lit(i.toLong * width) + bucket(col(hashCol), i, width)
    }
    val rows = hashes
      .where(col(hashCol).isNotNull)
      .select(explode(array(cells: _*)).as("cell"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"))
      .collect() // bounded by depth·width rows, documented above
    val words = new Array[Long](depth * width)
    rows.foreach(r => words(r.getLong(0).toInt) = r.getLong(1))
    Sketch(words, depth, width)
  }

  /** Frequency estimate column over a key-hash column: the MIN over
    * depth rows of the probed cells — pure builtins (element_at +
    * least), codegen'd, no UDF; the grid ships as one array literal
    * per plan for small geometries and as a BROADCAST past
    * [[Bloom.LiteralShipWords]] cells (a literal that size
    * java-serializes boxed into every task binary — the same scale
    * bug [[Bloom.mightContain]] documents; identical probe
    * arithmetic in both modes). NULL hash → NULL estimate.
    * Guarantee: estimate ≥ the key's true row count (counts only
    * ever add). */
  def estimate(h1: Column, sk: Sketch): Column = {
    val cellAt: Column => Column =
      if (sk.words.length <= Bloom.LiteralShipWords) {
        val w = typedLit(sk.words)
        idx => element_at(w, idx.cast("int") + lit(1))
      } else {
        val bc = org.apache.spark.sql.SparkSession.active
          .sparkContext.broadcast(sk.words)
        idx => graft.functions.BroadcastWords.wordAt(bc, idx)
      }
    val probes = (0 until sk.depth).map { i =>
      cellAt(lit(i.toLong * sk.width) + bucket(h1, i, sk.width))
    }
    if (probes.size == 1) probes.head else least(probes: _*)
  }

  /** Exact heavy hitters via CMS prune-then-verify: every key whose
    * TRUE count is ≥ `threshold`, with that exact count — identical
    * to `groupBy(key).count().filter(n ≥ threshold)`, but the shuffle
    * only receives rows whose sketch estimate clears the threshold
    * (the heavy keys plus a collision-bounded false-positive tail
    * that the exact count then drops). NULL keys are excluded.
    *
    * Output: (key-column-named, n) with n the exact total count.
    *
    * Scan shape: TWO single-column scans (build, then probe+count) —
    * the classic two-pass CMS structure, deliberately NOT persisted:
    * at 100 TB a second pruned-projection columnar scan is cheap and
    * cache-free, and the win this operator exists for is the pruned
    * SHUFFLE, not scan count. */
  def heavyHitters(df: DataFrame, keyCol: String, threshold: Long,
      depth: Int = 4, width: Int = 8192): DataFrame = {
    checkGeometry(depth, width)
    val keyed = keyedHashes(df, keyCol)
    heavyHittersWith(df, keyCol, threshold,
      buildWords(keyed, "__h", depth, width))
  }

  private def keyedHashes(df: DataFrame, keyCol: String): DataFrame =
    df.select(col(keyCol))
      .filter(col(keyCol).isNotNull)
      .withColumn("__h", xxhash64(col(keyCol)))

  /** [[heavyHitters]] with a PREBUILT sketch — the reuse form: build
    * the sketch once over a key stream ([[buildWords]] over
    * `xxhash64(key)`), persist it ([[SketchStore.writeCms]]), and
    * probe it from any number of later jobs.
    *
    * EXACTNESS PRECONDITION: the no-false-negative argument needs
    * `sk`'s estimates to dominate `df`'s true counts — which holds
    * when the sketch was built over `df` itself or any SUPERSET of it
    * (CMS cells only ever add, and a superset's cells are ≥ the
    * subset's). Probing a sketch built over a DIFFERENT or SMALLER
    * stream can silently drop true heavy keys — that is a domain
    * violation, exactly what [[SketchStore]]'s stamp exists to catch
    * at the artifact boundary. The verify stage still guarantees
    * surviving keys carry their exact `df` counts regardless. */
  def heavyHittersWith(df: DataFrame, keyCol: String, threshold: Long,
      sk: Sketch): DataFrame = {
    require(threshold >= 1L, s"threshold must be >= 1, got $threshold")
    keyedHashes(df, keyCol)
      .filter(estimate(col("__h"), sk) >= lit(threshold))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).cast(LongType).as("n"))
      .filter(col("n") >= lit(threshold))
  }
}
