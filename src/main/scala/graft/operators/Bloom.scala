package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Broadcast-compressed membership pruning: a Bloom filter over a
  * SMALL key set, tested against a LARGE side with pure codegen'd
  * builtins (no UDF) — the 100 TB pattern for "semi-join against a
  * modest set without shipping the set".
  *
  * Why: broadcasting a distinct 8-byte hash set costs ~30-50 B/key
  * once it's a join hashmap — at 10⁸ benchmark grams that is a
  * multi-GB broadcast no executor wants. The Bloom words array costs
  * `numBits/8` bytes TOTAL (10-13 bits/key for ~1% false positives),
  * a 25-40× reduction, and membership is three codegen'd
  * shift-and-mask probes per row. False positives are expected and
  * HARMLESS in the intended composition: prune first, then verify the
  * tiny surviving fraction with the exact join — output equals the
  * exact semi-join bit-for-bit (Bloom filters have no false
  * negatives), only the data volume reaching the exact join changes.
  *
  * Probe scheme: double hashing (Kirsch–Mitzenmaucher) — probe i sets
  * bit `(h1 + i·h2) mod numBits` with `h1` the caller's 64-bit key
  * hash and `h2 = xxhash64(h1) | 1` (odd, so probes never collapse
  * onto one bit). Both sides derive probes from the key hash alone,
  * so the build and test sides cannot drift.
  */
object Bloom {

  /** Max filter size: 2^28 bits = 32 MB of driver memory / broadcast —
    * past that, prefer the exact-join path or shard the filter. */
  val MaxBits: Int = 1 << 28

  /** A built filter: the bit words PLUS the probe count they were
    * built with, bundled — a build/test `numHashes` mismatch would
    * produce silent FALSE NEGATIVES (a never-set probe tests a present
    * key negative), the one failure mode the prune-then-verify
    * contract cannot tolerate, so the API makes it unrepresentable. */
  final case class Filter(words: Array[Long], numHashes: Int) {
    def numBits: Int = words.length * 64
  }

  /** The probe positions as Columns — shared with the per-file index
    * ([[graft.sources.Lake.buildBloomIndex]]) so its build and lookup
    * sides ride the SAME arithmetic as every other Bloom in the repo;
    * a re-derivation drifting by one constant would mean silent false
    * negatives, the one intolerable failure. */
  private[graft] def probeBits(h1: Column, numBits: Int,
      numHashes: Int): Seq[Column] = probes(h1, numBits, numHashes)

  private def probes(h1: Column, numBits: Int, numHashes: Int): Seq[Column] = {
    // both hashes reduce mod numBits BEFORE combining: i·h2 on the raw
    // 64-bit values overflows a long (an ANSI-mode error); after
    // reduction the combination peaks below 9·numBits. h2 forced odd so
    // the probe stride never collapses onto one bit (numBits is even).
    val m = lit(numBits.toLong)
    val h1m = pmod(h1, m)
    val h2m = pmod(xxhash64(h1), m).bitwiseOR(lit(1L))
    (0 until numHashes).map { i =>
      pmod(h1m + lit(i.toLong) * h2m, m)
    }
  }

  /** Build a [[Filter]] from a DataFrame of key hashes (any 64-bit
    * hash column; NULL hashes are dropped — the test side treats a
    * null key as not-contained, so build and test stay symmetric).
    * Distributed build: each probe becomes a `(word, mask)` row,
    * `bit_or` combines map-side, and the driver collects AT MOST
    * `numBits/64` rows (the filter size — NEVER the key count), then
    * densifies. */
  private[graft] def checkGeometry(numBits: Int, numHashes: Int): Unit = {
    require(numBits >= 64 && numBits % 64 == 0,
      s"numBits must be a positive multiple of 64, got $numBits")
    require(numBits <= MaxBits,
      s"numBits=$numBits exceeds MaxBits=$MaxBits (${MaxBits / 8 / 1024 / 1024} MB)" +
        " — shard the filter or use the exact join")
    require(numHashes >= 1 && numHashes <= 8,
      s"numHashes must be in [1, 8], got $numHashes")
  }

  def buildWords(hashes: DataFrame, hashCol: String, numBits: Int,
      numHashes: Int = 3): Filter = {
    checkGeometry(numBits, numHashes)
    val bits = probes(col(hashCol), numBits, numHashes).map { pos =>
      struct(shiftright(pos, 6).cast("int").as("word"),
        call_function("shiftleft", lit(1L),
          pos.bitwiseAND(lit(63L)).cast("int")).as("mask"))
    }
    val rows = hashes
      .where(col(hashCol).isNotNull)
      .select(explode(array(bits: _*)).as("b"))
      .groupBy(col("b.word"))
      .agg(expr("bit_or(b.mask)").as("bits"))
      .collect() // bounded by numBits/64 rows, documented above
    val words = new Array[Long](numBits / 64)
    rows.foreach(r => words(r.getInt(0)) = r.getLong(1))
    Filter(words, numHashes)
  }

  /** Membership test column over a key-hash column — pure builtins
    * (element_at + shift + mask per probe), codegen'd, no UDF. The
    * filter's words are embedded as an array literal in the plan: one
    * copy per plan, shipped with the task closure like any literal.
    * A NULL key hash yields NULL (filters drop it = not contained). */
  def mightContain(h1: Column, filter: Filter): Column = {
    // SHIPPING MODE by size: small filters ride the plan as an array
    // literal (zero extra moving parts); past LiteralShipWords the
    // literal is the scale bug — a 2^27-bit filter is 16 MB of longs
    // that java-serializes BOXED into every task binary (measured
    // OOM of an 8 GB driver at 32 local threads), where a broadcast
    // ships the primitive array once per executor and the expression
    // carries only the handle. Probe arithmetic is IDENTICAL in both
    // modes (same `probes` builtins; only the word lookup changes),
    // spec-gated equal on the same filter.
    val wordAt: Column => Column =
      if (filter.words.length <= LiteralShipWords) {
        val w = typedLit(filter.words)
        idx => element_at(w, idx.cast("int") + lit(1))
      } else {
        val bc = org.apache.spark.sql.SparkSession.active
          .sparkContext.broadcast(filter.words)
        idx => graft.functions.BroadcastWords.wordAt(bc, idx)
      }
    probes(h1, filter.numBits, filter.numHashes).map { pos =>
      call_function("shiftright",
        wordAt(shiftright(pos, 6)),
        pos.bitwiseAND(lit(63L)).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
  }

  /** Words-array size above which [[mightContain]] broadcasts instead
    * of inlining a literal: 2^16 longs = 512 KB raw (the boxed
    * serialized form is ~10×) — well under any task-binary comfort
    * zone, well over every test fixture. */
  val LiteralShipWords: Int = 1 << 16
}
