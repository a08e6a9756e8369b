package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native signature kernels for the dedup suite.
  *
  * The explode → groupBy(id) → 128-column min/sum aggregate shape is
  * correct and scales, but it pays an exploded-row shuffle and 128
  * aggregate-buffer updates per feature. These expressions compute the
  * whole signature in ONE tight pass over the shingle array per row —
  * a projection, no shuffle at all. Hash = the same XXH64 (seed 42)
  * Spark's `xxhash64` uses; the k MinHash lanes are rotate-XOR mixes
  * of three base hashes (double-hashing).
  */
object SignatureKernels {

  private def hash(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)

  private def rot(x: Long, i: Int): Long =
    if (i == 0) x else java.lang.Long.rotateLeft(x, i)

  /** k-lane MinHash signature over a string array. */
  def minHash(arr: ArrayData, k: Int): ArrayData = {
    val sig = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val h = hash(s, 42L)
      val h2 = XXH64.hashLong(h, 1L)
      val h3 = XXH64.hashLong(h, 2L)
      var lane = 0
      while (lane < k) {
        val mixed =
          if (lane < 64) h ^ rot(h2, lane) else h ^ rot(h3, lane - 64)
        if (mixed < sig(lane)) sig(lane) = mixed
        lane += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** The SHARED md5→48-bit-word layout (little-endian uint64 of digest
    * bytes [part·8, part·8+8) masked to 48 bits — DuckDB's
    * `md5_number_upper/lower & (2^48-1)`). Both [[simHash48]] and the
    * fused [[simHash96]] read words through here, so a layout change
    * (byte order, mask) can never make them diverge — the q28 oracle
    * depends on their bit-identity. */
  private def md5Word48(d: Array[Byte], part: Int): Long = {
    val off = part * 8
    var h = 0L
    var j = off + 7
    while (j >= off) { h = (h << 8) | (d(j) & 0xFFL); j -= 1 }
    h & 0xFFFFFFFFFFFFL
  }

  /** Portable SimHash-48 over HALF the md5 digest: per-feature hash =
    * [[md5Word48]] of the digest — part 0 is exactly DuckDB's
    * `md5_number_upper(s) & (2^48-1)` (same construction as
    * `Sampling.portableHash48`), part 1 is `md5_number_lower(s) &
    * (2^48-1)` (byte-order identities verified against DuckDB) — then
    * ±1 bit votes over the 48 bits. Replayable in any engine with md5
    * + bit ops, so the driver query using it is oracle-gated instead
    * of rows-only. The reference kernel of [[simHash96]]'s bit-identity
    * spec; no expression calls it. The two
    * parts concatenate into a 96-bit portable signature whose
    * `maxHamming + 1` pigeonhole chunks stay ≥ 12 bits wide up to
    * maxHamming 7 — a single 48-bit word at maxHamming 6 left only
    * 6-7-bit chunks (64-128 buckets per band), a quadratic candidate
    * blowup at scale. */
  private[graft] def simHash48(arr: ArrayData, part: Int): Long = {
    val votes = new Array[Int](48)
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h = md5Word48(md.digest(arr.getUTF8String(i).getBytes), part)
      var b = 0
      while (b < 48) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 48) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Both portable SimHash-48 words in ONE md5 pass per feature:
    * word i is bit-identical to `simHash48(arr, i)`, but each shingle
    * is digested ONCE for both words instead of once per word — the
    * md5 digest is the expensive part of the portable path, so fusing
    * halves the kernel cost of every 96-bit signing. Returns
    * [word0, word1] (= DuckDB `md5_number_upper/lower & (2^48-1)`
    * vote domains). */
  def simHash96(arr: ArrayData): ArrayData = {
    val votes = new Array[Int](96)
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val d = md.digest(arr.getUTF8String(i).getBytes)
      var w = 0
      while (w < 2) {
        val h = md5Word48(d, w)
        var b = 0
        while (b < 48) {
          if (((h >>> b) & 1L) == 1L) votes(w * 48 + b) += 1
          else votes(w * 48 + b) -= 1
          b += 1
        }
        w += 1
      }
      i += 1
    }
    val words = new Array[Long](2)
    var b = 0
    while (b < 96) {
      if (votes(b) > 0) words(b / 48) |= (1L << (b % 48))
      b += 1
    }
    new GenericArrayData(words)
  }

  /** Exact Jaccard of two string arrays in one fused pass: a hash set
    * of the (distinct) left side, then one membership probe per right
    * element. The `array_intersect`/`array_union` composition builds
    * TWO intermediate arrays per pair — on a candidate-verify stage
    * that runs once per candidate pair, the fused kernel does zero
    * allocation beyond the set. */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val seen = new java.util.HashSet[UTF8String](a.numElements() * 2)
    var i = 0
    while (i < a.numElements()) { seen.add(a.getUTF8String(i)); i += 1 }
    val sizeA = seen.size
    val seenB = new java.util.HashSet[UTF8String](b.numElements() * 2)
    var inter = 0
    i = 0
    while (i < b.numElements()) {
      val s = b.getUTF8String(i)
      if (seenB.add(s) && seen.contains(s)) inter += 1
      i += 1
    }
    val union = sizeA + seenB.size - inter
    if (union == 0) 0.0 else inter.toDouble / union.toDouble
  }

  /** [[jaccard]]'s twin over 64-bit gram-hash arrays — the slim
    * candidate-verify domain ([[graft.operators.Dedup]]'s hydration
    * ships `xxhash64(gram)` longs, never gram strings, so a pair row
    * costs 8 bytes per gram). Same set semantics (distinct both
    * sides, inter/union division last); identical to the string
    * kernel's value whenever the doc's grams are collision-free in
    * the 64-bit domain (the decontaminate collision contract). */
  def jaccardLong(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    val seen = new java.util.HashSet[java.lang.Long](na * 2)
    var i = 0
    while (i < na) { seen.add(a.getLong(i)); i += 1 }
    val sizeA = seen.size
    val seenB = new java.util.HashSet[java.lang.Long](nb * 2)
    var inter = 0
    i = 0
    while (i < nb) {
      val v = b.getLong(i)
      if (seenB.add(v) && seen.contains(v)) inter += 1
      i += 1
    }
    val union = sizeA + seenB.size - inter
    if (union == 0) 0.0 else inter.toDouble / union.toDouble
  }
}

case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_sig"
  override def nullSafeEval(input: Any): Any =
    SignatureKernels.minHash(input.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SignatureKernels$$.MODULE$$.minHash($c, $k);")
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

case class SimHash96Portable(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash96_portable"
  override def nullSafeEval(input: Any): Any =
    SignatureKernels.simHash96(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SignatureKernels$$.MODULE$$.simHash96($c);")
  override protected def withNewChildInternal(newChild: Expression): SimHash96Portable =
    copy(child = newChild)
}

case class JaccardSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "jaccard_sim"
  override def nullSafeEval(a: Any, b: Any): Any =
    SignatureKernels.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SignatureKernels$$.MODULE$$.jaccard($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSim =
    copy(left = newLeft, right = newRight)
}

case class JaccardSimLong(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "jaccard_sim_long"
  override def nullSafeEval(a: Any, b: Any): Any =
    SignatureKernels.jaccardLong(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SignatureKernels$$.MODULE$$.jaccardLong($a, $b);")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSimLong =
    copy(left = newLeft, right = newRight)
}

object SignatureExpressions {
  import org.apache.spark.sql.GraftShims
  def minHashSig(shingles: Column, k: Int): Column =
    GraftShims.column(MinHashSig(GraftShims.expression(shingles), k))
  def simHash96Portable(shingles: Column): Column =
    GraftShims.column(SimHash96Portable(GraftShims.expression(shingles)))
  def jaccardSim(a: Column, b: Column): Column =
    GraftShims.column(JaccardSim(GraftShims.expression(a), GraftShims.expression(b)))
  def jaccardSimLong(a: Column, b: Column): Column =
    GraftShims.column(JaccardSimLong(GraftShims.expression(a), GraftShims.expression(b)))

  /** SQL registration of the dedup kernels — DELEGATES to the single
    * name→builder table in [[SqlRegistry]] (this method predates it;
    * two hand-maintained tables drifted on literal coercion). Note the
    * registry installs the WHOLE custom surface, which is a superset
    * of what this method historically registered. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    SqlRegistry.install(spark)
}
