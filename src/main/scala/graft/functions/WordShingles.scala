package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode,
  FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The ONE tokenization every native text kernel must share with the
  * composable column form `split(trim(text), "\\s+")`
  * ([[TextFunctions.tokens]]) — the exact-substring family joins
  * kernel-produced window POSITIONS against a `tokens()`-built token
  * table ([[graft.operators.Dedup.dedupExactSubstrings]]), so any
  * divergence shifts which tokens get cut. Two traps if written
  * casually as `s.trim.split("\\s+")`:
  *
  *  - SQL `trim` strips ASCII space (U+0020) ONLY; Java `String.trim`
  *    strips every char <= U+0020 (tab, CR, LF, NUL...). A doc with a
  *    leading tab keeps a leading EMPTY token under SQL semantics
  *    (`split` sees the tab and cuts before it) — Java trim eats the
  *    tab and the whole position axis shifts left by one.
  *  - Spark's `split(str, regex)` is `StringSplit(..., limit = -1)` —
  *    trailing empty tokens are KEPT (`"a\n"` → `["a", ""]`);
  *    Java's `String.split(regex)` is limit 0 and drops them.
  */
object CanonicalTokens {
  private val WS = java.util.regex.Pattern.compile("\\s+")

  /** `split(trim(s), "\\s+")` with Spark SQL semantics, on a JVM
    * String. Total: never null, `[""]` for empty/all-space input
    * (same as the SQL form). */
  def tokenize(s: String): Array[String] = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    WS.split(s.substring(b, e), -1)
  }
}

/** Native word n-gram shingler.
  *
  * The composable form (`split` → `transform(sequence)` → `slice` →
  * `concat_ws` → `array_distinct`) runs as interpreted higher-order
  * functions: measured ~6 s for 5 000 docs — it dominated every
  * dedup query. This expression computes the distinct shingle set in
  * one pass over the string (~20× less overhead), with identical
  * semantics: tokens = trimmed whitespace split; if fewer than n
  * tokens, one shingle of all tokens; first-occurrence order.
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any =
    WordShingles.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WordShingles$$.MODULE$$.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {
  /** Shared kernel for interpreted eval and generated code.
    * Tokenization = [[CanonicalTokens.tokenize]] (SQL
    * `split(trim(..))` semantics — see its scaladoc for why Java
    * `String.trim` is NOT equivalent). */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val toks = CanonicalTokens.tokenize(text.toString)
    val m = math.max(toks.length - n, 0)
    val seen = new java.util.LinkedHashSet[String]((m + 1) * 2)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= m) {
      sb.setLength(0)
      val end = math.min(i + n, toks.length)
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  def shinglesNative(text: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(WordShingles(GraftShims.expression(text), n))
  }
}

/** Native POSITIONAL window hasher — the exact-substring family's
  * kernel ([[graft.operators.Dedup.exactSubstringSpans]] /
  * `dedupExactSubstrings`): xxhash64 (seed 42, Spark's `xxhash64`
  * value on the same string) of EVERY n-token window, one Long per
  * start position, in document order — NOT distinct (positions must
  * align with token offsets; a repeated window inside one doc is two
  * occurrences). Fewer than n tokens → EMPTY array (the caller's
  * token-floor semantics — unlike [[WordShingles]]' one-short-shingle
  * rule, a short doc simply starts no window).
  *
  * Exists for the same reason [[WordShingles]] does: the composable
  * form (`transform(sequence) → slice → array_join → xxhash64`) runs
  * as interpreted higher-order functions — the 64× octave measured
  * the q152 shape at 375 s where the equivalent native-kernel
  * decontaminate explode ran in 9 s on the same corpus. One pass per
  * row, no intermediate window-string array crosses the row boundary
  * (only the 8-byte hashes). */
case class WindowHashes(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "window_hashes"

  override def nullSafeEval(input: Any): Any =
    WindowHashes.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WindowHashes$$.MODULE$$.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): WindowHashes =
    copy(child = newChild)
}

object WindowHashes {
  /** Shared kernel for interpreted eval and generated code. Hash =
    * `XXH64.hashUnsafeBytes(utf8(window), seed = 42)` — bit-identical
    * to Spark's `xxhash64(lit(window))`, so the migration from the
    * composable form could be (and was) verified by byte-diffing the
    * query outputs.
    *
    * Tokenization = [[CanonicalTokens.tokenize]] — POSITIONAL
    * agreement with the `tokens()`-built token table that
    * `dedupExactSubstrings` joins against is load-bearing here (a
    * Java-trim kernel shifts every window start left by one on a
    * doc with a leading tab/newline, cutting the WRONG tokens). */
  def compute(text: UTF8String, n: Int): ArrayData = {
    val toks = CanonicalTokens.tokenize(text.toString)
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val m = toks.length - n
    val out = new Array[Any](m + 1)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= m) {
      sb.setLength(0)
      var j = i
      while (j < i + n) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      val u = UTF8String.fromString(sb.toString)
      out(i) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  def windowHashesNative(text: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(WindowHashes(GraftShims.expression(text), n))
  }
}

/** Native NON-OVERLAPPING chunk hasher — [[graft.operators.Dedup
  * .dedupSpans]]' kernel: tokens split into consecutive
  * `spanWords`-token chunks (the last chunk may be shorter), one
  * xxhash64 (seed 42 — Spark's `xxhash64` value on the space-joined
  * chunk string) per chunk, in document order. [[WindowHashes]] at
  * stride = n instead of stride 1, with ITS composable-form edge
  * semantics: tokenization is total (`[""]` for empty/whitespace
  * text — `split(trim(..))`), so every non-null doc emits
  * `ceil(tokens/n) ≥ 1` hashes; an all-whitespace doc emits the one
  * hash of `""` (chunk 0 = the single empty token) exactly as
  * `transform(sequence(0, nChunks-1), i => xxhash64(array_join(
  * slice(toks, i*n+1, n), " ")))` did. A null doc emits `[]`, the
  * composable form's `when(nChunks > 0, ..).otherwise(array())`
  * value — never null.
  *
  * Exists for the same reason its siblings do: the composable form
  * runs as interpreted higher-order functions with a fresh array copy
  * per slice — measured 0.35 s of the span stage's 1.6 s at sf0.1,
  * multiplied across every pipeline query; one pass per row here, and
  * only the 8-byte hashes leave the row. */
case class ChunkHashes(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "chunk_hashes"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    ChunkHashes.compute(child.eval(input).asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ArrayData ${ev.value} = graft.functions.ChunkHashes$$.MODULE$$.compute(
        ${c.isNull} ? null : ${c.value}, $n);""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ChunkHashes =
    copy(child = newChild)
}

object ChunkHashes {
  /** Shared kernel for interpreted eval and generated code.
    * Tokenization = [[CanonicalTokens.tokenize]]; hash =
    * `XXH64.hashUnsafeBytes(utf8(chunk), seed = 42)` — bit-identical
    * to the composable form (byte-diffed at both SFs through the
    * q70/q83/q143/q147/q151 oracles and the ChunkKernelSpec
    * equivalence sweep). Null text → `[]`. */
  def compute(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Any])
    val toks = CanonicalTokens.tokenize(text.toString)
    val nChunks = (toks.length + n - 1) / n
    val out = new Array[Any](nChunks)
    val sb = new java.lang.StringBuilder(64)
    var c = 0
    while (c < nChunks) {
      sb.setLength(0)
      val start = c * n
      val end = math.min(start + n, toks.length)
      var j = start
      while (j < end) {
        if (j > start) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      val u = UTF8String.fromString(sb.toString)
      out(c) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
      c += 1
    }
    new GenericArrayData(out)
  }

  def chunkHashesNative(text: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(ChunkHashes(GraftShims.expression(text), n))
  }
}

/** Native chunk-index rebuild — [[ChunkHashes]]' inverse half in
  * [[graft.operators.Dedup.dedupSpans]]: given the doc's ORIGINAL
  * text and the sorted surviving chunk indexes, re-slice the doc's
  * own tokens into the surviving chunks and space-join them in order
  * — exactly `array_join(flatten(transform(idxs, i => slice(toks,
  * i*n+1, n))), " ")` (one pass, no per-index array copies, no second
  * tokenize of the HOF form — the text is tokenized once here for
  * both the slice bounds and the output). An index whose chunk start
  * lies past the token array contributes nothing (the composable
  * `slice` returned an empty array into `flatten`); empty TOKENS
  * ("" from the total tokenizer) are joined like any other token,
  * separator included. Null text or null index array → null (the
  * caller's `coalesce(.., "")` supplies the policy). */
case class ChunkRebuild(left: Expression, right: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "chunk_rebuild"

  override protected def nullSafeEval(text: Any, idxs: Any): Any =
    ChunkRebuild.compute(text.asInstanceOf[UTF8String],
      idxs.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, i) =>
      s"${ev.value} = graft.functions.ChunkRebuild$$.MODULE$$.compute($t, $i, $n);")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ChunkRebuild =
    copy(left = newLeft, right = newRight)
}

object ChunkRebuild {
  /** Shared kernel for interpreted eval and generated code. `idxs`
    * must be sorted ascending (the caller's `array_sort` contract) for
    * the output to be in position order — the kernel joins in the
    * order given, exactly as the composable `transform` did. */
  def compute(text: UTF8String, idxs: ArrayData, n: Int): UTF8String = {
    val toks = CanonicalTokens.tokenize(text.toString)
    val sb = new java.lang.StringBuilder(text.numBytes + 16)
    var first = true
    var k = 0
    val m = idxs.numElements()
    while (k < m) {
      val start = idxs.getInt(k) * n
      val end = math.min(start + n.toLong, toks.length).toInt
      var j = start
      while (j < end) {
        if (!first) sb.append(' ')
        sb.append(toks(j))
        first = false
        j += 1
      }
      k += 1
    }
    UTF8String.fromString(sb.toString)
  }

  def chunkRebuildNative(text: Column, idxs: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(ChunkRebuild(GraftShims.expression(text),
      GraftShims.expression(idxs), n))
  }
}

/** Native one-pass winnowing selector — the
  * [[graft.operators.Winnowing.fingerprints]] kernel: per k-token
  * shingle, the portable 48-bit md5 hash
  * ([[graft.operators.Sampling.portableHash48Jvm]] — bit-identical to
  * the Column form and DuckDB's `md5_number_upper & (2^48-1)`, the
  * PropertySpec-pinned equivalence); then from every window of `w`
  * consecutive hashes the RIGHTMOST minimum, deduplicated to distinct
  * (pos, fp) pairs IN the row. Output: array<struct<pos int, fp
  * long>>, pos 1-based — exactly the rows the composable form
  * (posexplode(transform(sequence…slice…)) → per-doc window frame →
  * distinct) produced, with NO shuffle at all: the HOF projection,
  * the per-doc window sort, and the distinct each cost a pass there
  * (the WordShingles/WindowHashes lesson a third time — interpreted
  * higher-order functions plus a window shuffle for an in-row
  * computation). Fewer than k + w − 1 tokens → empty array (below the
  * detection-guarantee length; the old filter's semantics).
  *
  * Selection is O(tokens) via a monotonic deque: push position j
  * after popping every back entry with hash ≥ h(j) (ties pop, so
  * among equal hashes the RIGHTMOST survives — standard winnowing's
  * tie rule), pop the front when it leaves the window; the front is
  * each window's rightmost minimum. */
case class WinnowSelect(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("fp",
        org.apache.spark.sql.types.LongType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "winnow_select"

  override def nullSafeEval(input: Any): Any =
    WinnowSelect.compute(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WinnowSelect$$.MODULE$$.compute($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): WinnowSelect =
    copy(child = newChild)
}

object WinnowSelect {
  /** Shared kernel for interpreted eval and generated code.
    * Tokenization = [[CanonicalTokens.tokenize]] (SQL `split(trim(..))`
    * semantics — the positional contract every text kernel shares). */
  def compute(text: UTF8String, k: Int, w: Int): ArrayData = {
    val toks = CanonicalTokens.tokenize(text.toString)
    if (toks.length < k + w - 1)
      return new GenericArrayData(Array.empty[Any])
    val nsh = toks.length - (k - 1)
    val h = new Array[Long](nsh)
    val md = java.security.MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < nsh) {
      sb.setLength(0)
      var j = i
      while (j < i + k) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      // digest() resets the instance — one MessageDigest per row
      h(i) = graft.operators.Sampling.le48(
        md.digest(sb.toString.getBytes(
          java.nio.charset.StandardCharsets.UTF_8)))
      i += 1
    }
    // rightmost-min per window via a monotonic deque. Dedup needs no
    // set: fp is a function of pos (fp = h(pos)), and the selected
    // position sequence is NON-DECREASING as the window slides (a
    // selection change can only move right — the old pick either
    // leaves the window or is beaten by a new, necessarily
    // later-positioned element), so distinct (pos, fp) = "emit when
    // the selected position changes", in increasing-pos order.
    val sels = new Array[Int](nsh - w + 1)
    var nSel = 0
    var lastSel = -1
    val deque = new Array[Int](nsh)
    var head = 0
    var tail = 0 // exclusive
    i = 0
    while (i < nsh) {
      while (tail > head && h(deque(tail - 1)) >= h(i)) tail -= 1
      deque(tail) = i; tail += 1
      val start = i - w + 1 // window [start, i] complete once start >= 0
      while (deque(head) < start) head += 1
      if (start >= 0 && deque(head) != lastSel) {
        lastSel = deque(head)
        sels(nSel) = lastSel
        nSel += 1
      }
      i += 1
    }
    val out = new Array[Any](nSel)
    var o = 0
    while (o < nSel) {
      out(o) = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](sels(o) + 1, h(sels(o))))
      o += 1
    }
    new GenericArrayData(out)
  }

  def winnowSelectNative(text: Column, k: Int, w: Int): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(WinnowSelect(GraftShims.expression(text), k, w))
  }
}
