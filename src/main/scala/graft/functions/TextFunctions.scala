package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristics, document
  * fingerprinting. All pure `Column` expressions (codegen'd, no UDFs)
  * so they stay inside whole-stage codegen on a 100 TB scan.
  */
object TextFunctions {

  /** Whitespace tokenizer (trimmed, so no empty boundary tokens). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Count of tokens belonging to a fixed (small) vocabulary. */
  def vocabCount(text: Column, vocab: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(vocab.map(lit): _*)))

  private val enStop = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Quality metrics bundle: character length, token count, mean token
    * length, stopword ratio, unique-token ratio, punctuation ratio.
    * Ratios are int/int double divisions — deterministic IEEE, so they
    * are oracle-stable. */
  def qualityMetrics(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nTok = size(toks).cast(DoubleType)
    Seq(
      "char_len" -> length(text),
      "n_tokens" -> size(toks),
      "mean_token_len" ->
        (size(toks) =!= 0).cast(DoubleType) * // guard div-by-zero, stays deterministic
          (length(regexp_replace(trim(text), "\\s+", "")).cast(DoubleType) /
            greatest(nTok, lit(1.0))),
      "stopword_ratio" ->
        size(filter(toks, t => t.isin(enStop.map(lit): _*))).cast(DoubleType) /
          greatest(nTok, lit(1.0)),
      "uniq_ratio" ->
        size(array_distinct(toks)).cast(DoubleType) / greatest(nTok, lit(1.0)),
      "punct_ratio" ->
        (length(text) - length(regexp_replace(text, "[\\p{Punct}]", "")))
          .cast(DoubleType) / greatest(length(text).cast(DoubleType), lit(1.0)))
  }

  /** Language-ID heuristic: per-language stopword scores, argmax with
    * a deterministic tie order. A real system swaps in character
    * n-gram profiles; the *shape* (score columns → CASE argmax) is the
    * scalable part — one projection, no shuffle. */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "la", "los", "y", "es"))

  def langIdHeuristic(text: Column): Column = {
    val scores = langProfiles.map { case (lang, stops) =>
      lang -> vocabCount(text, stops)
    }
    // argmax via chained CASE: first language whose score is the max
    // and positive; ties resolve in profile order (deterministic,
    // because a CASE evaluates its branches top-down).
    val maxScore = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((lang, score), els) =>
      when(score === maxScore && score > 0, lang).otherwise(els)
    }
  }

  /** Canonical fingerprint: md5 of the lowercased text with all
    * non-alphanumerics stripped — catches whitespace/punctuation-level
    * duplicates that byte-exact hashing misses. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "[^a-z0-9]", ""))

  /** Rolling document hash over tokens in a 48-bit domain with
    * md5-derived token hashes: rotate-XOR (pure bitwise ops, so no ANSI
    * overflow, and still order-sensitive like a polynomial hash),
    * computable incrementally. Reproducible outside Spark (any engine
    * with md5 + bit ops), so the driver query can be oracle-gated (the
    * q47 `hashSplitPortable` play). Values stay positive and < 2^48,
    * sidestepping cross-engine signed-shift differences. */
  def rollingHashPortable(text: Column): Column = {
    val mask = lit(281474976710655L) // 2^48 - 1
    aggregate(tokens(text), lit(281474976710597L),
      (acc, t) => shiftleft(acc, 5).bitwiseOR(shiftrightunsigned(acc, 43))
        .bitwiseAND(mask)
        .bitwiseXOR(graft.operators.Sampling.portableHash48(t)))
  }

  /** DuckDB SQL replaying [[rollingHashPortable]] over `expr`. */
  def rollingHashPortableSql(expr: String): String = {
    val tokHash = graft.operators.Sampling.portableHash48Sql("t")
    s"""list_reduce(
       |  list_prepend(CAST(281474976710597 AS BIGINT),
       |    list_transform(string_split_regex(trim($expr), '\\s+'),
       |      t -> $tokHash)),
       |  (acc, h) -> xor(((acc << 5) | (acc >> 43)) & 281474976710655, h))""".stripMargin
    // NB: fully parenthesized — DuckDB gives <<, >>, | EQUAL precedence
    // (left-to-right), so `a << 5 | a >> 43` parses as ((a<<5)|a)>>43.
  }

  /** Word n-gram shingles (for Jaccard / MinHash) — native codegen'd
    * expression ([[WordShingles]]); the HOF-composed equivalent
    * (`transform(sequence)+slice+concat_ws+array_distinct`) is ~20×
    * slower because higher-order functions evaluate interpreted. */
  def shingles(text: Column, n: Int): Column =
    WordShingles.shinglesNative(text, n)

  /** Exact Jaccard similarity between two shingle arrays — the native
    * fused kernel ([[SignatureExpressions.jaccardSim]]): one hash-set
    * pass instead of materializing `array_intersect` AND `array_union`
    * intermediates per candidate pair. Same int/int double division
    * (deterministic, oracle-stable); empty∪empty yields 0.0. */
  def jaccard(a: Column, b: Column): Column =
    SignatureExpressions.jaccardSim(a, b)

  /** PII-masking patterns, deliberately in the Java∩RE2 regex subset
    * (plain character classes + counted quantifiers — the q53
    * discipline) so any engine replays them byte-identically. */
  val EmailRe = "[A-Za-z0-9._%+]+@[A-Za-z0-9.]+\\.[A-Za-z][A-Za-z]+"
  val PhoneRe =
    "[0-9][0-9][0-9][-. ][0-9][0-9][0-9][-. ][0-9][0-9][0-9][0-9]"
  val LongDigitsRe = "[0-9]{9,}"

  /** PII masking for training corpora: emails → `<EMAIL>`, 3-3-4
    * phone shapes → `<PHONE>`, ≥9-digit runs (account/card numbers) →
    * `<NUM>`. Order matters: emails first (their local parts may
    * contain digit runs), then phones, then bare digit runs. A pure
    * projection — the 100 TB cost is the scan; swap patterns per
    * policy, the operator shape stays. */
  def maskPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      LongDigitsRe, "<NUM>")
}
