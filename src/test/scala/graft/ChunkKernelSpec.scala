package graft

import graft.functions.{ChunkHashes, ChunkRebuild}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

/** The native [[ChunkHashes]]/[[ChunkRebuild]] kernels must be
  * BIT-identical to the composable forms they replaced in
  * `Dedup.dedupSpans` (the WordShingles/WindowHashes migration
  * discipline: byte-diff the outputs, then swap). The edge corpus
  * covers the tokenizer's total-function corners (empty, whitespace,
  * tab/newline — SQL trim strips ASCII space ONLY, Java trim does
  * not), chunk-boundary lengths (< n, = n, n+1, 2n), multi-space
  * runs, and nulls. */
class ChunkKernelSpec extends SparkSpec {
  import spark.implicits._

  private def ws(tag: String, n: Int) =
    (0 until n).map(i => s"$tag$i").mkString(" ")

  private val edgeDocs = Seq[(java.lang.Long, String)](
    (0L, ""), (1L, "   "), (2L, "a"), (3L, "a b"),
    (4L, ws("x", 10)),            // exactly one full chunk
    (5L, ws("x", 10) + " tail"),  // chunk + 1-token remainder
    (6L, ws("y", 25)),            // 3 chunks, last short
    (7L, "a  b   c"),             // multi-space runs
    (8L, "\ta leading tab"),      // SQL trim keeps the tab
    (9L, "trailing newline\n"),   // trailing empty token kept
    (10L, ws("x", 10) + " " + ws("z", 10)), // repeats doc 4's chunk
    (11L, null),
    (12L, " padded both sides "),
    (13L, ws("x", 9) + " x9")     // differs from doc 4 only at token 10
  ).toDF("doc_id", "text")

  /** The pre-r20 composable chunk-hash projection, verbatim. */
  private def composableChunkHashes(spanWords: Int) = {
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val nChunks = ceil(size(toks).cast("double") / spanWords).cast("int")
    when(nChunks > 0,
      transform(sequence(lit(0), nChunks - 1),
        i => xxhash64(
          array_join(slice(toks, i * spanWords + 1, lit(spanWords)), " "))))
      .otherwise(array().cast(ArrayType(LongType)))
  }

  /** The pre-r20 composable dedupSpans, verbatim (hash-keyed decision,
    * slice-HOF rebuild) — the reference implementation the kernel
    * form must reproduce byte-for-byte. */
  private def composableDedupSpans(docs: DataFrame,
      spanWords: Int): DataFrame = {
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val exploded = docs
      .select(col("doc_id").as("__id"),
        posexplode(composableChunkHashes(spanWords)))
      .withColumnRenamed("pos", "idx")
      .withColumnRenamed("col", "__h")
    val kept = exploded
      .groupBy(col("__h"))
      .agg(min(struct(col("__id"), col("idx"))).as("__first"))
      .select(col("__first.__id").as("__id"), col("__first.idx").as("idx"))
    val rec = kept.groupBy(col("__id"))
      .agg(array_sort(collect_list(col("idx"))).as("__idxs"))
    docs.join(rec.withColumnRenamed("__id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("text", coalesce(
        array_join(flatten(transform(col("__idxs"),
          i => slice(toks, i * spanWords + 1, lit(spanWords)))), " "),
        lit("")))
      .drop("__idxs")
  }

  test("ChunkHashes === composable transform/slice/array_join/xxhash64 " +
      "on the edge corpus, at n = 1, 3, 10") {
    for (n <- Seq(1, 3, 10)) {
      val both = edgeDocs.select(col("doc_id"),
        ChunkHashes.chunkHashesNative(col("text"), n).as("k"),
        composableChunkHashes(n).as("c")).collect()
      both.foreach { r =>
        val k = if (r.isNullAt(1)) null else r.getSeq[Long](1)
        val c = if (r.isNullAt(2)) null else r.getSeq[Long](2)
        // null text included: the composable form's when-guard yields
        // [], and so must the kernel (not NULL)
        assert(k == c, s"n=$n doc=${r.getLong(0)}: $k vs $c")
      }
      // ...interpreted (local relation) and generated code alike
      val nullRows = both.filter(_.getLong(0) == 11L) ++
        edgeDocs.repartition(2).filter(col("doc_id") === 11L)
          .select(col("doc_id"), ChunkHashes.chunkHashesNative(
            col("text"), n)).collect()
      assert(nullRows.length === 2 && nullRows.forall(r =>
        !r.isNullAt(1) && r.getSeq[Long](1).isEmpty))
    }
  }

  test("dedupSpans (kernel form) === the composable reference, " +
      "byte-for-byte, on the edge corpus and a repeat-heavy corpus") {
    val repeatHeavy = {
      val shared = ws("s", 10)
      Seq[(java.lang.Long, String)](
        (100L, shared + " " + ws("a", 10)),
        (101L, shared + " " + ws("b", 10)),
        (102L, shared + " " + ws("a", 10)),
        (103L, ws("c", 7)),
        (104L, shared),
        (105L, ws("b", 10) + " " + shared + " " + ws("d", 4))
      ).toDF("doc_id", "text")
    }
    for (docs <- Seq(edgeDocs, repeatHeavy); n <- Seq(3, 10)) {
      val kernel = graft.operators.Dedup.dedupSpans(docs, n)
        .select(col("doc_id"), col("text")).collect()
        .map(r => (r.get(0), r.getString(1))).toMap
      val ref = composableDedupSpans(docs, n)
        .select(col("doc_id"), col("text")).collect()
        .map(r => (r.get(0), r.getString(1))).toMap
      assert(kernel == ref, s"n=$n")
    }
  }

  test("ChunkRebuild joins surviving chunks exactly as the slice-HOF " +
      "form, including out-of-range indexes and empty tokens") {
    val df = Seq(("a b c d e", Seq(0, 2)), ("x", Seq(0, 5)),
        ("  ", Seq(0))).toDF("text", "idxs")
    val n = 2
    val out = df.select(
      ChunkRebuild.chunkRebuildNative(col("text"), col("idxs"), n).as("k"),
      array_join(flatten(transform(col("idxs"),
        i => slice(graft.functions.TextFunctions.tokens(col("text")),
          i * n + 1, lit(n)))), " ").as("c")).collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1),
      s"${r.getString(0)} vs ${r.getString(1)}"))
  }
}
