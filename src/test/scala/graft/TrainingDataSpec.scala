package graft

import graft.functions.TextFunctions
import graft.operators.{AnnIndex, Dedup, HotBuckets, Hydration, Similarity}
import graft.sources.Multimodal
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("tokens + tokenCount on trimmed whitespace") {
    val df = Seq("  the quick  brown fox ", "one").toDF("text")
    val n = df.select(TextFunctions.tokenCount($"text")).as[Int].collect()
    assert(n.toSeq === Seq(4, 1))
  }

  test("shingles: distinct word n-grams") {
    val df = Seq("a b c d").toDF("text")
    val sh = df.select(TextFunctions.shingles($"text", 3)).as[Seq[String]].head()
    assert(sh.toSet === Set("a b c", "b c d"))
  }

  test("jaccard on shingle arrays") {
    val df = Seq(("a b c d", "a b c e")).toDF("x", "y")
    val j = df.select(TextFunctions.jaccard(
      TextFunctions.shingles($"x", 2), TextFunctions.shingles($"y", 2)))
      .as[Double].head()
    // x: {a b, b c, c d}; y: {a b, b c, c e} → 2/4
    assert(j === 0.5)
  }

  test("maskPii: emails, 3-3-4 phones, long digit runs; clean text untouched") {
    val df = Seq(
      "mail me at jane.doe+x@sub.example.org today",
      "call 555-123-4567 or 555 987 6543 now",
      "acct 12345678901 and card 4111111122223333",
      "no pii here just words and the number 42",
      "short digits 12345678 stay"  // 8 digits: below the 9-run floor
    ).toDF("text")
    val got = df.select(TextFunctions.maskPii($"text")).as[String].collect()
    assert(got(0) === "mail me at <EMAIL> today")
    assert(got(1) === "call <PHONE> or <PHONE> now")
    assert(got(2) === "acct <NUM> and card <NUM>")
    assert(got(3) === "no pii here just words and the number 42")
    assert(got(4) === "short digits 12345678 stay")
  }

  test("langIdHeuristic: profile argmax with deterministic ties") {
    val df = Seq(
      "the cat of the house",     // en
      "der hund und die katze",   // de
      "nothing matching here xyz" // und
    ).toDF("text")
    val got = df.select(TextFunctions.langIdHeuristic($"text")).as[String].collect()
    assert(got.toSeq === Seq("en", "de", "und"))
  }

  test("fingerprint normalizes whitespace/punct/case") {
    val df = Seq(("Hello,  World!", "hello world"), ("a b", "ab")).toDF("x", "y")
    val eq = df.select((TextFunctions.fingerprint($"x") ===
      TextFunctions.fingerprint($"y")).as("e")).as[Boolean].collect()
    assert(eq.toSeq === Seq(true, true))
  }

  test("dot_product is SQL-registered and matches the Column API") {
    graft.functions.VectorExpressions.register(spark)
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    df.createOrReplaceTempView("vecs")
    val sql = spark.sql("SELECT dot_product(a, b) FROM vecs").as[Double].head()
    val api = df.select(graft.operators.Similarity.dot($"a", $"b")).as[Double].head()
    assert(sql === 32.0 && api === 32.0)
  }

  test("dedup kernels are SQL-registered and match the Column API") {
    graft.functions.SignatureExpressions.register(spark)
    val df = Seq(("the quick brown fox jumps", "the quick brown fox leaps"))
      .toDF("a", "b")
    df.createOrReplaceTempView("texts")
    val sql = spark.sql(
      """SELECT jaccard_sim(word_shingles(a, 2), word_shingles(b, 2)) AS j,
        |  simhash96_portable(word_shingles(a, 2)) AS sh96,
        |  minhash_sig(word_shingles(a, 2), 16) AS mh FROM texts""".stripMargin)
      .head()
    val api = df.select(
      TextFunctions.jaccard(
        TextFunctions.shingles($"a", 2), TextFunctions.shingles($"b", 2)).as("j"),
      graft.functions.SignatureExpressions.simHash96Portable(
        TextFunctions.shingles($"a", 2)).as("sh96"),
      graft.functions.SignatureExpressions.minHashSig(
        TextFunctions.shingles($"a", 2), 16).as("mh"))
      .head()
    assert(sql.getDouble(0) === api.getDouble(0))
    assert(sql.getSeq[Long](1) === api.getSeq[Long](1))
    assert(sql.getSeq[Long](2) === api.getSeq[Long](2))
    // the two md5 halves are independent lanes
    val words = api.getSeq[Long](1)
    assert(words.length === 2)
    assert(words(0) !== words(1))
  }

  test("fused simhash96 words are bit-identical to the per-part kernels") {
    import graft.functions.{SignatureKernels, SimHash96Portable}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    graft.functions.SignatureExpressions.register(spark)
    val df = Seq("the quick brown fox jumps over the lazy dog", "", null)
      .toDF("a")
    val rows = df.select(TextFunctions.shingles($"a", 2).as("sh"),
      graft.functions.SignatureExpressions.simHash96Portable(
        TextFunctions.shingles($"a", 2)).as("fused")).collect()
    def fusedOf(r: org.apache.spark.sql.Row): Seq[Long] =
      if (r.isNullAt(1)) null else r.getSeq[Long](1)
    // the same expression through generated code and through eval
    val fused = SimHash96Portable(
      BoundReference(0, ArrayType(StringType), nullable = true))
    val generated = GenerateUnsafeProjection.generate(Seq(fused))
    def viaCodegen(in: InternalRow): Seq[Long] = {
      val out = generated(in)
      if (out.isNullAt(0)) null else out.getArray(0).toLongArray.toSeq
    }
    def viaEval(in: InternalRow): Seq[Long] = fused.eval(in) match {
      case null => null
      case a: ArrayData => a.toLongArray.toSeq
    }
    rows.foreach { r =>
      val arr = if (r.isNullAt(0)) null else new GenericArrayData(
        r.getSeq[String](0).map(UTF8String.fromString).toArray[Any])
      val expected = if (arr == null) null
        else Seq(SignatureKernels.simHash48(arr, 0),
          SignatureKernels.simHash48(arr, 1))
      assert(fusedOf(r) === expected)
      val in = InternalRow(arr)
      assert(viaCodegen(in) === expected)
      assert(viaEval(in) === expected)
    }
    assert(rows.count(_.isNullAt(1)) === 1, "the null text must sign to null")
    // SQL registration round-trips the fused kernel too
    df.createOrReplaceTempView("fused_texts")
    val viaSql = spark.sql(
      "SELECT simhash96_portable(word_shingles(a, 2)) FROM fused_texts")
      .collect().map(r => if (r.isNullAt(0)) null else r.getSeq[Long](0))
    assert(viaSql.toSeq === rows.map(fusedOf).toSeq)
  }

  test("rollingHash is order-sensitive and deterministic") {
    val df = Seq("a b c", "c b a", "a b c").toDF("text")
    val h = df.select(TextFunctions.rollingHashPortable($"text")).as[Long].collect()
    assert(h(0) === h(2))
    assert(h(0) !== h(1))
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away into the deep dark forest tonight"
  private lazy val docs = Seq(
    (0L, base),
    (1L, base + " extra"),                    // near-dup of 0 (high jaccard)
    (2L, base.replace("quick", "slow")),      // near-dup of 0
    (3L, "completely different words about spark catalyst optimizer plans and shuffles everywhere"),
    (4L, base)                                // exact dup of 0
  ).toDF("doc_id", "text")

  test("exact dedup groups identical fingerprints") {
    val g = Dedup.exactByFingerprint(docs)
    assert(g.count() === 4) // 0&4 merge
    assert(g.filter($"group_size" === 2).select($"keep_id").as[Long].head() === 0L)
  }

  test("minhash LSH finds planted near-dups, skips unrelated") {
    val pairs = Dedup.minHashDupPairs(docs, 0.5, k = 128, bands = 32)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 4L))) // exact dup: jaccard 1.0
    assert(pairs.contains((0L, 1L))) // near-dup
    assert(pairs.contains((0L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated never pairs
  }

  test("containmentPairs: an embedded doc is caught at containment ≈ 1 " +
      "where symmetric jaccard dilutes below threshold") {
    val short = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val wrapper = short + " " + (1 to 60).map(i => s"filler$i").mkString(" ")
    val embedded = Seq(
      (0L, short),                              // the original paragraph
      (1L, wrapper),                            // boilerplate-wrapped superset
      (2L, "completely unrelated words about spark catalyst optimizer plans")
    ).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(embedded, 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    // every shingle of the short doc appears verbatim in the wrapper
    assert(cont((0L, 1L)) === 1.0)
    assert(!cont.keys.exists(p => p._1 == 2L || p._2 == 2L))
    // the SAME pair at the SAME threshold is invisible to symmetric
    // jaccard: |A∩B| / |A∪B| ≈ 8/68 — the wrapper dilutes it
    val jac = Dedup.ngramJaccardPairs(embedded, 0.5, t => substring(t, 1, 20))
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(!jac.contains((0L, 1L)))
  }

  test("containmentPairs: exact dup scores 1.0; disjoint docs emit nothing") {
    val cont = Dedup.containmentPairs(docs, 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(cont((0L, 4L)) === 1.0) // identical text
    assert(!cont.keys.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("containmentPairs: sub-shingle-size docs pair via the whole-doc " +
      "fallback shingle (the WordShingles <n contract, mirrored in q76Sql)") {
    val short = Seq(
      (0L, "hello world"), (1L, "hello world"), // 2 tokens — below n=3
      (2L, "solo"),                             // 1 token, no duplicate
      (3L, "hello there")                       // shares a token, not the doc
    ).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(short, 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    // each short doc's shingle set is ["<all tokens>"]; identical short
    // docs must still dedup — an oracle form that NULLs the ragged
    // n-gram window would silently claim they never pair
    assert(cont === Map((0L, 1L) -> 1.0))
  }

  test("minhash signature: identical text → identical signature") {
    val sig = docs.filter($"doc_id".isin(0L, 4L))
      .select(Dedup.minHashSignature(TextFunctions.shingles($"text", 3), 32))
      .as[Seq[Long]].collect()
    assert(sig(0) === sig(1))
  }

  test("simhash: exact dup at hamming 0; unrelated text never low-hamming") {
    val pairs = Dedup.simHashDupPairs(docs, maxHamming = 10)
      .as[(Long, Long, Long)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((0L, 4L)) === 0L) // identical text → identical signature
    // doc 3 shares no shingles with the others — must not appear at ≤10
    assert(!pairs.keys.exists(p => p._1 == 3L || p._2 == 3L))
    // near-dups that did surface must be closer than the threshold
    assert(pairs.values.forall(_ <= 10L))
  }

  test("incremental dedup: new batch deduped internally and against the corpus") {
    val corpus = Seq(
      (0L, base),
      (1L, "completely different words about spark catalyst optimizer plans and shuffles everywhere")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, base),                              // exact dup of corpus 0 → dropped
      (11L, base + " extra"),                   // near-dup of corpus 0 → dropped
      (12L, "a genuinely new document with its own entirely distinct vocabulary and content here today"),
      (13L, "a genuinely new document with its own entirely distinct vocabulary and content here today"), // exact dup of 12 → dropped (within-batch)
      (14L, "another brand new subject matter entirely unrelated to anything else in either corpus half")
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupIncrementalIndexed(fresh,
        Hydration.persist(Dedup.buildCorpusIndex(corpus)), jaccardThreshold = 0.5)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(12L, 14L))
    // idempotence: adding the kept rows to the corpus and re-ingesting
    // the same batch yields nothing new
    val corpus2 = corpus.unionByName(fresh.filter($"doc_id".isin(12L, 14L)))
    val again = Dedup.dedupIncrementalIndexed(fresh,
      Hydration.persist(Dedup.buildCorpusIndex(corpus2)), jaccardThreshold = 0.5)
    assert(again.isEmpty)
  }

  test("hydration level NONE (recompute) is bit-identical to the default cache") {
    val corpus = Seq(
      (0L, base),
      (1L, "completely different words about spark catalyst optimizer plans and shuffles everywhere")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, base + " extra"),
      (11L, "a genuinely new document with its own entirely distinct vocabulary and content here today")
    ).toDF("doc_id", "text")
    def runAll() = (
      Dedup.minHashDupPairs(docs, 0.5).collect().map(_.toString).sorted.toSeq,
      Dedup.dedupIncrementalIndexed(fresh,
          Hydration.persist(Dedup.buildCorpusIndex(corpus)), jaccardThreshold = 0.5)
        .collect().map(_.toString).sorted.toSeq,
      Similarity.sparseCosineTopK(
        Similarity.sparseTfVectors(docs, dim = 32), col("id") < 2, k = 3)
        .collect().map(_.toString).sorted.toSeq)
    // scoped: the lazy operators' pins are released before the NONE
    // half, which would otherwise read them instead of recomputing
    val withCache = graft.operators.Hydration.scoped(runAll())
    spark.conf.set("spark.sql.defaultCacheStorageLevel", "NONE")
    try {
      val recomputed = runAll()
      assert(recomputed === withCache,
        "hydration level must only move cost, never results")
    } finally spark.conf.unset("spark.sql.defaultCacheStorageLevel")
  }

  test("a parquet-persisted corpus index replays dedupIncremental exactly") {
    // the 100 TB ingestion shape: build the (id, fp, shingles) index
    // ONCE, write it as a real table, feed every later batch from the
    // table — no executor-storage cache has to survive between jobs
    val corpus = Seq(
      (0L, base),
      (1L, "completely different words about spark catalyst optimizer plans and shuffles everywhere")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, base),                // exact dup of corpus 0
      (11L, base + " extra"),     // near-dup of corpus 0
      (12L, "a genuinely new document with its own entirely distinct vocabulary and content here today")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-corpus-index")
      .toString
    try {
      Dedup.buildCorpusIndex(corpus).write.mode("overwrite").parquet(dir)
      val fromTable = Dedup.dedupIncrementalIndexed(fresh,
          spark.read.parquet(dir), jaccardThreshold = 0.5)
        .collect().map(_.toString).sorted.toSeq
      val direct = Dedup.dedupIncrementalIndexed(fresh,
          Hydration.persist(Dedup.buildCorpusIndex(corpus)), jaccardThreshold = 0.5)
        .collect().map(_.toString).sorted.toSeq
      assert(fromTable === direct)
      assert(fromTable.size === 1 && fromTable.head.contains("12"))
      // dial mismatch fails FAST: a 5-gram index fed a 3-gram batch
      // would verify jaccard ~ 0 on every cross candidate and silently
      // let every duplicate through — the shingleSize stamp in the sh
      // column metadata (which survives the parquet round-trip) must
      // reject it at build time
      val e = intercept[IllegalArgumentException] {
        Dedup.dedupIncrementalIndexed(fresh, spark.read.parquet(dir),
          jaccardThreshold = 0.5, shingleSize = 5)
      }
      assert(e.getMessage.contains("shingleSize"))
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("multi-batch lifecycle: ingestBatch accumulates survivors; the stamp survives appends") {
    val corpus = Seq(
      (0L, base),
      (1L, "completely different words about spark catalyst optimizer plans and shuffles everywhere")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-index-life")
      .toString
    try {
      Dedup.buildCorpusIndex(corpus).write.mode("overwrite").parquet(dir)
      val idsBefore = spark.sparkContext.getPersistentRDDs.keySet
      // batch 1: a corpus dup, a near-dup, and one genuinely new doc
      val b1 = Seq(
        (10L, base),
        (11L, base + " extra"),
        (12L, "a genuinely new document with its own entirely distinct vocabulary and content here today")
      ).toDF("doc_id", "text")
      val acc1 = Dedup.ingestBatch(spark, dir, b1, jaccardThreshold = 0.5)
        .select($"doc_id").as[Long].collect().sorted.toSeq
      assert(acc1 === Seq(12L))
      // batch 2 replays batch 1's SURVIVOR (exact + near) — it must be
      // dropped against the appended index, proving survivors entered
      // the on-disk index, not just the seed corpus
      val b2 = Seq(
        (20L, "a genuinely new document with its own entirely distinct vocabulary and content here today"),
        (21L, "a genuinely new document with its own entirely distinct vocabulary and content here today altered"),
        (22L, "another brand new subject matter entirely unrelated to anything else in either corpus half")
      ).toDF("doc_id", "text")
      val acc2 = Dedup.ingestBatch(spark, dir, b2, jaccardThreshold = 0.5)
        .select($"doc_id").as[Long].collect().sorted.toSeq
      assert(acc2 === Seq(22L))
      // repeated ingestion must not accumulate pinned storage: the
      // only persistent artifacts the two calls may leave are their
      // own localCheckpoint blocks (≤ 1 each, collectable once
      // unreferenced) — a leaked per-call projection cache would pin
      // one MORE entry per batch forever (CacheManager entries are
      // never auto-collected)
      val newIds = spark.sparkContext.getPersistentRDDs.keySet -- idsBefore
      assert(newIds.size <= 2, s"ingestBatch pinned storage: $newIds")
      // the index grew by exactly the accepted rows, and the
      // shingle-size stamp survived the appends (read-back schema) —
      // so a later mismatched batch still fails fast
      val idx = spark.read.parquet(dir)
      assert(idx.count() === corpus.count() + 2)
      val meta = idx.schema.find(_.name == "sh").get.metadata
      assert(meta.contains(Dedup.ShingleSizeMetaKey))
      assert(meta.getLong(Dedup.ShingleSizeMetaKey) === 3L)
      val e = intercept[IllegalArgumentException] {
        Dedup.ingestBatch(spark, dir, b2, shingleSize = 5)
      }
      assert(e.getMessage.contains("shingleSize"))
      // compaction: same rows in fewer files, stamp intact, and the
      // lifecycle keeps working against the rewritten index
      val rowsBefore = spark.read.parquet(dir)
        .select($"id", $"__fp").collect().map(_.toString).sorted.toSeq
      Dedup.compactCorpusIndex(spark, dir, targetFiles = 1)
      val compacted = spark.read.parquet(dir)
      assert(compacted.inputFiles.length === 1)
      assert(compacted.select($"id", $"__fp").collect()
        .map(_.toString).sorted.toSeq === rowsBefore)
      assert(compacted.schema.find(_.name == "sh").get.metadata
        .getLong(Dedup.ShingleSizeMetaKey) === 3L)
      // the rename-swap install must leave no working dirs behind: the
      // scratch dir was renamed INTO place (not copied) and the trash
      // copy of the pre-compaction index was dropped after the swap
      assert(!new java.io.File(dir.stripSuffix("/") + "__compact_stage").exists())
      assert(!new java.io.File(dir.stripSuffix("/") + "__old").exists())
      val b3 = Seq(
        (30L, "another brand new subject matter entirely unrelated to anything else in either corpus half"),
        (31L, "fresh post-compaction content with vocabulary seen nowhere previously in this growing corpus")
      ).toDF("doc_id", "text")
      val acc3 = Dedup.ingestBatch(spark, dir, b3, jaccardThreshold = 0.5)
        .select($"doc_id").as[Long].collect().sorted.toSeq
      assert(acc3 === Seq(31L)) // 30 dups batch-2's survivor 22
      intercept[IllegalArgumentException] {
        Dedup.ingestBatch(spark, dir, b3, shingleSize = 5)
      }
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("compactCorpusIndex: an append landing mid-compaction fails the compaction loudly and survives") {
    val corpus = Seq(
      (0L, "a first document with its own distinct vocabulary spread over enough words to shingle"),
      (1L, "a second unrelated document about catalyst plans shuffles and exchanges in spark")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-race")
      .toString
    try {
      Dedup.buildCorpusIndex(corpus).write.mode("overwrite").parquet(dir)
      val batch = Seq(
        (10L, "a genuinely new third document whose vocabulary overlaps neither of the first two at all")
      ).toDF("doc_id", "text")
      // inject the concurrent ingestBatch between the scratch rewrite
      // and the swap — exactly the window whose silent loss round 9
      // documented; the epoch check must now fail fast instead
      val e = intercept[java.util.ConcurrentModificationException] {
        Dedup.compactCorpusIndexStaged(spark, dir, 1,
          () => { Dedup.ingestBatch(spark, dir, batch); () })
      }
      assert(e.getMessage.contains("changed during compaction"))
      // the live index kept the concurrent append (nothing lost), and
      // the aborted compaction cleaned its scratch dir
      val ids = spark.read.parquet(dir).select($"id").as[Long]
        .collect().sorted.toSeq
      assert(ids === Seq(0L, 1L, 10L))
      assert(!new java.io.File(dir.stripSuffix("/") + "__compact_stage").exists())
      // once the writer quiesces, the retry compacts cleanly
      Dedup.compactCorpusIndex(spark, dir, targetFiles = 1)
      val compacted = spark.read.parquet(dir)
      assert(compacted.inputFiles.length === 1)
      assert(compacted.select($"id").as[Long].collect().sorted.toSeq ===
        Seq(0L, 1L, 10L))
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("simhash banding: planted hamming-5 pair straddling all four legacy chunks is FOUND") {
    // Differing bits 5, 13, 25, 37, 44 hit every legacy 4×12-bit chunk
    // (0-11, 12-23, 24-35, 36-47), so the old fixed 4-band layout
    // dropped this pair silently despite hamming 5 ≤ maxHamming 6. The
    // maxHamming+1 = 7-chunk pigeonhole layout leaves chunks 2 (bits
    // 14-20) and 4 (bits 28-34) untouched and MUST find it.
    val sigA = 0x0123456789ABL
    val diff = Seq(5, 13, 25, 37, 44).map(1L << _).reduce(_ | _)
    val sigs = Seq((1L, sigA), (2L, sigA ^ diff)).toDF("id", "sig")
    val found = Dedup.simHashPairsFromSigWords(sigs, Seq("sig"), 48, 48,
        maxHamming = 6)
      .as[(Long, Long, Long)].collect().toSeq
    assert(found === Seq((1L, 2L, 5L)))
  }

  test("simHashBandSpec: maxHamming+1 bands exactly tile the signature") {
    for (bits <- Seq(48, 64, 96, 128); h <- 0 to 10) {
      val spec = Dedup.simHashBandSpec(bits, h)
      assert(spec.size === h + 1)            // pigeonhole: h diffs can't touch all h+1 chunks
      assert(spec.map(_._2).sum === bits)    // full coverage, no bit unbanded
      assert(spec.forall(_._2 >= 1))
      spec.sliding(2).toSeq.foreach {
        case Seq((o1, w1), (o2, _)) => assert(o2 === o1 + w1) // contiguous
        case _ =>
      }
    }
  }

  test("production band layouts keep >= 12-bit chunks (>= 4096 buckets per band)") {
    // the scale contract behind the round-7 widening: q28/q72's
    // portable 96-bit layout and the 128-bit fast path must never band
    // into chunks so narrow the bucket join degenerates (48 bits at
    // maxHamming 6 left 6-7-bit chunks = 64-128 buckets per band —
    // a ~n²·bands/2^13 candidate volume at any corpus size)
    for ((bits, h) <- Seq((96, 6), (96, 7), (128, 6))) {
      val widths = Dedup.simHashBandSpec(bits, h).map(_._2)
      assert(widths.forall(_ >= 12),
        s"sigBits=$bits maxHamming=$h has a chunk narrower than 12 bits: $widths")
    }
  }

  test("simhash 96-bit banding: planted word-straddling hamming-6 pair is FOUND") {
    // Differing bits 7, 21, 35, 47, 62, 90: bits 47 and 62 land in the
    // band that straddles the 48-bit word boundary (offset 42, width
    // 14 covers bits 42-55) and in its neighbors — six diffs over
    // seven chunks leave at least one chunk untouched (pigeonhole), so
    // the bucket join MUST find the pair even though every differing
    // bit pattern crosses words. Verifies the two-word chunk recombine
    // (sig0 >>> r | sig1 << 48-r) end to end with planted signatures.
    val a0 = 0x0123456789ABL          // word 0: bits 0-47
    val a1 = 0x00BEEF00DEADL          // word 1: bits 48-95
    val diffs = Seq(7, 21, 35, 47, 62, 90)
    val d0 = diffs.filter(_ < 48).map(1L << _).reduce(_ | _)
    val d1 = diffs.filter(_ >= 48).map(b => 1L << (b - 48)).reduce(_ | _)
    val sigs = Seq((1L, a0, a1), (2L, a0 ^ d0, a1 ^ d1))
      .toDF("id", "sig0", "sig1")
    val found = Dedup.simHashPairsFromSigWords(sigs, Seq("sig0", "sig1"),
        wordBits = 48, sigBits = 96, maxHamming = 6)
      .as[(Long, Long, Long)].collect().toSeq
    assert(found === Seq((1L, 2L, 6L)))
  }

  test("simhash pair generation pins no storage across repeated calls") {
    // round 6 cached the sig frame per call and never unpersisted —
    // a long-lived library session accumulated pinned frames. The
    // widened path relies on ReuseExchange for the self-join reuse
    // instead: repeated calls must leave the persistent-RDD registry
    // exactly where it was.
    val sigs = Seq((1L, 5L), (2L, 7L), (3L, 5L), (4L, 1024L))
      .toDF("id", "sig")
    // compare ID SETS, not sizes: the ContextCleaner may concurrently
    // release OTHER tests' unreferenced localCheckpoint blocks
    // mid-loop (shrinking the registry), which under a size compare
    // could mask a real leak of the same magnitude — the regression
    // under test is NEW ids still registered at the end
    val before = spark.sparkContext.getPersistentRDDs.keySet
    for (_ <- 1 to 30)
      Dedup.simHashPairsFromSigWords(sigs, Seq("sig"), 48, 48, 2).count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persistent RDD ids: $leaked")
  }

  test("lshParams: a threshold below the kernel budget fails fast, not silently") {
    val e = intercept[IllegalArgumentException](Dedup.lshParams(0.01))
    assert(e.getMessage.contains("kernel budget"))
  }

  test("strict guard fails on the first oversized bucket; observations are queryable") {
    val synth = ((0L until 40L).map(i => ("hot", i)) ++
      (100L until 105L).map(i => ("cold", i))).toDF("bucket", "id")
    // strict: the query DIES instead of silently dropping the block
    val e = intercept[Exception] {
      HotBuckets.guard(synth, Seq("bucket"), cap = 10, "strictSpec",
        strict = true).count()
    }
    assert(e.getMessage.contains("strictSpec") ||
      Option(e.getCause).exists(_.getMessage.contains("strictSpec")))
    // non-strict: dropped mass is reported PROGRAMMATICALLY after the
    // action completes — the library-context channel the warn-log
    // cannot provide
    val kept = HotBuckets.guard(synth, Seq("bucket"), cap = 10,
      "observeSpec").count()
    assert(kept === 5L)
    // observe fires on query COMPLETION via a listener thread; poll
    // briefly rather than racing it
    val deadline = System.currentTimeMillis + 10000
    def obs = HotBuckets.lastObservation("observeSpec")
    while (obs.isEmpty && System.currentTimeMillis < deadline)
      Thread.sleep(50)
    assert(obs === Some((40L, 40L)),
      "dropped rows and max bucket size must be queryable by call-site tag")
  }

  test("strict star/rep guards fail on oversized buckets; observation retention is per tag") {
    val synth = ((0L until 40L).map(i => ("hot", i)) ++
      (100L until 105L).map(i => ("cold", i))).toDF("bucket", "id")
    val e = intercept[Exception] {
      HotBuckets.starSelfJoinCandidates(synth, Seq("bucket"), "id", Nil,
        10, "strictStarSpec", strict = true).count()
    }
    assert(e.getMessage.contains("strictStarSpec") ||
      Option(e.getCause).exists(_.getMessage.contains("strictStarSpec")))
    val e2 = intercept[Exception] {
      HotBuckets.guardRep(synth, Seq("bucket"), "id", 10, "strictRepSpec",
        strict = true).count()
    }
    assert(e2.getMessage.contains("strictRepSpec") ||
      Option(e2.getCause).exists(_.getMessage.contains("strictRepSpec")))
    // strict over an all-small frame = full enumeration, no failure
    val small = (100L until 105L).map(i => ("cold", i)).toDF("bucket", "id")
    assert(HotBuckets.starSelfJoinCandidates(small, Seq("bucket"), "id",
      Nil, 10, "strictStarSpec", strict = true).count() === 10L)
    // per-tag retention: a later completion under ANOTHER tag must not
    // displace this tag's observation (the old 512-name ring could),
    // and each tag reads back its own numbers
    HotBuckets.guard(synth, Seq("bucket"), cap = 10, "tagA").count()
    HotBuckets.guard(synth, Seq("bucket"), cap = 50, "tagB").count()
    val deadline = System.currentTimeMillis + 10000
    def a = HotBuckets.lastObservation("tagA")
    def b = HotBuckets.lastObservation("tagB")
    while ((a.isEmpty || b.isEmpty) && System.currentTimeMillis < deadline)
      Thread.sleep(50)
    assert(a === Some((40L, 40L)), "tagA dropped the 40-row bucket")
    assert(b === Some((0L, 40L)), "tagB ran clean at cap 50 — 0 dropped")
  }

  test("NearDup.distinctPairs collapses per-band emissions to one row per pair") {
    val perBand = Seq((1L, 2L, 0L), (1L, 2L, 0L), (1L, 2L, 0L), (1L, 3L, 4L))
      .toDF("id_a", "id_b", "hamming")
    val d = graft.streaming.NearDup.distinctPairs(perBand)
      .as[(Long, Long, Long)].collect().toSet
    assert(d === Set((1L, 2L, 0L), (1L, 3L, 4L)))
  }

  test("largeSmallStar refuses to return under-merged labels on non-convergence") {
    // a 64-node chain needs ~log rounds; maxIter = 1 cannot converge —
    // the operator must throw (the fail-fast stance lshParams takes),
    // never hand dedupCorpus labels that silently keep extra survivors
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 1, driverThreshold = 10)
        .count()
    }
    assert(e.getMessage.contains("no fixpoint"))
  }

  test("hot-bucket star fallback: oversized buckets collapse to the representative, not to nothing") {
    // 40 NEAR-identical docs (byte-identical ones would collapse in the
    // exact fingerprint stage and never reach the LSH path, making the
    // dedupCorpus assertion below vacuous): every shared (band, chunk)
    // bucket holds far more than the cap of 10. Above the cap the
    // candidate volume is bounded at O(B) star pairs vs the bucket-min
    // (NOT dropped: a drop would silently keep all 40 copies through a
    // dedup — the exact regression this gate exists to catch).
    // the deterministic unit contract first: one oversized bucket (40
    // rows under one key, cap 10) and one small bucket (5 rows) fed
    // straight into the candidate generator — the oversized bucket
    // must emit EXACTLY its 39 (min, member) star pairs, the small one
    // its full 10
    val synth = ((0L until 40L).map(i => ("hot", i)) ++
      (100L until 105L).map(i => ("cold", i))).toDF("bucket", "id")
    val cand = HotBuckets.starSelfJoinCandidates(synth, Seq("bucket"),
      "id", Nil, 10, "spec").as[(String, Long, Long)].collect()
    val hot = cand.filter(_._1 == "hot").map(c => (c._2, c._3)).toSet
    val cold = cand.filter(_._1 == "cold").map(c => (c._2, c._3)).toSet
    assert(hot === (1L until 40L).map(i => (0L, i)).toSet,
      "oversized bucket must degrade to exactly its B-1 star pairs")
    assert(cold.size === 10 && cold.forall(p => p._1 < p._2),
      "small buckets must still enumerate fully")
    // end-to-end: NEAR-identical docs (distinct tails keep distinct
    // fingerprints, so the exact stage cannot collapse them) flow
    // through star candidates + jaccard verify + components to ONE
    // survivor; pairwise jaccard stays well above the 0.5 threshold
    val degen = (0L until 40L).map(i => (i, base + s" tail$i"))
      .toDF("doc_id", "text")
    // capped < uncapped proves the cap PLUMBS THROUGH the public entry
    // points and engaged (pairs co-occurring only in oversized buckets
    // are traded for the star set) — a refactor that stops forwarding
    // maxBucket would make the two counts equal
    val capped = Dedup.simHashDupPairs(degen, maxHamming = 6,
      maxBucket = 10).count()
    val uncappedSh = Dedup.simHashDupPairs(degen, maxHamming = 6)
      .count()
    assert(capped > 0 && capped < uncappedSh)
    val cappedMh = Dedup.minHashDupPairs(degen, 0.5, maxBucket = 10).count()
    val uncappedMh = Dedup.minHashDupPairs(degen, 0.5).count()
    assert(uncappedMh === 40L * 39 / 2)
    assert(cappedMh > 0 && cappedMh < uncappedMh)
    val survivors = Dedup.dedupCorpus(degen, 0.5, maxBucket = 10)
    assert(survivors.count() === 1L,
      "a NEAR-dup mega-cluster above the bucket cap must still dedup " +
        "to one survivor (exact collapse cannot help — the docs differ)")
  }

  test("editDistancePairs: planted typos found, unrelated and far texts skipped") {
    val typoDocs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (1L, "the quick brown fox jumps over the lazy dog tonite"),  // 2 edits
      (2L, "the quick brown fox leaps over seven lazy dogs today"), // > 5 edits
      (3L, "completely different subject matter altogether here")
    ).toDF("doc_id", "text")
    val pairs = Dedup.editDistancePairs(typoDocs, maxDist = 5)
      .as[(Long, Long, Long)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs.contains((0L, 1L)) && pairs((0L, 1L)) <= 3L)
    assert(!pairs.contains((0L, 2L))) // same block, too many edits
    assert(!pairs.keys.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("connected components: transitive clusters get the min label") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps(1L) === 1L && comps(2L) === 1L && comps(3L) === 1L)
    assert(comps(10L) === 10L && comps(11L) === 10L)
  }

  test("distributed large/small-star components ≡ driver union-find, incl. a 63-hop chain") {
    // high-diameter chain (the min-label killer: 63 label rounds), a
    // dense cluster, shuffled insertion order, an isolated pair — the
    // alternating stars must label all of it identically to the exact
    // driver union-find, well inside the O(log n) round budget
    val chain = (100L until 163L).map(i => (i, i + 1))
    val clique = for (a <- 0L until 8L; b <- (a + 1) until 8L) yield (a, b)
    val edges = new scala.util.Random(7).shuffle(
      (chain ++ clique :+ ((500L, 501L))).toSeq).toDF("id_a", "id_b")
    val exact = Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    val distributed = Dedup
      .connectedComponents(edges, driverThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(distributed === exact)
    assert(distributed(163L) === 100L && distributed(7L) === 0L &&
      distributed(501L) === 500L)
  }

  test("dedupCorpus keeps one canonical doc per exact+near cluster") {
    val kept = Dedup.dedupCorpus(docs, jaccardThreshold = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    // 4 is an exact dup of 0; 1 and 2 are near-dups of 0 → cluster min 0
    assert(kept.contains(0L) && kept.contains(3L))
    assert(!kept.contains(4L) && !kept.contains(1L) && !kept.contains(2L))
  }

  test("dedupSpans: later span occurrences cut, first kept, text rebuilt") {
    def ws(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val shared = ws("s", 10) // one aligned 10-token chunk
    val fixture = Seq(
      (0L, shared + " " + ws("a", 10)),  // owns both its chunks
      (1L, shared + " " + ws("b", 10)),  // chunk 0 duplicates doc 0's
      (2L, shared + " " + ws("a", 10)),  // exact dup of doc 0 → emptied
      (3L, ws("c", 7))                   // unique short doc, untouched
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(fixture, spanWords = 10)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(out(0L) === shared + " " + ws("a", 10)) // first occurrence intact
    assert(out(1L) === ws("b", 10))                // shared chunk removed
    assert(out(2L) === "")                         // fully deduplicated
    assert(out(3L) === ws("c", 7))                 // short doc untouched
  }

  test("dedupSpans: empty/whitespace docs emit zero chunks, not phantom spans") {
    // nChunks = 0 used to hit sequence(0, -1) — a DESCENDING [0, -1]
    // sequence yielding two "" chunks per empty doc, all colliding in
    // one span group (and stealing "" from any real doc that trims to
    // empty later in id order)
    val fixture = Seq(
      (0L, ""), (1L, "   "), (2L, "alpha beta gamma")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(fixture, spanWords = 10)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(out(0L) === "" && out(1L) === "")
    assert(out(2L) === "alpha beta gamma")
  }

  test("exactSubstringSpans: overlapping duplicated windows merge into " +
      "maximal spans; unique docs emit none") {
    def ws(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val run = ws("r", 7) // 7 shared tokens → n=5 windows at 3 offsets
    val fixture = Seq(
      (0L, run + " " + ws("a", 5)), // run at token positions 1..7
      (1L, ws("b", 3) + " " + run), // run at token positions 4..10
      (2L, ws("u", 12))             // globally unique → no spans
    ).toDF("doc_id", "text")
    val spans = Dedup.exactSubstringSpans(fixture, n = 5)
      .orderBy($"doc_id", $"span_start")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(spans === Seq((0L, 1L, 7L, 3L), (1L, 4L, 10L, 3L)))
  }

  test("exactSubstringSpans: a within-doc self-repeat is a repeat, and " +
      "distant occurrences stay separate islands") {
    def ws(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val run = ws("s", 5)
    val fixture = Seq(
      (7L, run + " " + ws("m", 4) + " " + run) // s@1..5, m@6..9, s@10..14
    ).toDF("doc_id", "text")
    val spans = Dedup.exactSubstringSpans(fixture, n = 5)
      .orderBy($"span_start")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(spans === Seq((7L, 1L, 5L, 1L), (7L, 10L, 14L, 1L)))
  }

  test("dedupExactSubstrings: globally-first occurrence kept verbatim, " +
      "later occurrences cut, fully-duplicated docs empty, unique " +
      "docs untouched") {
    def ws(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val run = ws("r", 5)
    val fixture = Seq(
      (0L, run + " " + ws("a", 3)), // canonical occurrence → intact
      (1L, ws("b", 2) + " " + run), // later occurrence → run cut
      (2L, run),                    // nothing but the run → emptied
      (3L, ws("u", 6))              // unique → untouched
    ).toDF("doc_id", "text")
    val out = Dedup.dedupExactSubstrings(fixture, n = 5)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(out(0L) === run + " " + ws("a", 3))
    assert(out(1L) === ws("b", 2))
    assert(out(2L) === "")
    assert(out(3L) === ws("u", 6))
  }

  test("CanonicalTokens.tokenize ≡ split(trim(text), '\\s+') — SQL trim " +
      "(ASCII space only) and Spark split limit -1 (trailing empties kept)") {
    val tricky = Seq("\tfoo bar", "foo bar\n", "  foo  bar  ", "",
      "   ", "\n\t", "a b", " \tmixed lead", "trail mix\r\n ",
      "plain single", "ctl lead")
    val viaSql = tricky.toDF("t")
      .select(split(trim($"t"), "\\s+").as("k"))
      .as[Seq[String]].collect().toSeq
    val viaKernel = tricky.map(s =>
      graft.functions.CanonicalTokens.tokenize(s).toSeq)
    assert(viaKernel === viaSql,
      "native kernels must tokenize exactly like the tokens() column form")
  }

  test("dedupExactSubstrings: a leading tab shifts the token axis — the " +
      "kernel's window positions must still align with the tokens() table") {
    def ws(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val run = ws("r", 5)
    val fixture = Seq(
      (0L, run),                     // canonical occurrence → intact
      // SQL-trim tokens: ["", r0..r4, b0] — the run sits at positions
      // 2..6; a Java-trim kernel would find it at 1..5 and cut the
      // leading empty token plus r0..r3, leaving "r4 b0" (wrong)
      (1L, "\t" + run + " b0")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupExactSubstrings(fixture, n = 5)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(out(0L) === run)
    // survivors: the leading empty token (p1) and b0 (p7), space-joined
    assert(out(1L) === " b0")
    val spans = Dedup.exactSubstringSpans(fixture, n = 5)
      .orderBy($"doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(spans === Seq((0L, 1L, 5L, 1L), (1L, 2L, 6L, 1L)))
  }

  test("exactSubstringSpans minCount: the threshold separates heavy " +
      "boilerplate from incidental repeats") {
    def ws(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val boiler = ws("b", 5) // in 4 docs → survives minCount=4
    val quote = ws("q", 5)  // in 2 docs → only the minCount=2 view
    val fixture = Seq(
      (0L, boiler + " " + quote),
      (1L, boiler + " " + ws("x", 5)),
      (2L, boiler + " " + ws("y", 5)),
      (3L, boiler + " " + ws("z", 5)),
      (4L, ws("u", 5) + " " + quote)
    ).toDF("doc_id", "text")
    val strict = Dedup.exactSubstringSpans(fixture, n = 5, minCount = 4)
      .orderBy($"doc_id").as[(Long, Long, Long, Long)].collect().toSeq
    // only the 4-doc boilerplate run, at positions 1..5 of docs 0-3
    assert(strict === (0L to 3L).map(d => (d, 1L, 5L, 1L)))
    val loose = Dedup.exactSubstringSpans(fixture, n = 5, minCount = 2)
      .orderBy($"doc_id", $"span_start")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // the default view additionally covers the 2-doc quote; in doc 0
    // the boiler (1..5) and quote (6..10) coverages are ADJACENT, so
    // the island merge joins them into ONE span (starts differ by
    // exactly n — the documented ≤ n contiguity rule)
    assert(loose === Seq(
      (0L, 1L, 10L, 2L), (1L, 1L, 5L, 1L), (2L, 1L, 5L, 1L),
      (3L, 1L, 5L, 1L), (4L, 6L, 10L, 1L)))
  }

  test("exactSubstringStats: per-source repeat coverage — exact counts, " +
      "overlap counted once, null-text docs excluded") {
    def ws(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val run = ws("r", 7) // 7 shared tokens → n=5 coverage of 7 per doc
    val fixture = Seq(
      (0L, "a", run + " " + ws("x", 5)),   // 12 tokens, 7 covered
      (1L, "a", ws("y", 3) + " " + run),   // 10 tokens, 7 covered
      (2L, "b", ws("u", 12)),              // unique: 12 tokens, 0 covered
      (3L, "b", null.asInstanceOf[String]) // null text: excluded
    ).toDF("doc_id", "source", "text")
    val out = graft.operators.Dedup.exactSubstringStats(fixture, n = 5)
      .orderBy($"source")
      .as[(String, Long, Long, Long, Long, Double)].collect().toSeq
    assert(out === Seq(
      ("a", 2L, 2L, 22L, 14L, 14.0 / 22.0),
      ("b", 1L, 0L, 12L, 0L, 0.0)))
  }

  test("decontaminate: docs sharing an n-gram with the benchmark drop; " +
      "clean docs survive") {
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      // shares the 4-gram "beta gamma delta epsilon" → contaminated
      (1L, "prefix words beta gamma delta epsilon suffix tail here now"),
      // same words, different order → no shared 4-gram → survives
      (2L, "epsilon delta gamma beta alpha zeta theta eta ordered anew"),
      (3L, "entirely unrelated vocabulary in this training document")
    ).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpus, Dedup.Exact(bench), n = 4)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(2L, 3L))
    // n larger than every doc: the benchmark's single all-tokens gram
    // matches only an exact token-sequence duplicate
    val keptAll = Dedup.decontaminate(corpus, Dedup.Exact(bench), n = 50)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(keptAll === Seq(1L, 2L, 3L))
  }

  test("centroidAffinity: hand-checked cosines (count terms cancel); " +
      "NaN-poisoned vectors excluded whole; zero centroid yields null") {
    import graft.operators.Affinity
    val vecs = Seq(
      (0, Array(1.0f, 0.0f)), (0, Array(1.0f, 0.0f)),
      (0, Array(Float.NaN, 99.0f)), // poisoned: excluded WHOLE
      (1, Array(0.0f, 2.0f)),
      (2, Array(3.0f, 3.0f)),
      (3, Array(0.0f, 0.0f))) // zero centroid
      .toDF("label", "embedding")
    val got = Affinity.centroidAffinity(vecs, "label", "embedding")
      .orderBy($"label_a", $"label_b")
      .as[(Int, Int, Long, Option[Double])].collect().toSeq
    val m = got.map(r => (r._1, r._2) -> r._4).toMap
    assert(got.forall(_._3 === 2L))
    assert(m((0, 1)) === Some(0.0)) // orthogonal
    // cos(mean_0, mean_2) = 6e8 / (√4e8 · √1.8e9) = 1/√2, computed
    // with the SAME pinned parenthesization as the operator
    assert(m((0, 2)) ===
      Some(6.0e8 / (math.sqrt(4.0e8) * math.sqrt(1.8e9))))
    assert(m((1, 2)) ===
      Some(6.0e8 / (math.sqrt(4.0e8) * math.sqrt(1.8e9))))
    // zero-centroid pairs are null, never NaN/Inf
    assert(m((0, 3)) === None && m((1, 3)) === None && m((2, 3)) === None)
    assert(got.size === 6)
  }

  test("centroidAffinity: labels each internally uniform but at " +
      "DIFFERENT lengths (128 vs 256 class) die loudly — no silent " +
      "overlap-dims cosine") {
    import graft.operators.Affinity
    val vecs = Seq(
      (0, Array(1.0f, 0.0f)), (0, Array(0.0f, 1.0f)), // uniform len 2
      (1, Array(1.0f, 2.0f, 3.0f)))                   // uniform len 3
      .toDF("label", "embedding")
    val e = intercept[Exception] {
      Affinity.centroidAffinity(vecs, "label", "embedding").collect()
    }
    assert(e.getMessage.contains("disagree on vector length"),
      e.getMessage)
  }

  test("leakageSafeSplit: NULL-text docs are NOT silently dropped — " +
      "they collapse to one exact group (rep = min id) on one side, " +
      "the q119 oracle's window-over-md5 semantics") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, null.asInstanceOf[String]),
      (3L, null.asInstanceOf[String]),
      (4L, "another unrelated document on parquet row group pruning"))
      .toDF("doc_id", "text")
    val out = Dedup.leakageSafeSplit(docs, trainPct = 90,
        jaccardThreshold = 0.5, shingleSize = 3)
      .select($"doc_id", $"split_rep", $"split")
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.size === 4, s"rows lost: $out") // EVERY input row emits
    assert(out(2L) === out(3L), "null-text docs must share rep AND side")
    assert(out(2L)._1 === 2L, "null group rep is its min id")
    assert(out(1L)._1 === 1L && out(4L)._1 === 4L)
    // the null group must not have merged with a content cluster
    assert(out(1L)._1 !== out(2L)._1)
    assert(out(4L)._1 !== out(2L)._1)
  }

  test("contaminationFraction: a NULL-text doc emits (NULL, 0, NULL) — " +
      "never the legacy size(NULL) = -1 nonsense row") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = Dedup.contaminationFraction(corpus, bench, n = 4)
      .orderBy($"doc_id")
      .as[(Long, Option[Long], Long, Option[Double])].collect().toSeq
    assert(got === Seq(
      (1L, Some(2L), 2L, Some(1.0)),
      (2L, None, 0L, None)), got.toString)
  }

  test("leakageSafeSplit: exact and near-dup clusters land WHOLE on " +
      "one side; transitive chains share a representative; guards") {
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val docs = Seq(
      // cluster {1, 2 (exact dup), 3 (near dup)} → rep 1
      (1L, base), (2L, base), (3L, base + " extra"),
      // transitive chain over a DISJOINT vocabulary: 18 base shingles,
      // +10 per link → J(4,5)=18/28, J(5,6)=28/38 ≥ 0.5 but
      // J(4,6)=18/38 < 0.5 — only CC transitivity co-locates all three
      (4L, (1 to 20).map(i => s"w$i").mkString(" ")),
      (5L, (1 to 30).map(i => s"w$i").mkString(" ")),
      (6L, (1 to 40).map(i => s"w$i").mkString(" ")),
      // singletons
      (7L, "entirely different words about catalyst optimizer planning"),
      (8L, "another unrelated document on parquet row group pruning"))
      .toDF("doc_id", "text")
    val out = Dedup.leakageSafeSplit(docs, trainPct = 90,
        jaccardThreshold = 0.5, shingleSize = 3)
      .select($"doc_id", $"split_rep", $"split")
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.size === 8)
    // clusters share rep AND side
    assert(out(1L) === out(2L) && out(2L) === out(3L))
    assert(out(1L)._1 === 1L)
    assert(out(4L) === out(5L) && out(5L) === out(6L))
    assert(out(4L)._1 === 4L)
    // singletons are their own representative
    assert(out(7L)._1 === 7L && out(8L)._1 === 8L)
    // determinism: a second run under different partitioning agrees
    val again = Dedup.leakageSafeSplit(docs.repartition(7), trainPct = 90,
        jaccardThreshold = 0.5, shingleSize = 3)
      .select($"doc_id", $"split_rep", $"split")
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(again === out)
    intercept[IllegalArgumentException] {
      Dedup.leakageSafeSplit(docs, trainPct = 0) }
    intercept[IllegalArgumentException] {
      Dedup.leakageSafeSplit(docs, trainPct = 100) }
  }

  test("leakageSafeSplit releases its pins: after the call " +
      "the persistent-RDD registry holds nothing new but the result's " +
      "own checkpoint") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, null.asInstanceOf[String]),
      (4L, "another unrelated document on parquet row group pruning"))
      .toDF("doc_id", "text")
    // ID sets, not sizes: the ContextCleaner may release OTHER tests'
    // unreferenced blocks mid-call
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Dedup.leakageSafeSplit(docs, trainPct = 90,
      jaccardThreshold = 0.5, shingleSize = 3)
    val own = out.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id }.toSet
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before -- own
    assert(leaked.isEmpty, s"leaked persistent RDD ids: $leaked")
    assert(out.count() === 4L)
  }

  test("contaminationFraction: hand-checked per-doc leak shares; " +
      "zero-hit docs emit; Bloom prune provably invisible") {
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      // 7 distinct 4-grams, 1 shared ("beta gamma delta epsilon")
      (1L, "prefix words beta gamma delta epsilon suffix tail here now"),
      // reordered → zero shared 4-grams, still one output row
      (2L, "epsilon delta gamma beta alpha zeta theta eta ordered anew"),
      // an exact benchmark copy → every gram leaks, frac 1.0
      (3L, "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val got = Dedup.contaminationFraction(corpus, bench, n = 4)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq(
      (1L, 7L, 1L, 1.0 / 7.0),
      (2L, 7L, 0L, 0.0),
      (3L, 5L, 5L, 1.0)), got.toString)
    // prune invisibility: a 64-entry filter (dense false positives)
    // yields the identical frame — false positives die in the verify
    val tiny = Dedup.contaminationFraction(corpus, bench, n = 4,
        numBits = 64)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(tiny === got)
  }

  test("lshParams: threshold-derived banding meets the recall floor, " +
      "respects the kernel cap") {
    for (t <- Seq(0.3, 0.5, 0.8, 0.9)) {
      val (k, bands) = Dedup.lshParams(t)
      val r = k / bands
      assert(k <= 128 && k % bands === 0, s"t=$t -> ($k, $bands)")
      val recall = 1.0 - math.pow(1.0 - math.pow(t, r), bands)
      assert(recall >= 0.98, s"t=$t r=$r bands=$bands recall=$recall")
      // bands is minimal for this r: one fewer would break the floor
      assert(1.0 - math.pow(1.0 - math.pow(t, r), bands - 1) < 0.98,
        s"t=$t: bands=${bands - 1} also meets the floor — not minimal")
      // r is maximal: one row wider can't fit its minimal bands in 128
      if (r < 128) {
        val p2 = math.pow(t, r + 1)
        val b2 = math.ceil(math.log1p(-0.98) / math.log1p(-p2))
        assert(b2 * (r + 1) > 128,
          s"t=$t: r=${r + 1} with $b2 bands fits — derivation not maximal")
      }
    }
    // documented derivation points
    assert(Dedup.lshParams(0.8) === ((119, 17)))
    assert(Dedup.lshParams(0.5) === ((90, 30)))
    assert(Dedup.lshParams(0.3) === ((84, 42)))
  }

  test("borderline threshold: planted pairs just above j=0.5 all recovered " +
      "by derived banding") {
    // 10 planted pairs at jaccard ≈ 0.58 (28 shared / 48 union
    // 3-shingles): fixed (128, 32) banding recalls only ~87% of such
    // pairs; the threshold-derived (126, 42) floor is ≥ 0.95
    val rnd = new scala.util.Random(7)
    def words(n: Int, tag: String) =
      (0 until n).map(i => s"$tag${rnd.nextInt(100000)}w$i")
    val docs = (0 until 10).flatMap { p =>
      val shared = words(30, s"s$p")
      val a = shared ++ words(10, s"a$p")
      val b = shared ++ words(10, s"b$p")
      Seq((p * 2L, a.mkString(" ")), (p * 2L + 1, b.mkString(" ")))
    }.toDF("doc_id", "text")
    val pairs = Dedup.minHashDupPairs(docs, 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val expected = (0 until 10).map(p => (p * 2L, p * 2L + 1)).toSet
    assert(expected.subsetOf(pairs),
      s"missed planted borderline pairs: ${expected -- pairs}")
    // sanity: the planted pairs really are borderline (j in [0.5, 0.7))
    val j = Dedup.minHashDupPairs(docs, 0.5)
      .select($"jaccard").as[Double].collect()
    assert(j.forall(x => x >= 0.5 && x < 0.7), j.mkString(","))
  }

  test("ngram jaccard with prefix blocking") {
    val pairs = Dedup.ngramJaccardPairs(docs, 0.3, t => substring(t, 1, 20))
      .as[(Long, Long, Double)].collect()
    val ids = pairs.map(p => (p._1, p._2)).toSet
    assert(ids.contains((0L, 4L)))
    assert(pairs.find(p => p._1 == 0L && p._2 == 4L).get._3 === 1.0)
    assert(!ids.exists(p => p._1 == 3L || p._2 == 3L))
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  private lazy val vectors = Seq(
    (0L, vec(1, 0, 0, 0)),
    (1L, vec(0.9999, 0.01, 0, 0)), // near-dup of 0
    (2L, vec(0, 1, 0, 0)),         // orthogonal
    (3L, vec(-1, 0, 0, 0)),        // opposite
    (4L, vec(0.7, 0.7, 0, 0))      // diagonal
  ).toDF("vec_id", "embedding")

  test("cosine expression: exact values on known vectors") {
    val d = vectors.as("a").join(vectors.as("b"),
      col("a.vec_id") === 0L && col("b.vec_id") === 2L)
      .select(Similarity.cosine(
        Similarity.asDouble(col("a.embedding")),
        Similarity.asDouble(col("b.embedding"))))
      .as[Double].head()
    assert(math.abs(d) < 1e-9) // orthogonal
  }

  test("bruteForceTopK ranks by cosine with deterministic tie-break") {
    val topk = Similarity.bruteForceTopK(
      vectors.filter($"vec_id" === 0L), vectors, 4)
      .select($"rank", $"n_id").as[(Long, Long)].collect().toMap
    assert(topk(1) === 1L) // nearest: near-dup
    assert(topk(2) === 4L) // diagonal
    assert(topk(3) === 2L) // orthogonal
    assert(topk(4) === 3L) // opposite
  }

  test("hyperplane LSH: identical vectors share a bucket; near-dups verified") {
    val pairs = Similarity.lshNearDupPairs(vectors, 0.9, dim = 4, bits = 4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L))) // cos ≈ 0.9999
    assert(!pairs.contains((0L, 3L))) // opposite never passes verify
  }

  test("ivfAssign: same vector → same cell; assignment is total") {
    val dup = Seq((10L, vec(1, 2, 3, 4)), (11L, vec(1, 2, 3, 4))).toDF("vec_id", "embedding")
    val cells = Similarity.ivfAssign(dup, dim = 4, nCells = 8)
      .select($"cell").as[Int].collect()
    assert(cells(0) === cells(1))
    assert(Similarity.ivfAssign(vectors, 4, 8).count() === 5)
  }

  test("semanticCollapse: near-identical vectors collapse to the min id; " +
      "distinct and zero vectors survive") {
    val vs = Seq(
      (0L, vec(1, 0, 0, 0)),
      (1L, vec(0.9999, 0.01, 0, 0)), // near-dup of 0 → dropped
      (2L, vec(0, 1, 0, 0)),         // orthogonal → survives
      (3L, vec(0, 0, 0, 0))          // zero vector: never pairs → survives
    ).toDF("vec_id", "embedding")
    val kept = Similarity.semanticCollapse(vs, threshold = 0.9, dim = 4,
      bits = 4).select($"vec_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(0L, 2L, 3L))
  }

  test("broadcast guard: oversized query side falls back to non-broadcast " +
      "plans with identical results") {
    import org.apache.spark.sql.execution.joins.{
      BroadcastHashJoinExec, BroadcastNestedLoopJoinExec,
      CartesianProductExec, ShuffledHashJoinExec}
    def collectNodes(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.sparkPlan.collectWithSubqueries {
        case j: BroadcastNestedLoopJoinExec => "bnl"
        case j: BroadcastHashJoinExec => "bhj"
        case j: CartesianProductExec => "cartesian"
        case j: ShuffledHashJoinExec => "shj"
      }
    // brute force: broadcast NLJ normally; shuffle-replicated NL above
    // the limit — results must be identical
    val normal = Similarity.bruteForceTopK(vectors, vectors, 2)
    val fb = Similarity.bruteForceTopK(vectors, vectors, 2, broadcastLimit = 2)
    assert(collectNodes(normal).contains("bnl"))
    val fbNodes = collectNodes(fb)
    assert(!fbNodes.contains("bnl") && fbNodes.contains("cartesian"), fbNodes)
    assert(fb.collect().toSet === normal.collect().toSet)
    // IVF: the cell equi-join degrades to a shuffle hash join
    val ivf = AnnIndex.build(vectors, dim = 4)
      .withCells(Similarity.hashCentroids(4, 2))
    val ivfN = ivf.search(vectors.filter($"vec_id" === 0L), 2, nProbe = 2)
    val ivfF = ivf.search(vectors.filter($"vec_id" === 0L), 2, nProbe = 2,
      broadcastLimit = 1)
    assert(collectNodes(ivfN).contains("bhj"))
    val ivfNodes = collectNodes(ivfF)
    assert(!ivfNodes.contains("bhj") && ivfNodes.contains("shj"), ivfNodes)
    assert(ivfF.collect().toSet === ivfN.collect().toSet)
    // sparse cosine: the bucket-index equi-join degrades the same way
    val sv = Seq((0L, 1L, 2L), (0L, 2L, 1L), (1L, 1L, 1L), (2L, 2L, 3L),
      (2L, 1L, 1L)).toDF("id", "idx", "cnt")
    val spN = Similarity.sparseCosineTopK(sv, col("id") === 0L, 2)
    val spF = Similarity.sparseCosineTopK(sv, col("id") === 0L, 2,
      broadcastLimit = 1)
    // the two norm-lookup joins stay broadcast (tiny per-doc aggregates);
    // the guard must demote exactly the big bucket-index join
    val (nN, nF) = (collectNodes(spN), collectNodes(spF))
    assert(nN.contains("bhj") && !nN.contains("shj"), nN)
    assert(nF.contains("shj") &&
      nF.count(_ == "bhj") === nN.count(_ == "bhj") - 1, nF)
    assert(spF.collect().toSet === spN.collect().toSet)
  }

  test("mmrSelect: diversity beats raw relevance (the near-duplicate " +
      "of the first pick loses to the orthogonal doc), scores are the " +
      "hand-computed round-4 cosine arithmetic, early stop, guards") {
    val emb = Seq(
      (0L, Seq(1.0, 0.0)),   // the query vector
      (1L, Seq(0.9, 0.3)),   // rel4 0.9487 — top relevance
      (2L, Seq(0.8, 0.4)),   // rel4 0.8944, but sim4(2,1) = 0.9899
      (3L, Seq(0.3, -0.9))   // rel4 0.3162, orthogonal to 1
    ).toDF("vec_id", "embedding")
    val got = graft.operators.Similarity.mmrSelect(emb, 0L, k = 3)
      .as[(Long, Long, Double)].collect().toSeq
    // step 2 demonstrates the point of MMR: doc 2 out-ranks doc 3 on
    // relevance but is a near-duplicate of the already-picked doc 1
    assert(got === Seq(
      (1L, 1L, 0.9487),
      (2L, 3L, 0.3162 - 0.0),
      (3L, 2L, 0.8944 - 0.9899)), got.toString)
    // fewer candidates than k: the walk ends early, no error
    val short = graft.operators.Similarity.mmrSelect(emb, 0L, k = 10)
      .as[(Long, Long, Double)].collect().toSeq
    assert(short.size === 3 && short.map(_._2).toSet === Set(1L, 2L, 3L))
    intercept[IllegalArgumentException] {
      graft.operators.Similarity.mmrSelect(emb, 99L, k = 2)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Similarity.mmrSelect(emb, 0L, k = 0)
    }
  }

  test("degenerate vectors (zero-norm / NaN) are excluded wherever a " +
      "raw cosine scores: brute-force rank, LSH buckets, MMR walk") {
    val emb = Seq(
      (0L, vec(1, 0, 0, 0)),
      (1L, vec(0.9, 0.1, 0, 0)),
      (2L, vec(0, 0, 0, 0)),              // zero norm → cosine NaN
      (3L, vec(Double.NaN, 1, 0, 0)))     // NaN → NaN sorts FIRST desc
      .toDF("vec_id", "embedding")
    // pre-fix: NaN scores outrank every real neighbor (NaN compares
    // LARGER in Spark), so id 2/3 would be the rank-1 hit of EVERY
    // query and would emit query rows of their own
    val top = Similarity.bruteForceTopK(emb, emb, k = 1)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(top.map(_._1).toSet === Set(0L, 1L), top.toString)
    assert(top.map(_._3).toSet.intersect(Set(2L, 3L)).isEmpty, top.toString)
    // pre-fix: the NaN vector lands in the all-ones LSH bucket and its
    // NaN pair scores PASS the >= threshold filter
    val pairs = Similarity.lshNearDupPairs(emb, 0.5, dim = 4, bits = 4)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) === Seq((0L, 1L)), pairs.toString)
    // pre-fix: a zero-norm candidate wins step 1 with score NaN and
    // every later step degenerates to smallest-id order
    val walk = Similarity.mmrSelect(emb, 0L, k = 3)
      .as[(Long, Long, Double)].collect().toSeq
    assert(walk.map(_._2) === Seq(1L), walk.toString)
    // a degenerate QUERY vector is a loud error, not a NaN walk
    intercept[IllegalArgumentException] {
      Similarity.mmrSelect(emb, 2L, k = 2)
    }
    // ivf paths: the degenerate vectors never reach a rank window
    val ivf = AnnIndex.build(emb, dim = 4)
      .withCells(Similarity.hashCentroids(4, 2)).search(emb, k = 1, nProbe = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(ivf.map(_._1).toSet === Set(0L, 1L), ivf.toString)
    assert(ivf.map(_._3).toSet.intersect(Set(2L, 3L)).isEmpty)
  }

  test("wrong-dim vectors raise loudly in LSH/IVF instead of silently " +
      "prefix-projecting; bits past 63 are rejected") {
    val emb = Seq((0L, vec(1, 0)), (1L, vec(0, 1)))
      .toDF("vec_id", "embedding")
    def msgsOf(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val e1 = intercept[Throwable] {
      Similarity.lshNearDupPairs(emb, 0.5, dim = 8, bits = 4).collect()
    }
    assert(msgsOf(e1).contains("!= declared dim"), msgsOf(e1))
    val e2 = intercept[Throwable] {
      Similarity.ivfAssign(emb, dim = 8, nCells = 2).collect()
    }
    assert(msgsOf(e2).contains("!= declared dim"), msgsOf(e2))
    intercept[IllegalArgumentException] {
      Similarity.hyperplaneBucket(col("embedding"), dim = 2, bits = 64)
    }
  }

  /** Every AnnIndex configuration over an 8-dim corpus: exact (flat
    * and celled), projected (flat, projected cells, full-width cells),
    * PQ and IVF-PQ. */
  private def everyIndex(corpus: org.apache.spark.sql.DataFrame) = {
    val raw = AnnIndex.build(corpus, dim = 8)
    val projected = AnnIndex.build(corpus, dim = 8, outDim = 4)
    val books = Seq.fill(2)(Seq(Seq.fill(4)(0.5), Seq.fill(4)(-0.5)))
    Seq("exact" -> raw,
      "exact ivf" -> raw.withCells(Similarity.hashCentroids(8, 2)),
      "projected" -> projected,
      "projected ivf" -> projected.withCells(Similarity.hashCentroids(4, 2)),
      "projected ivf, full-width cells" ->
        projected.withCells(Similarity.hashCentroids(8, 2)),
      "pq" -> raw.withCodes(books),
      "ivf-pq" -> raw.withCells(Similarity.hashCentroids(8, 2)).withCodes(books))
  }

  test("AnnIndex: one dim contract — a wrong-dim query or corpus vector " +
      "raises on every index configuration") {
    def msgsOf(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    val corpus = (0L until 6L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 1.3 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val shortQuery = Seq((100L, vec(1, 2, 3, 4))).toDF("vec_id", "embedding")
    for ((name, index) <- everyIndex(corpus)) {
      val e = intercept[Throwable] {
        index.search(shortQuery, k = 1, pool = 3).collect()
      }
      assert(msgsOf(e).contains("!= declared dim 8"), s"$name: ${msgsOf(e)}")
    }
    // read back from parquet: over a local relation the optimizer
    // already folds the dim check at build, before any search
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-dim").toString
    corpus.union(Seq((7L, vec(1, 2, 3, 4))).toDF("vec_id", "embedding"))
      .write.mode("overwrite").parquet(dir)
    try {
      for ((name, index) <- everyIndex(spark.read.parquet(dir))) {
        val e = intercept[Throwable] {
          index.search(corpus.limit(1), k = 1, pool = 3).collect()
        }
        assert(msgsOf(e).contains("!= declared dim 8"), s"$name: ${msgsOf(e)}")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("AnnIndex: centroid count and width are checked once, for every " +
      "configuration") {
    val corpus = Seq((0L, vec(1, 0, 0, 0, 0, 0, 0, 0)))
      .toDF("vec_id", "embedding")
    val raw = AnnIndex.build(corpus, dim = 8)
    val projected = AnnIndex.build(corpus, dim = 8, outDim = 4)
    val books = Seq.fill(2)(Seq(Seq.fill(4)(0.5)))
    // a 4-wide codebook at dim = 8 without a projection is a prefix
    // truncation waiting to happen — rejected with and without codes
    for (index <- Seq(raw, raw.withCodes(books))) {
      val e = intercept[IllegalArgumentException] {
        index.withCells(Similarity.hashCentroids(4, 2))
      }
      assert(e.getMessage.contains("dim=8"), e.getMessage)
    }
    // projected: outDim-wide or dim-wide, nothing else
    projected.withCells(Similarity.hashCentroids(4, 2))
    projected.withCells(Similarity.hashCentroids(8, 2))
    intercept[IllegalArgumentException] {
      projected.withCells(Similarity.hashCentroids(6, 2))
    }
    intercept[IllegalArgumentException] {
      projected.withCells(Similarity.hashCentroids(4, 2) :+ Seq.fill(8)(0.0))
    }
    intercept[IllegalArgumentException](raw.withCells(Nil))
    intercept[IllegalArgumentException] {
      raw.withCodes(Seq.fill(3)(Seq(Seq.fill(4)(0.5))))
    }
  }

  test("randomProjection: values match a JVM reference fold, wrong " +
      "dims raise, null rows drop, projecting up is rejected") {
    val emb = Seq((1L, vec(1, 0, 2, -1)), (2L, vec(0.5, 0.5, 0.5, 0.5)),
      (3L, null: Array[Float])).toDF("vec_id", "embedding")
    val got = Similarity.randomProjection(emb, dim = 4, outDim = 2)
      .as[(Long, Array[Double])].collect().toMap
    assert(got.keySet === Set(1L, 2L)) // null vector dropped
    val planes = Similarity.projectionValues(4, 2)
    val scale = Similarity.projectionScale(2)
    def ref(v: Seq[Double]): Seq[Double] = planes.map { p =>
      val d = p.zip(v).foldLeft(0.0) { case (a, (x, y)) => a + x * y }
      BigDecimal(d * scale).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    }
    assert(got(1L).toSeq === ref(Seq(1, 0, 2, -1)), got(1L).toSeq)
    assert(got(2L).toSeq === ref(Seq(0.5, 0.5, 0.5, 0.5)))
    // wrong per-row dim: loud, not a silent prefix projection
    val bad = Seq((9L, vec(1, 2))).toDF("vec_id", "embedding")
    val e = intercept[Throwable] {
      Similarity.randomProjection(bad, dim = 4, outDim = 2).collect()
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("!= declared dim"), msgs)
    intercept[IllegalArgumentException] {
      Similarity.randomProjection(emb, dim = 4, outDim = 5)
    }
  }

  test("projectedTopK: pool covering the corpus reproduces " +
      "bruteForceTopK bit-for-bit; a planted near-dup is recovered " +
      "through a small pool") {
    val rnd = new scala.util.Random(5)
    val base = (0L until 30L).map(i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    // plant: vec 99 = vec 7 + tiny noise → its true top-1 is 7, and
    // the JL space must keep that pair close enough for a pool of 5
    val planted = (99L, base(7)._2.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    val emb = (base :+ planted).toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") === 99L)
    val index = AnnIndex.build(emb, dim = 64, outDim = 16)
    val full = index.search(q, k = 5, pool = 40)
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(_._2)
    val brute = Similarity.bruteForceTopK(q, emb, k = 5)
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(_._2)
    assert(full === brute, s"$full vs $brute") // pool ≥ corpus ⇒ exact
    val small = index.search(q, k = 1, pool = 5)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(small.head._3 === 7L, small.toString)
  }

  test("projectedIvfTopK: full probe + corpus pool reproduces " +
      "bruteForceTopK bit-for-bit; a planted near-dup is recovered " +
      "through a realistic (nProbe, pool); dial guards raise") {
    val rnd = new scala.util.Random(11)
    val base = (0L until 30L).map(i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val planted = (99L,
      base(7)._2.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
    val emb = (base :+ planted).toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") === 99L)
    // nProbe = nCells ⇒ every corpus row is a candidate; pool ≥
    // corpus ⇒ the re-rank IS brute force (the q65 full-probe stance)
    val index = AnnIndex.build(emb, dim = 64, outDim = 16)
    val full = index.withCells(Similarity.hashCentroids(16, 8))
      .search(q, k = 5, nProbe = 8, pool = 40)
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(_._2)
    val brute = Similarity.bruteForceTopK(q, emb, k = 5)
      .as[(Long, Long, Long, Double)].collect().toSeq.sortBy(_._2)
    assert(full === brute, s"$full vs $brute")
    // realistic dials: the planted twin projects near its original,
    // so they share a cell and a 5-pool recovers it
    val small = index.withCells(Similarity.hashCentroids(16, 4))
      .search(q, k = 1, nProbe = 2, pool = 5)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(small.head._3 === 7L, small.toString)
    intercept[IllegalArgumentException] {
      index.withCells(Similarity.hashCentroids(16, 4))
        .search(q, k = 5, nProbe = 5, pool = 40)
    }
    intercept[IllegalArgumentException] {
      AnnIndex.build(emb, dim = 64, outDim = 65)
    }
  }

  test("randomProjection: unbiased scale — mean squared-distance " +
      "ratio near 1 on seeded vectors, rank structure preserved") {
    val rnd = new scala.util.Random(3)
    val n = 40
    val vecs = (0 until n).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
    val proj = Similarity.randomProjection(
        vecs.toDF("vec_id", "embedding"), dim = 64, outDim = 16)
      .as[(Long, Array[Double])].collect().toMap
    def d2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ratios = for {
      i <- 0 until n; j <- (i + 1) until n
    } yield d2(proj(i.toLong).toSeq, proj(j.toLong).toSeq) /
      d2(vecs(i)._2.map(_.toDouble).toSeq, vecs(j)._2.map(_.toDouble).toSeq)
    val mean = ratios.sum / ratios.size
    // E[ratio] = 1 by the √(3/outDim) scale; the tolerance is loose
    // because outDim=16 has real variance — the assertion pins the
    // UNBIASED contract, not concentration
    assert(mean > 0.75 && mean < 1.25, s"mean ratio $mean")
    assert(ratios.count(r => r > 0.3 && r < 3.0) > ratios.size * 0.9,
      "projected distances lost rank structure")
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("media meta plumbing: schema, determinism, null passthrough") {
    val df = Seq((1L, "hello world"), (2L, "x")).toDF("doc_id", "text")
    val out = Multimodal.withMediaMeta(Multimodal.mediaFromText(df))
    assert(out.schema("media_meta").dataType === Multimodal.mediaMetaSchema)
    val m = out.select($"doc_id", $"media_meta.byte_len", $"media_meta.width",
      $"media_meta.height", $"media_meta.format")
      .as[(Long, Int, Int, Int, String)].collect().sortBy(_._1)
    assert(m(0)._2 === 11) // "hello world" bytes
    assert(m(0)._5 === "vid") // odd length
    assert(m(0)._3 >= 64 && m(0)._3 <= 640 && m(0)._4 >= 64 && m(0)._4 <= 480)
    // determinism: same input → same stub metadata
    val again = Multimodal.withMediaMeta(Multimodal.mediaFromText(df))
      .select($"media_meta.width").as[Int].collect().sorted
    assert(again.toSeq === m.map(_._3).sorted.toSeq)
  }

  test("featurize stub: unit-norm embedding, deterministic, ANN-composable") {
    val df = Seq((1L, "some text payload"), (2L, "another document"))
      .toDF("doc_id", "text")
    val emb = Multimodal.withFeatures(Multimodal.mediaFromText(df), dim = 16)
    assert(emb.schema("embedding").dataType ===
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = false))
    val vecs = emb.select($"doc_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toMap
    assert(vecs(1L).length === 16)
    val norm = math.sqrt(vecs(1L).map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-3)
    // composes with the similarity operators
    val knn = graft.operators.Similarity.bruteForceTopK(
      emb.select($"doc_id".as("vec_id"), $"embedding").limit(1),
      emb.select($"doc_id".as("vec_id"), $"embedding"), 1)
    assert(knn.count() === 1)
  }

  test("MediaCodec trait: a custom codec instance flows through both paths") {
    // the compile-checked FFI seam: implementing MediaCodec is ALL a
    // real decoder needs — schema/batching/null handling are untouched
    object FixedCodec extends graft.sources.MediaCodec {
      override def decode(bytes: Array[Byte]): (Int, Int, Int, String) =
        (320, 240, 3, "fix")
      override def featurize(bytes: Array[Byte], dim: Int): Array[Float] = {
        val v = new Array[Float](dim); v(0) = 1.0f; v
      }
    }
    val df = Seq((1L, "payload")).toDF("doc_id", "text")
    val meta = Multimodal.withMediaMeta(Multimodal.mediaFromText(df),
        codec = FixedCodec)
      .select($"media_meta.width", $"media_meta.height",
        $"media_meta.n_frames", $"media_meta.format")
      .as[(Int, Int, Int, String)].head()
    assert(meta === ((320, 240, 3, "fix")))
    val vec = Multimodal.withFeatures(Multimodal.mediaFromText(df),
        dim = 4, codec = FixedCodec)
      .select($"embedding").as[Seq[Float]].head()
    assert(vec === Seq(1.0f, 0.0f, 0.0f, 0.0f))
  }

  test("frame sampling explodes stride-spaced indices") {
    val df = Seq((1L, "some media content here")).toDF("doc_id", "text")
    val withMeta = Multimodal.withMediaMeta(Multimodal.mediaFromText(df))
    val n = withMeta.select($"media_meta.n_frames").as[Int].head()
    val frames = Multimodal.withFrameHashes(withMeta, stride = 2)
      .select($"frame_idx").as[Int].collect()
    assert(frames.toSeq === (0 until n by 2).toSeq)
  }

  /** A real PNG, generated in-test (pure JVM — no fixtures on disk):
    * left half black, right half white, so the pooled-grid embedding
    * has a known shape. */
  private def pngBytes(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, if (x < w / 2) 0x000000 else 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** A 3-frame animated GIF via the JDK's sequence writer. */
  private def gifBytes(frames: Int): Array[Byte] = {
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    for (i <- 0 until frames) {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8)
        img.setRGB(x, y, if ((x + i) % 2 == 0) 0x000000 else 0xffffff)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence()
    ios.close(); writer.dispose()
    bos.toByteArray
  }

  test("ImageIoCodec: real PNG through the production decode path") {
    val bytes = pngBytes(40, 20)
    val df = Seq((1L, bytes)).toDF("doc_id", "media")
    val meta = Multimodal.withMediaMeta(df, codec = graft.sources.ImageIoCodec)
      .select($"media_meta.width", $"media_meta.height",
        $"media_meta.n_frames", $"media_meta.format")
      .as[(Int, Int, Int, String)].head()
    assert(meta === ((40, 20, 1, "png")))
    // pooled-grid embedding: 2×2 grid → left cells dark, right bright
    val vec = Multimodal.withFeatures(df, dim = 4,
        codec = graft.sources.ImageIoCodec)
      .select($"embedding").as[Seq[Float]].head()
    assert(vec.length === 4)
    assert(vec(0) < vec(1) && vec(2) < vec(3)) // columns: dark < bright
    assert(math.abs(math.sqrt(vec.map(x => x.toDouble * x).sum) - 1.0) < 1e-3)
    // near-identical images land nearby in cosine: recompress at a new size
    val vec2 = Multimodal.withFeatures(
        Seq((2L, pngBytes(80, 40))).toDF("doc_id", "media"),
        dim = 4, codec = graft.sources.ImageIoCodec)
      .select($"embedding").as[Seq[Float]].head()
    val cos = vec.zip(vec2).map { case (a, b) => a.toDouble * b }.sum
    assert(cos > 0.999)
  }

  test("ImageIoCodec: animated GIF reports its real frame count") {
    val df = Seq((1L, gifBytes(3))).toDF("doc_id", "media")
    val meta = Multimodal.withMediaMeta(df, codec = graft.sources.ImageIoCodec)
      .select($"media_meta.n_frames", $"media_meta.format")
      .as[(Int, String)].head()
    assert(meta === ((3, "gif")))
    // frame sampling now walks genuine frames
    val frames = Multimodal.withFrameHashes(df,
        codec = graft.sources.ImageIoCodec)
      .select($"frame_idx").as[Int].collect()
    assert(frames.toSeq === Seq(0, 1, 2))
  }

  /** Planted-fixture codec: n_frames = first byte; frame f's hash is
    * byte f+1's value spread over word 0 (two media share frame f iff
    * their bytes agree at f+1) — lets the majority/stride/hamming
    * semantics be pinned with EXACT control over which frames match. */
  private object PlantedSeqCodec extends graft.sources.MediaCodec {
    override def decode(bytes: Array[Byte]): (Int, Int, Int, String) =
      (8, 8, bytes(0).toInt, "vid")
    override def featurize(bytes: Array[Byte], dim: Int): Array[Float] =
      new Array[Float](dim)
    override def frameHash(bytes: Array[Byte], frame: Int): (Long, Long) =
      (bytes(frame + 1) & 0xffL, 0L)
    override def chromaHash(bytes: Array[Byte], window: Int): (Long, Long) =
      ((bytes(window + 1) & 0xffL) << 8, 0L) // disjoint domain from video
  }

  test("videoNearDupPairs: frame-majority semantics — 2/4 frames pass " +
      "at 50%, 1/4 fails, length mismatch judged by the LONGER side") {
    def media(nFrames: Int, frameVals: Int*): Array[Byte] =
      (nFrames.toByte +: frameVals.map(_.toByte)).toArray
    val docs = Seq(
      (1L, media(4, 10, 20, 30, 40)),  // the anchor
      (2L, media(4, 10, 20, 99, 98)),  // shares frames 0,1 → 50% → pair
      (3L, media(4, 10, 97, 96, 95)),  // shares frame 0 → 25% → no pair
      (4L, media(2, 10, 20))           // 2/2 match but longer side has 4 → 50%
    ).toDF("doc_id", "media")
    val pairs = Multimodal.videoNearDupPairs(docs, maxHamming = 0,
        majorityPct = 50, codec = PlantedSeqCodec)
      .select($"id_a", $"id_b", $"n_match").as[(Long, Long, Long)]
      .collect().toSet
    // doc 2 vs doc 4 also share frames 0,1 (both carry 10, 20)
    assert(pairs === Set((1L, 2L, 2L), (1L, 4L, 2L), (2L, 4L, 2L)),
      pairs.toString)
    // at 60% the same corpus yields NOTHING (2/4 = 50% < 60%)
    val strict = Multimodal.videoNearDupPairs(docs, maxHamming = 0,
      majorityPct = 60, codec = PlantedSeqCodec)
    assert(strict.isEmpty)
  }

  test("videoNearDupPairs: hamming boundary per frame and stride " +
      "sampling of the majority denominator") {
    def media(nFrames: Int, frameVals: Int*): Array[Byte] =
      (nFrames.toByte +: frameVals.map(_.toByte)).toArray
    // frame 0: values 0x0F vs 0x0E differ in 1 bit → match at
    // maxHamming 1, not at 0
    val docs = Seq(
      (1L, media(1, 0x0F)),
      (2L, media(1, 0x0E))).toDF("doc_id", "media")
    assert(Multimodal.videoNearDupPairs(docs, maxHamming = 1,
      majorityPct = 50, codec = PlantedSeqCodec).count() === 1L)
    assert(Multimodal.videoNearDupPairs(docs, maxHamming = 0,
      majorityPct = 50, codec = PlantedSeqCodec).isEmpty)
    // stride 2 samples ordinals 0,2: docs matching at 0,2 but not 1
    // are 2/2 sampled-majority dups — the denominator is the SAMPLED
    // count, not raw n_frames
    val strided = Seq(
      (1L, media(3, 10, 50, 30)),
      (2L, media(3, 10, 60, 30))).toDF("doc_id", "media")
    val got = Multimodal.videoNearDupPairs(strided, maxHamming = 0,
        majorityPct = 100, stride = 2, codec = PlantedSeqCodec)
      .select($"n_match", $"n_frames_a").as[(Long, Long)].head()
    assert(got === ((2L, 2L)))
  }

  test("audio chroma domain is disjoint from the video frame domain; " +
      "a long-video maxFrames overflow fails loudly") {
    def media(nFrames: Int, frameVals: Int*): Array[Byte] =
      (nFrames.toByte +: frameVals.map(_.toByte)).toArray
    val docs = Seq(
      (1L, media(2, 10, 20)),
      (2L, media(2, 10, 20))).toDF("doc_id", "media")
    // same bytes pair in BOTH modes (each within its own salt domain)
    assert(Multimodal.videoNearDupPairs(docs, maxHamming = 0,
      majorityPct = 100, codec = PlantedSeqCodec).count() === 1L)
    assert(Multimodal.audioNearDupPairs(docs, maxHamming = 0,
      majorityPct = 100, codec = PlantedSeqCodec).count() === 1L)
    // ...and with the REAL portable codec the two domains never
    // cross-match: identical bytes yield different frame-vs-chroma
    // hashes (the salt separates them)
    val b = "same media bytes".getBytes("UTF-8")
    assert(graft.sources.PortableCodec.frameHash(b, 0) !==
      graft.sources.PortableCodec.chromaHash(b, 0))
    // a medium beyond maxFrames dies loudly, never truncates silently
    val long = Seq((1L, media(5, 1, 2, 3, 4, 5))).toDF("doc_id", "media")
    val e = intercept[Exception] {
      Multimodal.videoNearDupPairs(long, maxHamming = 0,
        majorityPct = 50, maxFrames = 4, codec = PlantedSeqCodec).count()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    assert(msgs(e).contains("maxFrames"), msgs(e))
  }

  test("ImageIoCodec.frameHash decodes REAL frames: identical GIF " +
      "frames hash equal, the inverted frame differs") {
    val bytes = gifBytes(3) // frames 0 and 2 identical, 1 inverted
    val h0 = graft.sources.ImageIoCodec.frameHash(bytes, 0)
    val h1 = graft.sources.ImageIoCodec.frameHash(bytes, 1)
    val h2 = graft.sources.ImageIoCodec.frameHash(bytes, 2)
    assert(h0 === h2, "identical frames must hash identically")
    assert(h0 !== h1, "the inverted frame must not collide")
  }

  test("PortableCodec featurize: md5-domain, unit-norm, replayable") {
    val text = "portable codec payload"
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val vec = graft.sources.PortableCodec.featurize(bytes, 8)
    // independent replay of the contract: bucket j =
    // (h48(bytes ++ "|j") % 1000) / 1000, unit-normalized
    val raw = (0 until 8).map { j =>
      (graft.operators.Sampling.portableHash48Jvm(
        (text + "|" + j).getBytes("UTF-8")) % 1000).toDouble / 1000.0
    }
    val n = math.sqrt(raw.map(v => v * v).sum)
    val expect = raw.map(v => (v / n).toFloat)
    assert(vec.toSeq === expect)
  }

  test("perceptualHash: integer-domain override equals the float default, words are 32-bit") {
    // the normalization-cancellation argument (64·v > Σv is invariant
    // under positive scaling) pinned: PortableCodec's integer override
    // and the trait's float-grid default must agree bit for bit
    object DefaultPath extends graft.sources.MediaCodec {
      override def decode(b: Array[Byte]): (Int, Int, Int, String) =
        graft.sources.PortableCodec.decode(b)
      override def featurize(b: Array[Byte], dim: Int): Array[Float] =
        graft.sources.PortableCodec.featurize(b, dim)
      // no perceptualHash override → the trait default over featurize
    }
    for (t <- Seq("one payload", "another body of text", "x")) {
      val b = t.getBytes("UTF-8")
      val fast = graft.sources.PortableCodec.perceptualHash(b)
      val slow = DefaultPath.perceptualHash(b)
      assert(fast === slow, s"divergence on '$t'")
      assert(fast._1 >= 0L && fast._1 < (1L << 32))
      assert(fast._2 >= 0L && fast._2 < (1L << 32))
    }
  }

  test("ImageIoCodec perceptualHash: real-pixel aHash is recompression-robust and discriminative") {
    val a = pngBytes(40, 20)
    val aResized = pngBytes(80, 40) // same image, different encode size
    // inverted image: every cell flips across the mean → far hash
    val img = new java.awt.image.BufferedImage(
      40, 20, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 20; x <- 0 until 40)
      img.setRGB(x, y, if (x < 20) 0xffffff else 0x000000)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val inverted = bos.toByteArray
    def ham(p: (Long, Long), q: (Long, Long)): Int =
      java.lang.Long.bitCount(p._1 ^ q._1) + java.lang.Long.bitCount(p._2 ^ q._2)
    val c = graft.sources.ImageIoCodec
    assert(ham(c.perceptualHash(a), c.perceptualHash(aResized)) <= 4,
      "re-encoded twin must stay within the near-dup radius")
    assert(ham(c.perceptualHash(a), c.perceptualHash(inverted)) >= 32,
      "mirror-inverted image must flip ~every grid bit")
  }

  test("imageNearDupPairs: planted byte-duplicate media recovered; straddling chunk layout holds") {
    val base = Seq(
      (1L, "a first media payload with plenty of words"),
      (2L, "a completely different second payload"),
      (3L, "yet another unrelated third body"),
      (11L, "a first media payload with plenty of words") // byte-dup of 1
    ).toDF("doc_id", "text")
    val pairs = Multimodal.imageNearDupPairs(
        Multimodal.mediaFromText(base), maxHamming = 4,
        codec = graft.sources.PortableCodec)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    // the byte-duplicate pair at hamming 0 MUST be found; unrelated
    // docs have ~32-bit-distant hashes and must not pair at radius 4
    assert(pairs.contains((1L, 11L, 0L)), s"missing planted pair: $pairs")
    assert(pairs.forall { case (x, y, _) => (x, y) == ((1L, 11L)) },
      s"unexpected pairs: $pairs")
    // null media rows flow through without pairing or erroring
    val withNull = Multimodal.mediaFromText(base)
      .withColumn("media", when($"doc_id" === 2L, lit(null)
        .cast("binary")).otherwise($"media"))
    val p2 = Multimodal.imageNearDupPairs(withNull, maxHamming = 4,
        codec = graft.sources.PortableCodec)
      .as[(Long, Long, Long)].collect().toSeq
    assert(p2 === Seq((1L, 11L, 0L)))
  }
}

