package graft

import org.apache.spark.sql.functions._

/** [[operators.Bloom]] + [[operators.Dedup.Bloomed]] decontamination:
  * the prune-then-verify contract — zero false negatives (exactness),
  * bounded false positives (the pruning actually prunes), and
  * bit-identical composition with the exact decontamination gate. */
class BloomSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("no false negatives: every built key passes mightContain") {
    val keys = spark.range(5000).select(xxhash64($"id").as("h"))
    val words = operators.Bloom.buildWords(keys, "h", 1 << 17)
    val pass = keys.filter(operators.Bloom.mightContain($"h", words)).count()
    assert(pass == 5000L)
  }

  test("false-positive rate on disjoint keys is small (the filter prunes)") {
    // 5k keys in 2^17 bits ≈ 26 bits/key at 3 probes → theoretical fp
    // ≈ 0.1%; assert an order of magnitude of slack
    val keys = spark.range(5000).select(xxhash64($"id").as("h"))
    val words = operators.Bloom.buildWords(keys, "h", 1 << 17)
    val probe = spark.range(1000000, 1020000)
      .select(xxhash64($"id").as("h"))
    val fp = probe.filter(operators.Bloom.mightContain($"h", words)).count()
    assert(fp < 400, s"fp=$fp of 20000 — filter not pruning")
  }

  test("decontaminateBloom ≡ decontaminate (the Bloom is invisible in the result)") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val bench = docs.filter($"doc_id" % 10 === 0)
    val exact = operators.Dedup.decontaminate(corpus,
        operators.Dedup.Exact(bench), n = 6)
      .select($"doc_id").as[Long].collect().sorted
    val bloomed = operators.Dedup.decontaminate(corpus,
      operators.Dedup.Bloomed(bench, numBits = 1 << 14), n = 6)
    // deliberately UNDERSIZED filter (high fp) — exactness must not
    // depend on the fp rate, only volume does
    val got = bloomed.select($"doc_id").as[Long].collect().sorted
    assert(got.sameElements(exact))
    // something survived and something was dropped, or the gate proves
    // nothing at this SF
    assert(got.nonEmpty && got.length < corpus.count())
  }

  test("broadcast-shipped filter (past LiteralShipWords): no false " +
      "negatives, still prunes, and the exact composition holds") {
    // 2^23 bits = 2^17 words — past the literal-shipping threshold, so
    // mightContain rides the BroadcastWordGet expression; a probe
    // arithmetic mismatch between the modes would surface here as
    // false negatives (missed keys / surviving contamination)
    assert((1 << 23) / 64 > operators.Bloom.LiteralShipWords)
    val keys = spark.range(5000).select(xxhash64($"id").as("h"))
    val words = operators.Bloom.buildWords(keys, "h", 1 << 23)
    val pass = keys.filter(operators.Bloom.mightContain($"h", words)).count()
    assert(pass == 5000L, "false negatives through the broadcast path")
    val probe = spark.range(1000000, 1020000)
      .select(xxhash64($"id").as("h"))
    val fp = probe.filter(operators.Bloom.mightContain($"h", words)).count()
    assert(fp < 100, s"fp=$fp of 20000 — broadcast filter not pruning")
    // end-to-end: survivors through the big broadcast filter are
    // IDENTICAL to the exact gate (Bloom only prunes before verify)
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val bench = docs.filter($"doc_id" % 10 === 0)
    val exact = operators.Dedup.decontaminate(corpus,
        operators.Dedup.Exact(bench), n = 6)
      .select($"doc_id").as[Long].collect().sorted
    val big = operators.Dedup.decontaminate(corpus,
        operators.Dedup.Bloomed(bench, numBits = 1 << 23), n = 6)
      .select($"doc_id").as[Long].collect().sorted
    assert(big.toSeq === exact.toSeq)
  }

  test("CMS estimate through the broadcast path (past LiteralShipWords)" +
      " upper-bounds true counts and heavy hitters stay exact") {
    // depth 2 × width 2^17 = 2^18 cells > the 2^16 threshold
    val ev = spark.range(30000)
      .select(($"id" % 100).cast("string").as("k")) // 300 rows per key
    val sk = operators.CountMin.buildWords(
      ev.select(xxhash64($"k").as("h")), "h", depth = 2, width = 1 << 17)
    assert(sk.words.length > operators.Bloom.LiteralShipWords)
    val est = ev.select($"k",
        operators.CountMin.estimate(xxhash64($"k"), sk).as("e"))
      .groupBy($"k").agg(max($"e").as("e"))
      .as[(String, Long)].collect()
    assert(est.forall(_._2 >= 300L),
      "CMS estimate must upper-bound the true count")
    val hh = operators.CountMin.heavyHittersWith(ev, "k", 300L, sk)
      .as[(String, Long)].collect().toMap
    assert(hh.size == 100 && hh.values.forall(_ == 300L), hh.toString)
  }

  test("buildWords validates its bounds loudly") {
    val keys = spark.range(10).select(xxhash64($"id").as("h"))
    intercept[IllegalArgumentException] {
      operators.Bloom.buildWords(keys, "h", 100) // not a multiple of 64
    }
    intercept[IllegalArgumentException] {
      operators.Bloom.buildWords(keys, "h", operators.Bloom.MaxBits * 2)
    }
    intercept[IllegalArgumentException] {
      operators.Bloom.buildWords(keys, "h", 1 << 10, numHashes = 0)
    }
  }

  test("null hashes: dropped at build, not-contained at test (symmetric)") {
    val keys = spark.range(1000)
      .select(when($"id" % 10 === 0, lit(null).cast("long"))
        .otherwise(xxhash64($"id")).as("h"))
    val f = operators.Bloom.buildWords(keys, "h", 1 << 14)
    // build didn't NPE and every NON-null key still passes
    val pass = keys.filter(operators.Bloom.mightContain($"h", f)).count()
    assert(pass == 900L)
    // a null test-side hash is not-contained, mirroring the build drop
    val nullRow = Seq[Option[Long]](None).toDF("h")
    assert(nullRow.filter(operators.Bloom.mightContain($"h", f)).count() == 0L)
  }

  test("membership is pure codegen'd builtins — no UDF in the plan") {
    val keys = spark.range(100).select(xxhash64($"id").as("h"))
    val words = operators.Bloom.buildWords(keys, "h", 1 << 10)
    val plan = spark.range(1000).select(xxhash64($"id").as("h"))
      .filter(operators.Bloom.mightContain($"h", words))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      plan)
  }
}
