package graft

import graft.operators.{Bloom, CountMin, Dedup, SketchStore}
import org.apache.spark.sql.functions._

class SketchStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft_sketch_$tag").toString

  private val corpus = Seq(
    (1L, "alpha beta gamma delta epsilon zeta"),
    (2L, "totally unrelated words about catalyst planning"),
    (3L, "alpha beta gamma delta epsilon zeta"), // contaminated twin
    (4L, "parquet row group pruning for columnar scans"))
    .toDF("doc_id", "text")
  private val bench = Seq((100L, "alpha beta gamma delta epsilon zeta"))
    .toDF("doc_id", "text")

  test("Bloom artifact round-trip is bit-identical and provably " +
      "invisible: prebuilt-filter decontamination ≡ the one-shot form") {
    val grams = Dedup.benchmarkGrams(bench, n = 4)
    val fresh = Bloom.buildWords(grams, "gram_h", numBits = 1 << 10)
    val path = tmp("bloom")
    SketchStore.writeBloom(spark, fresh, path, "xxhash64(4-gram(text))")
    val loaded = SketchStore.readBloom(spark, path, "xxhash64(4-gram(text))")
    assert(loaded.numHashes === fresh.numHashes)
    assert(loaded.words.toSeq === fresh.words.toSeq,
      "round-trip must reproduce the words verbatim")
    // and the composition: persisted gram table + loaded filter give
    // the same survivors as the build-everything-fresh path
    val gramsPath = tmp("grams")
    grams.write.parquet(s"$gramsPath/grams")
    val oneShot = Dedup.decontaminate(corpus,
        Dedup.Bloomed(bench, numBits = 1 << 10), n = 4)
      .select($"doc_id").as[Long].collect().toSet
    val reused = Dedup.decontaminate(corpus,
        Dedup.Prebuilt(spark.read.parquet(s"$gramsPath/grams"), loaded), n = 4)
      .select($"doc_id").as[Long].collect().toSet
    assert(reused === oneShot, s"reused=$reused oneShot=$oneShot")
    assert(reused === Set(2L, 4L)) // both contaminated twins dropped
  }

  test("a persisted gram table probed at another gram width fails fast " +
      "instead of letting every contaminated doc through") {
    // 5-gram artifact, 4-gram probe: no 4-gram hash can equal a 5-gram
    // hash, so an unchecked probe matches nothing and returns the
    // whole corpus, contaminated twins included
    val grams = Dedup.benchmarkGrams(bench, n = 5)
    val filter = Bloom.buildWords(grams, "gram_h", numBits = 1 << 10)
    val gramsPath = tmp("grams5")
    grams.write.parquet(s"$gramsPath/grams")
    val loaded = spark.read.parquet(s"$gramsPath/grams")
    val e = intercept[IllegalArgumentException] {
      Dedup.decontaminate(corpus, Dedup.Prebuilt(loaded, filter), n = 4)
        .collect()
    }
    assert(e.getMessage.contains("shingleSize=5"), e.getMessage)
    // the matching width still drops both twins
    val kept = Dedup.decontaminate(corpus, Dedup.Prebuilt(loaded, filter),
        n = 5)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept === Set(2L, 4L))
  }

  test("CMS artifact round-trip: heavyHittersWith a loaded sketch ≡ " +
      "fresh build ≡ the exact aggregate") {
    val df = (Seq.fill(5)("hot") ++ Seq.fill(3)("warm") ++
      Seq("cold1", "cold2", "cold3")).toDF("k")
    val keyed = df.withColumn("__h", xxhash64($"k"))
    val fresh = CountMin.buildWords(keyed, "__h", depth = 3, width = 64)
    val path = tmp("cms")
    SketchStore.writeCms(spark, fresh, path, "xxhash64(k)")
    val loaded = SketchStore.readCms(spark, path, "xxhash64(k)")
    assert(loaded.depth === fresh.depth && loaded.width === fresh.width)
    assert(loaded.words.toSeq === fresh.words.toSeq)
    val exact = df.groupBy($"k").agg(count(lit(1)).as("n"))
      .filter($"n" >= 3).as[(String, Long)].collect().toSet
    val got = CountMin.heavyHittersWith(df, "k", 3L, loaded)
      .as[(String, Long)].collect().toSet
    assert(got === exact, s"got=$got exact=$exact")
    assert(got === Set(("hot", 5L), ("warm", 3L)))
  }

  test("stamps fail FAST: wrong domain, wrong kind, empty domain, " +
      "corrupt cell index") {
    val grams = Dedup.benchmarkGrams(bench, n = 4)
    val filter = Bloom.buildWords(grams, "gram_h", numBits = 1 << 10)
    val path = tmp("stamp")
    SketchStore.writeBloom(spark, filter, path, "xxhash64(4-gram(text))")
    // domain mismatch: an 8-gram reader must not probe a 4-gram filter
    val e1 = intercept[IllegalArgumentException] {
      SketchStore.readBloom(spark, path, "xxhash64(8-gram(text))") }
    assert(e1.getMessage.contains("hash-domain stamp"), e1.getMessage)
    // kind mismatch: a CMS reader on a bloom artifact
    val e2 = intercept[IllegalArgumentException] {
      SketchStore.readCms(spark, path, "xxhash64(4-gram(text))") }
    assert(e2.getMessage.contains("expected a 'cms'"), e2.getMessage)
    // empty domain refused at write time — an unstamped artifact is
    // the silent-false-negative door this store exists to close
    intercept[IllegalArgumentException] {
      SketchStore.writeBloom(spark, filter, tmp("nostamp"), "") }
    // corrupt words: a cell index outside the stamped geometry dies
    val badPath = tmp("badcell")
    SketchStore.writeBloom(spark, filter, badPath, "d")
    Seq((999999, 1L)).toDF("idx", "word")
      .write.mode("append").parquet(s"$badPath/words")
    val e3 = intercept[IllegalArgumentException] {
      SketchStore.readBloom(spark, badPath, "d") }
    assert(e3.getMessage.contains("outside the stamped geometry"),
      e3.getMessage)
  }

  test("sparsity: zero cells are implicit — a near-empty filter " +
      "stores only its set bits and densifies back exactly") {
    val one = Seq(42L).toDF("h")
    val filter = Bloom.buildWords(one, "h", numBits = 1 << 16,
      numHashes = 2)
    val path = tmp("sparse")
    SketchStore.writeBloom(spark, filter, path, "d")
    val stored = spark.read.parquet(s"$path/words").count()
    assert(stored <= 2L, s"expected ≤ 2 non-zero words, stored $stored")
    val loaded = SketchStore.readBloom(spark, path, "d")
    assert(loaded.words.toSeq === filter.words.toSeq)
    assert(loaded.words.length === (1 << 16) / 64)
  }
}
