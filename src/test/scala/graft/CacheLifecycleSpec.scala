package graft

import graft.operators.{AnnIndex, Dedup, Graph, Hydration, Similarity}
import graft.streaming.Jobs
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Cache lifecycle: every eager operator leaves the CacheManager as it
  * found it, when it returns and when it throws, plus the
  * [[Hydration.scoped]] contract itself. Counts CacheManager entries,
  * not `getPersistentRDDs` ids: round checkpoints stay registered
  * until GC. */
class CacheLifecycleSpec extends SparkSpec {
  import spark.implicits._

  // CacheManager.numCachedEntries is private[sql] (public in bytecode)
  private def cached: Int = {
    val cm = spark.sharedState.cacheManager
    cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
  }

  /** `body`'s value, after requiring the entry count to be back where
    * it started. */
  private def assertNoPin[T](what: String)(body: => T): T = {
    val before = cached
    val out = body
    assert(cached === before, s"$what left ${cached - before} cached frame(s)")
    out
  }

  private val base = "the quick brown fox jumps over the lazy dog while " +
    "the cat sleeps in the warm afternoon sun"
  private val other = "completely different words about spark catalyst " +
    "optimizer plans and shuffles everywhere"
  private def docs = Seq((0L, base), (1L, base + " again"), (2L, base),
    (3L, other), (4L, other + " today")).toDF("doc_id", "text")

  test("pageRankInt releases its pins when it throws") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assertNoPin("pageRankInt on an empty graph") {
      intercept[IllegalArgumentException](Graph.pageRankInt(empty, iters = 2))
    }
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    assertNoPin("pageRankInt with a too-small scale") {
      intercept[IllegalArgumentException](
        Graph.pageRankInt(chain, iters = 2, scale = 100L))
    }
  }

  test("connectedComponents releases its pins when the star loop throws") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    assertNoPin("connectedComponents without a fixpoint") {
      intercept[IllegalStateException](
        Dedup.connectedComponents(pairs, maxIter = 0, driverThreshold = 0))
    }
  }

  test("every eager operator leaves the CacheManager as it found it") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    assertNoPin("pageRankInt")(Graph.pageRankInt(edges, iters = 3).count())
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val fold = assertNoPin("connectedComponents (driver fold)")(
      Dedup.connectedComponents(pairs).collect().toSet)
    val star = assertNoPin("connectedComponents (star loop)")(
      Dedup.connectedComponents(pairs, driverThreshold = 0).collect().toSet)
    assert(star === fold)
    assertNoPin("leakageSafeSplit")(
      Dedup.leakageSafeSplit(docs, 50, jaccardThreshold = 0.5).count())
    val dir = Files.createTempDirectory("graft-cache-index").toString
    try {
      Dedup.buildCorpusIndex(docs.filter($"doc_id" < 2))
        .write.mode("overwrite").parquet(dir)
      assertNoPin("ingestBatch")(Dedup.ingestBatch(spark, dir,
        docs.filter($"doc_id" >= 2), jaccardThreshold = 0.5).count())
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))

    val vecs = (0 until 24).map(i =>
        (i.toLong, Seq.tabulate(8)(d => math.sin(i * 1.7 + d * 0.9))))
      .toDF("vec_id", "embedding")
    val qs = vecs.filter($"vec_id" < 3)
    val books = assertNoPin("pqCodebooks")(
      Similarity.pqCodebooks(vecs, dim = 8, m = 2, nCent = 4, iters = 2))
    val cents = assertNoPin("kmeansCentroids")(
      Similarity.kmeansCentroids(vecs, nCells = 3, iters = 2, dim = 8))
    // an index pins its features once, at build; each search releases
    // its own pins, and the caller's scope releases the index's
    assertNoPin("AnnIndex build + search")(Hydration.scoped {
      val raw = AnnIndex.build(vecs, dim = 8)
      val projected = AnnIndex.build(vecs, dim = 8, outDim = 4)
      val built = cached
      val trained = Similarity.kmeansCentroids(projected.features,
        nCells = 3, iters = 2, dim = 4, idCol = "n_id", vecCol = "n_proj")
      for (index <- Seq(raw.withCells(cents), projected,
          projected.withCells(trained), raw.withCodes(books),
          raw.withCells(cents).withCodes(books))) {
        index.search(qs, k = 2, nProbe = 2, pool = 5).count()
        assert(cached === built, "a search left a pin behind")
      }
    })
    assertNoPin("mmrSelect")(
      Similarity.mmrSelect(vecs, queryId = 0L, k = 3).count())

    val raw = Seq("""[{"date":"2023-02-06T04:17:10","rms":"0.5",""" +
        """"eventID":"546745","location":"Pazarcık (Kahramanmaraş)",""" +
        """"latitude":"37.288","longitude":"37.043","depth":"8.6",""" +
        """"type":"Ke","magnitude":"7.7","country":"Türkiye",""" +
        """"province":"Kahramanmaraş","district":"Pazarcık",""" +
        """"neighborhood":"Gazi","isEventUpdate":"false",""" +
        """"lastUpdateDate":""}]""")
      .toDF("json").selectExpr("cast(json as binary) as value")
    assertNoPin("EgalDemo.report")(EgalDemo.report(raw))
  }

  test("upsertStream releases every micro-batch's pin") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("graft-cache-upsert")
    val input = MemoryStream[(Long, Long, String)]
    val updates = input.toDF().toDF("id", "version", "ts")
      .withColumn("ts", col("ts").cast("timestamp"))
    assertNoPin("upsertStream") {
      val query = Jobs.upsertStream(updates, dir.resolve("lake").toString,
        dir.resolve("cp").toString, "id", "version", "ts").start()
      try {
        input.addData((1L, 1L, "2024-01-01 10:00:00"))
        query.processAllAvailable()
        input.addData((1L, 2L, "2024-01-01 10:00:00"),
          (2L, 1L, "2024-01-02 09:00:00"))
        query.processAllAvailable()
      } finally query.stop()
    }
    assert(spark.read.parquet(dir.resolve("lake").toString).count() === 2)
  }

  private def frame(tag: String) =
    spark.range(10).withColumn("tag", lit(s"cache-lifecycle-$tag"))

  test("Hydration.scoped: a nested scope releases only its own pins") {
    val before = cached
    Hydration.scoped {
      Hydration.persist(frame("outer"))
      Hydration.scoped {
        Hydration.persist(frame("inner"))
        assert(cached === before + 2)
      }
      assert(cached === before + 1, "the inner scope released the outer pin")
    }
    assert(cached === before)
  }

  test("Hydration.scoped: a throwing body still releases its pins") {
    val before = cached
    val e = intercept[IllegalStateException](Hydration.scoped {
      Hydration.persist(frame("thrown"))
      throw new IllegalStateException("boom")
    })
    assert(e.getMessage === "boom")
    assert(cached === before)
  }

  test("Hydration.scoped: a pin outside any scope stays registered, " +
      "a thread started inside a scope included") {
    val before = cached
    val outside = Hydration.persist(frame("outside"))
    var fromThread: org.apache.spark.sql.DataFrame = null
    try {
      assert(cached === before + 1)
      Hydration.scoped {
        val t = new Thread(() => fromThread = Hydration.persist(frame("thread")))
        t.start()
        t.join()
      }
      assert(cached === before + 2,
        "a thread started inside a scope must not inherit it")
    } finally {
      outside.unpersist()
      if (fromThread != null) fromThread.unpersist()
    }
    assert(cached === before)
  }
}
