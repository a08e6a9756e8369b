package graft

import graft.operators.{AnnIndex, Similarity}
import org.apache.spark.sql.functions._

/** Distributed spherical k-means (the IVF codebook trainer): run-to-run
  * determinism, objective improvement over iterations, and the
  * trained-index full-probe ≡ exact equivalence that q65's oracle also
  * gates. */
class KMeansSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.01"

  private def objective(centroids: Seq[Seq[Double]]): Double = {
    // mean best-cell dot product over the normalized corpus (spherical
    // k-means maximizes this)
    val emb = Tables.embeddings(spark, sf)
    val v = emb.select(Similarity.asDouble($"embedding").as("raw"))
      .withColumn("nrm", Similarity.norm($"raw"))
      .filter($"nrm" > 0)
      .select(transform($"raw", x => x / $"nrm").as("vec"))
    val best = greatest(centroids.map(c =>
      Similarity.dot($"vec", typedLit(c))): _*)
    v.agg(avg(best)).head().getDouble(0)
  }

  test("k-means is deterministic and improves the spherical objective") {
    val emb = Tables.embeddings(spark, sf)
    val c1 = Similarity.kmeansCentroids(emb, nCells = 10, iters = 1, dim = 64)
    val c5 = Similarity.kmeansCentroids(emb, nCells = 10, iters = 5, dim = 64)
    val c5again = Similarity.kmeansCentroids(emb, nCells = 10, iters = 5, dim = 64)
    assert(c5 === c5again) // bit-identical across runs
    // ...and across PARTITIONINGS: the per-cell means go through exact
    // decimal sums, so shuffle-fetch order cannot perturb the centroids
    val c5repart = Similarity.kmeansCentroids(
      emb.repartition(7), nCells = 10, iters = 5, dim = 64)
    assert(c5 === c5repart)
    val (o1, o5) = (objective(c1), objective(c5))
    assert(o5 >= o1 - 1e-12, s"objective regressed: iter1=$o1 iter5=$o5")
    // and training moved things: the trained codebook beats the
    // hash-derived stand-in on its own objective
    val oHash = objective(
      Similarity.hashCentroids(64, 10).map { c =>
        val n = math.sqrt(c.map(x => x * x).sum); c.map(_ / n)
      })
    assert(o5 > oHash, s"trained=$o5 vs hash=$oHash")
  }

  test("VectorDecimalSum: matches the explode+decimal reference, " +
      "bit-identical under repartitioning, SQL-registered") {
    import org.apache.spark.sql.types.DecimalType
    val rows = (0 until 300).map(i =>
      (i % 3, Seq.tabulate(4)(d => 0.1 * d + i * 1e-7)))
    val df = rows.toDF("k", "v")
    // reference: the dim×-explode decimal-sum plan this aggregate replaces
    val ref = df.select($"k", posexplode($"v"))
      .groupBy($"k", $"pos")
      .agg(sum($"col".cast(DecimalType(30, 15))).cast("double").as("s"))
      .as[(Int, Int, Double)].collect()
      .groupBy(_._1).map { case (k, xs) =>
        k -> xs.sortBy(_._2).map(_._3).toSeq }
    def run(d: org.apache.spark.sql.DataFrame) = d
      .groupBy($"k")
      .agg(graft.functions.VectorAggregates.vectorDecimalSum($"v", 4).as("s"))
      .as[(Int, Seq[Double])].collect().toMap
    val got = run(df)
    assert(got === ref)
    // exact decimal accumulation is commutative: ANY partitioning gives
    // bit-identical sums
    assert(run(df.repartition(17)) === got)
    assert(run(df.repartition(1)) === got)
    // SQL surface
    graft.functions.VectorAggregates.register(spark)
    df.createOrReplaceTempView("vds_in")
    val viaSql = spark.sql(
      "SELECT k, vector_decimal_sum(v, 4) AS s FROM vds_in GROUP BY k")
      .as[(Int, Seq[Double])].collect().toMap
    assert(viaSql === got)
  }

  test("VectorDecimalSum: mis-sized vectors fail fast, null elements sum as 0") {
    val bad = Seq((0, Seq(1.0, 2.0)), (0, Seq(1.0, 2.0, 3.0, 4.0))).toDF("k", "v")
    val e = intercept[Exception] {
      bad.groupBy($"k")
        .agg(graft.functions.VectorAggregates.vectorDecimalSum($"v", 4).as("s"))
        .collect()
    }
    assert(e.getMessage.contains("vector_decimal_sum") ||
      Option(e.getCause).exists(_.getMessage.contains("vector_decimal_sum")))
    val withNulls = Seq(
      (0, Seq[java.lang.Double](1.0, null, 3.0, 4.0)),
      (0, Seq[java.lang.Double](1.0, 2.0, null, 4.0))
    ).toDF("k", "v")
    val got = withNulls.groupBy($"k")
      .agg(graft.functions.VectorAggregates.vectorDecimalSum($"v", 4).as("s"))
      .as[(Int, Seq[Double])].collect().toMap
    assert(got(0) === Seq(2.0, 2.0, 3.0, 8.0))
  }

  test("trained IVF at full probe equals exact brute force") {
    val emb = Tables.embeddings(spark, sf)
    val centroids = Similarity.kmeansCentroids(emb, nCells = 10, iters = 3, dim = 64)
    val trained = AnnIndex.build(emb, dim = 64).withCells(centroids)
      .search(emb.filter($"vec_id" < 5), k = 3, nProbe = 10)
      .orderBy($"q_id", $"rank").collect().toSeq
    val exact = Similarity.bruteForceTopK(
        emb.filter($"vec_id" < 5), emb, k = 3)
      .orderBy($"q_id", $"rank").collect().toSeq
    assert(trained === exact)
  }

  test("IVF-PQ composition: full probe + full pool ≡ exact brute " +
      "force; partial dials stay well-formed; raw-space geometry " +
      "enforced") {
    val emb = Tables.embeddings(spark, sf)
    val cents = Similarity.kmeansCentroids(emb, nCells = 4, iters = 1,
      dim = 64)
    val books = Similarity.pqCodebooks(emb, dim = 64, m = 8, nCent = 8,
      iters = 1)
    val n = emb.count().toInt
    val index = AnnIndex.build(emb, dim = 64)
    val full = index.withCells(cents).withCodes(books)
      .search(emb.filter($"vec_id" < 5), k = 3, nProbe = 4, pool = n)
      .orderBy($"q_id", $"rank").collect().toSeq
    val exact = Similarity.bruteForceTopK(
        emb.filter($"vec_id" < 5), emb, k = 3)
      .orderBy($"q_id", $"rank").collect().toSeq
    assert(full === exact)
    // partial dials: still k rows per query (cells are not degenerate
    // at these dials), and a pruned/quantized candidate stage can only
    // surface equal-or-worse exact scores at each rank — a BETTER
    // score would mean the re-rank invented a neighbor
    val part = index.withCells(cents).withCodes(books)
      .search(emb.filter($"vec_id" < 5), k = 3, nProbe = 2, pool = 50)
      .orderBy($"q_id", $"rank").collect().toSeq
    assert(part.size === exact.size)
    val exactScore = exact.map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    part.foreach { r =>
      assert(r.getDouble(3) <=
        exactScore((r.getLong(0), r.getLong(1))) + 1e-9,
        s"partial-dial score beat exact at (${r.getLong(0)}, ${r.getLong(1)})")
    }
    // a projected-space (narrow) codebook must die on the geometry
    // check, not prefix-truncate into a plausible wrong assignment
    val e = intercept[IllegalArgumentException] {
      index.withCells(cents.map(_.take(8))).withCodes(books)
        .search(emb.filter($"vec_id" < 5), k = 3, nProbe = 2, pool = 50)
    }
    assert(e.getMessage.contains("RAW"), e.getMessage)
  }

  test("trained PROJECTED IVF at full probe ≡ projectedTopK (the cell " +
      "partition is result-invisible — q148's gate); wrong-geometry " +
      "codebooks are rejected loudly") {
    val emb = Tables.embeddings(spark, sf)
    // centroids trained IN the projected space — the deployment shape
    val cents = Similarity.kmeansCentroids(
      Similarity.randomProjection(emb, dim = 64, outDim = 8),
      nCells = 4, iters = 1, dim = 8, vecCol = "proj")
    val projected = AnnIndex.build(emb, dim = 64, outDim = 8)
    val ivf = projected.withCells(cents)
      .search(emb.filter($"vec_id" < 5), k = 3, nProbe = 4, pool = 50)
      .orderBy($"q_id", $"rank").collect().toSeq
    val flat = projected
      .search(emb.filter($"vec_id" < 5), k = 3, pool = 50)
      .orderBy($"q_id", $"rank").collect().toSeq
    assert(ivf === flat)
    // a RAW-space (64-dim) codebook selects FULL-WIDTH routing (r18
    // verdict task #2): cells assigned on exact 64-dim center
    // distances, scan still projected. At full probe the cell
    // partition is result-invisible in EITHER routing space — same
    // equivalence with the flat projected index
    val rawSpace = Similarity.kmeansCentroids(emb, nCells = 4,
      iters = 0, dim = 64)
    val wideRouted = projected.withCells(rawSpace)
      .search(emb.filter($"vec_id" < 5), k = 3, nProbe = 4, pool = 50)
      .orderBy($"q_id", $"rank").collect().toSeq
    assert(wideRouted === flat)
    // a codebook matching NEITHER space must die on the geometry
    // check, not prefix-truncate into a plausible wrong assignment
    val e = intercept[IllegalArgumentException] {
      projected.withCells(rawSpace.map(_.take(12)))
    }
    assert(e.getMessage.contains("full-width"), e.getMessage)
    intercept[IllegalArgumentException] {
      projected.withCells(cents.take(3))
        .search(emb.filter($"vec_id" < 5), k = 3, nProbe = 4, pool = 50)
    }
  }
}
