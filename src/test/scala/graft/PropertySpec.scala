package graft

import graft.model.FaultLines
import graft.ops.{DescriptiveStats, EarthquakeOps}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property-based invariants (SURVEY §5.4): dedup idempotence, union
  * additivity of disjoint slices, stats invariants, wire-schema cast
  * round-trips. Generators run locally; Spark checks run on sampled
  * cases (a full Spark job per generated case would be minutes). */
class PropertySpec extends SparkSpec {
  // scalatest-plus bridge isn't on the classpath; drive ScalaCheck
  // generators directly over a fixed sample budget
  private def forAll[A](gen: Gen[A], n: Int = 25)(body: A => Unit): Unit =
    Iterator.continually(gen.sample).flatten.take(n).foreach(body)
  private def whenever(cond: Boolean)(body: => Unit): Unit = if (cond) body
  import spark.implicits._

  private val provinces =
    FaultLines.east ++ FaultLines.north ++ FaultLines.west ++
      Seq("Trabzon", "Rize", "Nowhere")

  test("dedup idempotence: distinct∘distinct = distinct") {
    val rows = Gen.listOfN(60, Gen.zip(Gen.choose(1, 5), Gen.oneOf(provinces)))
      .sample.get
    val df = rows.toDF("id", "province")
    val once = df.distinct()
    assert(once.count() === once.distinct().count())
  }

  test("union additivity: disjoint region slices partition the filtered set") {
    val df = Tables.events(spark, "/root/testdata/sf0.001")
      .select($"event_id", $"event_type", $"value")
    val slices = Seq("click", "view", "purchase", "signup", "error")
      .map(t => df.filter($"event_type" === t))
    val total = slices.map(_.count()).sum
    assert(total === df.count()) // exhaustive disjoint slices
    assert(slices.reduce(_ union _).count() === total) // bag union additivity
  }

  test("fault-line bucketing is total and matches list membership") {
    forAll(Gen.oneOf(provinces)) { p =>
      val expected =
        if (FaultLines.east.contains(p)) FaultLines.East
        else if (FaultLines.north.contains(p)) FaultLines.North
        else if (FaultLines.west.contains(p)) FaultLines.West
        else ""
      // evaluate the Column expression through a 1-row frame
      val got = Seq(p).toDF("province")
        .select(EarthquakeOps.faultLine(col("province"))).as[String].head()
      assert(got === expected)
    }
  }

  test("stats invariants: min <= mean <= max; stddev² ≈ variance; n>=1") {
    val xs = Gen.listOfN(50, Gen.choose(-1e6, 1e6)).sample.get
    val r = DescriptiveStats.compute(xs.toDF("x"), Seq("x")).head()
    val (mean, variance, sd) = (r.getAs[Double]("mean"),
      r.getAs[Double]("variance"), r.getAs[Double]("stddev"))
    assert(r.getAs[Double]("min") <= mean && mean <= r.getAs[Double]("max"))
    assert(math.abs(sd * sd - variance) <= 1e-6 * math.max(1.0, variance))
    assert(r.getAs[Long]("n") === xs.size)
  }

  test("wire-schema cast round-trip: double -> string -> try_cast") {
    forAll(Gen.choose(-9999.0, 9999.0)) { d =>
      val v = math.rint(d * 100) / 100 // 2dp like the wire format
      val got = Seq(v.toString).toDF("s")
        .select(col("s").try_cast("double")).as[Double].head()
      assert(got === v)
    }
  }

  test("as-of join equals the join+aggregate reference on random data " +
      "(both directions, null keys/times)") {
    import graft.plans.AsOf
    val gen = for {
      nL <- Gen.choose(5, 30)
      nR <- Gen.choose(0, 30)
      lRows <- Gen.listOfN(nL, Gen.zip(
        Gen.option(Gen.choose(0L, 3L)), Gen.option(Gen.choose(0L, 60L))))
      rRows <- Gen.listOfN(nR, Gen.zip(
        Gen.option(Gen.choose(0L, 3L)), Gen.choose(0L, 60L)))
    } yield (lRows, rRows)
    forAll(gen, n = 4) { case (lRows, rRows) =>
      val l = lRows.zipWithIndex
        .map { case ((k, t), i) => (i.toLong, k, t) }.toDF("lid", "k", "t")
      // distinct right (key, time) keeps the as-of winner well-defined
      // (ties on the full sort key are semantically unordered)
      val r = rRows.flatMap { case (k, t) => k.map(kk => (kk, t)) }.distinct
        .zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("rid", "rk", "rt")
      for (dir <- Seq("backward", "forward")) {
        val got = AsOf.join(l, r, l("k"), r("rk"), l("t"), r("rt"),
            direction = dir)
          .select($"lid", $"rid")
          .as[(Long, Option[Long])].collect().toMap
        // reference: plain left join on the inequality + arg-min/max —
        // the O(matches) plan the custom operator replaces
        val cmp = if (dir == "backward") col("rt") <= col("t")
          else col("rt") >= col("t")
        val pick = if (dir == "backward") max_by(col("rid"), col("rt"))
          else min_by(col("rid"), col("rt"))
        val ref = l.join(r, col("k") === col("rk") && cmp, "left")
          .groupBy(col("lid")).agg(pick.as("rid"))
          .as[(Long, Option[Long])].collect().toMap
        assert(got === ref, s"direction=$dir\nL=$lRows\nR=$rRows")
      }
    }
  }

  test("portableHash48Jvm matches the Column form on random strings " +
      "and binaries") {
    import graft.operators.Sampling
    // random printable strings incl. empty + multi-byte UTF-8
    val gen = Gen.listOfN(24,
      Gen.oneOf(
        Gen.alphaNumStr.map(_.take(40)),
        Gen.const(""),
        Gen.listOfN(8, Gen.choose(0x20.toChar, 0x7e.toChar)).map(_.mkString),
        Gen.const("çğıöşü⚡"),
        Gen.const("|0"), Gen.const("a|b|c")))
    forAll(gen, 3) { strs =>
      val df = strs.toDF("s")
      val viaColumn = df
        .select(col("s"), Sampling.portableHash48(col("s")).as("h"))
        .as[(String, Long)].collect().toMap
      strs.foreach { s =>
        val jvm = Sampling.portableHash48Jvm(
          s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        assert(jvm === viaColumn(s), s"string=$s")
      }
    }
    // raw (non-UTF-8) binaries through the binary-typed Column path
    val binGen = Gen.listOfN(16, Gen.choose(Byte.MinValue, Byte.MaxValue))
    forAll(Gen.listOfN(8, binGen), 2) { bins =>
      val arrays = bins.map(_.toArray)
      val viaColumn = arrays.zipWithIndex
        .map { case (b, i) => (i, b) }.toDF("i", "b")
        .select(col("i"), Sampling.portableHash48(col("b")).as("h"))
        .as[(Int, Long)].collect().toMap
      arrays.zipWithIndex.foreach { case (b, i) =>
        assert(Sampling.portableHash48Jvm(b) === viaColumn(i), s"bin #$i")
      }
    }
  }

  test("dedupSpans identity: a corpus with globally unique spans passes through untouched") {
    // the round-8 min(struct) rewrite must be a NO-OP when nothing
    // repeats: every doc's text survives byte-identical (the rebuild
    // path — chunk → reassemble — must not reorder, drop, or re-space
    // anything), and empty docs stay empty. Token streams are made
    // globally unique by embedding the doc id in every token.
    val gen = Gen.listOfN(6, Gen.choose(0, 35))
    forAll(gen, 6) { lens =>
      val docs = lens.zipWithIndex.map { case (n, i) =>
        (i.toLong, (0 until n).map(t => s"d${i}w$t").mkString(" "))
      }.toDF("doc_id", "text")
      val out = graft.operators.Dedup.dedupSpans(docs, spanWords = 10)
        .select($"doc_id", $"text").as[(Long, String)].collect().toMap
      lens.zipWithIndex.foreach { case (n, i) =>
        val expected = (0 until n).map(t => s"d${i}w$t").mkString(" ")
        assert(out(i.toLong) === expected, s"doc $i (len $n) must be untouched")
      }
    }
  }

  test("decontaminate identity: a corpus sharing no n-gram with the benchmark survives whole") {
    // the hashed-gram join must never false-positive at test scale:
    // disjoint vocabularies → zero drops, any n
    val gen = Gen.choose(2, 6)
    forAll(gen, 4) { n =>
      val corpus = (0 until 8).map(i =>
        (i.toLong, (0 until 10).map(t => s"c${i}t$t").mkString(" ")))
        .toDF("doc_id", "text")
      val bench = Seq((100L, (0 until 10).map(t => s"b$t").mkString(" ")))
        .toDF("doc_id", "text")
      assert(graft.operators.Dedup.decontaminate(corpus,
        graft.operators.Dedup.Exact(bench), n).count() === 8L)
    }
  }

  test("rollingHash: permutation-sensitive, concat-extension changes hash") {
    val gen = Gen.listOfN(6, Gen.alphaStr.suchThat(_.nonEmpty).map(_.take(5)))
    forAll(gen, 8) { words =>
      whenever(words.toSet.size > 1) {
        val base = words.mkString(" ")
        val perm = words.reverse.mkString(" ")
        val ext = base + " extra"
        val h = Seq(base, perm, ext).toDF("t")
          .select(graft.functions.TextFunctions.rollingHash(col("t")))
          .as[Long].collect()
        if (base != perm) assert(h(0) !== h(1))
        assert(h(0) !== h(2))
      }
    }
  }

  test("weighted-sample degeneracy: constant weights reduce EXACTLY to " +
      "the quota's hash-order selection; doubling every weight changes nothing") {
    import graft.operators.Sampling
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // w ≡ c: priority = hash/c is a monotone rescale of hash, so the
    // selection must be the quota's (same ids, any constant)
    val quota = Sampling.quotaPerKey(docs, "source", "doc_id", 7)
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    for (c <- Seq(1.0, 3.0, 0.25)) {
      val w = Sampling.weightedSamplePerKey(
          docs.withColumn("w", lit(c)), "source", "doc_id", "w", 7)
        .select(col("doc_id")).as[Long].collect().sorted.toSeq
      assert(w === quota, s"constant weight $c must equal quota order")
    }
    // scale invariance: priorities hash/w and hash/(2w) order
    // identically, so the SELECTION is invariant under global
    // rescaling (only relative weights matter — the property that
    // makes mixture weights unit-free)
    val base = Sampling.weightedSamplePerKey(
        docs.withColumn("w", col("n_chars").cast("double")),
        "source", "doc_id", "w", 7)
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    val doubled = Sampling.weightedSamplePerKey(
        docs.withColumn("w", col("n_chars").cast("double") * 2),
        "source", "doc_id", "w", 7)
      .select(col("doc_id")).as[Long].collect().sorted.toSeq
    assert(doubled === base, "global weight rescale must not change selection")
  }

  test("soft-dedup unbiasedness: replicate at w=1/n over planted n-way " +
      "clusters keeps expected frequency 1 and never over-keeps a cluster") {
    import graft.operators.Sampling
    // 200 clusters × 4 copies, w = 1/4: per-cluster kept ∈ [0, 4];
    // total kept concentrates near 200 (E = clusters · n · 1/n)
    val rows = (0 until 800).map(i => (i.toLong, i / 4, 0.25))
    val df = rows.toDF("id", "cluster", "w")
    val kept = Sampling.replicateByWeight(df, "id", "w")
    val total = kept.count()
    assert(math.abs(total - 200L) < 60,
      s"kept $total, expected ≈200 (unbiased 1/n draw)")
    // every kept row is a single copy (w < 1 can never up-replicate)
    assert(kept.filter(col("n_copies") =!= 1L).count() === 0L)
  }
}
