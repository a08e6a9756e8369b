package graft

import graft.operators.Sampling
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.001")

  test("hashSplit: disjoint, exhaustive, and stable under repartitioning") {
    val (train, test) = Sampling.hashSplitPortable(docs, "doc_id", 90)
    val nTrain = train.count()
    val nTest = test.count()
    assert(nTrain + nTest === docs.count())
    assert(train.join(test, "doc_id").count() === 0) // disjoint
    assert(math.abs(nTrain.toDouble / docs.count() - 0.9) < 0.05)
    // stability: same membership regardless of partition layout
    val (train2, _) = Sampling.hashSplitPortable(docs.repartition(13), "doc_id", 90)
    assert(train2.select("doc_id").as[Long].collect().sorted.toSeq ===
      train.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("quotaPerKey: caps every key at n, matches the row_number reference, " +
      "stable under repartitioning") {
    import org.apache.spark.sql.expressions.Window
    val q = Sampling.quotaPerKey(docs, "source", "doc_id", 5)
    val perKey = q.groupBy($"source").count().select($"count").as[Long].collect()
    assert(perKey.nonEmpty && perKey.forall(_ <= 5))
    // the bounded aggregate must select EXACTLY the rows the window
    // form defines (the semantics; the aggregate is the scale plan)
    val ref = docs
      .withColumn("__h", Sampling.portableHash48($"doc_id".cast("string")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy($"source").orderBy($"__h", $"doc_id")))
      .filter($"__rn" <= 5)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    val got = q.select($"doc_id").as[Long].collect().sorted.toSeq
    assert(got === ref)
    // partition-layout independence (also exercises the aggregate's
    // serialize/merge path across shuffled partials)
    val got2 = Sampling.quotaPerKey(docs.repartition(13), "source", "doc_id", 5)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(got2 === got)
  }

  test("quotaPerKeyFrom: uniform quotas ≡ quotaPerKey; per-key quotas " +
      "are prefixes of the same hash order (0 / absent keep nothing, " +
      "over-availability keeps all); an over-bound quota fails loudly") {
    val df = (1L to 300L).map(i => (i, s"d${i % 3}")).toDF("id", "key")
    val uni = Seq(("d0", 7L), ("d1", 7L), ("d2", 7L)).toDF("key", "quota")
    val a = Sampling.quotaPerKeyFrom(df, "key", "id", uni, maxQuota = 7)
      .select($"id").as[Long].collect().toSet
    val b = Sampling.quotaPerKey(df, "key", "id", 7)
      .select($"id").as[Long].collect().toSet
    assert(a === b)
    // varying quotas: d0 capped at 2, d1 zeroed, d2 ABSENT (no quota
    // → keeps nothing — the apportion-output contract), and the kept
    // set is a PREFIX of the uniform selection's per-key order
    val vary = Seq(("d0", 2L), ("d1", 0L)).toDF("key", "quota")
    val v = Sampling.quotaPerKeyFrom(df, "key", "id", vary, maxQuota = 7)
    assert(v.groupBy($"key").count().as[(String, Long)].collect().toMap
      === Map("d0" -> 2L))
    assert(v.select($"id").as[Long].collect().toSet.subsetOf(a))
    // a quota above availability keeps the whole group (cap, not fill)
    val over = Sampling.quotaPerKeyFrom(df, "key", "id",
      Seq(("d0", 500L)).toDF("key", "quota"), maxQuota = 500)
    assert(over.count() === 100L)
    // a quota past the declared state bound fails LOUDLY (silent
    // truncation would under-fill the very keys the mixture raised)
    val e = intercept[Exception] {
      Sampling.quotaPerKeyFrom(df, "key", "id",
        Seq(("d0", 8L)).toDF("key", "quota"), maxQuota = 7).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("maxQuota")), msgs(e).mkString("; "))
  }

  test("quotaPerKey: a quota at or above the group size keeps the whole group") {
    assert(Sampling.quotaPerKey(docs, "source", "doc_id", 1000000).count()
      === docs.count())
  }

  test("quotaPerKey: non-integral ids fail fast instead of returning an empty or lossy sample") {
    // string id: every cast-to-long is null → nothing ever selected
    val e = intercept[IllegalArgumentException] {
      Sampling.quotaPerKey(docs, "source", "text", 5)
    }
    assert(e.getMessage.contains("integral"))
    // fractional id: 2.5 → 2L → 2.0 misses the join-back (and 2.3/2.7
    // collide) — must be rejected, not silently dropped
    val frac = docs.withColumn("fid", $"doc_id" + lit(0.5))
    val e2 = intercept[IllegalArgumentException] {
      Sampling.quotaPerKey(frac, "source", "fid", 5)
    }
    assert(e2.getMessage.contains("integral"))
  }

  test("quotaPerKey: null keys form their own capped group, not a silent drop") {
    val mixed = docs.withColumn("nsource",
      when($"doc_id" % 3 === 0, $"source")) // 2/3 of rows: null key
    val q = Sampling.quotaPerKey(mixed, "nsource", "doc_id", 5)
    val nullKept = q.filter($"nsource".isNull).count()
    assert(nullKept === 5L,
      s"the null-key group must cap at the quota, got $nullKept")
    assert(q.filter($"nsource".isNotNull).groupBy($"nsource").count()
      .select($"count").as[Long].collect().forall(_ <= 5))
  }

  test("topKPerKey: selects exactly the window-form rows (score DESC, " +
      "id tiebreak), stable under repartitioning") {
    import org.apache.spark.sql.expressions.Window
    val scored = docs.withColumn("score", ($"doc_id" % 7).cast("double"))
    val q = Sampling.topKPerKey(scored, "source", "doc_id", "score", 5)
    assert(q.groupBy($"source").count()
      .select($"count").as[Long].collect().forall(_ <= 5))
    // the bounded aggregate must select EXACTLY the rows the window
    // form defines — score DESC, ascending-id tiebreak (the mod-7
    // score guarantees heavy ties, so the tiebreak is actually load-
    // bearing here)
    val ref = scored
      .withColumn("__rn", row_number().over(
        Window.partitionBy($"source").orderBy($"score".desc, $"doc_id")))
      .filter($"__rn" <= 5)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    val got = q.select($"doc_id").as[Long].collect().sorted.toSeq
    assert(got === ref)
    // partition-layout independence (exercises serialize/merge across
    // shuffled partials)
    val got2 = Sampling
      .topKPerKey(scored.repartition(13), "source", "doc_id", "score", 5)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(got2 === got)
  }

  test("topKPerKey: null scores are never selected; null keys form " +
      "their own ranked group") {
    // null score on the WOULD-BE best rows: they must lose their slot
    // to ranked rows, not win it or poison the group
    val scored = docs.withColumn("score",
      when($"doc_id" % 3 === 0, ($"doc_id" % 100).cast("double")))
    val q = Sampling.topKPerKey(scored, "source", "doc_id", "score", 5)
    assert(q.filter($"score".isNull).count() === 0L,
      "a null score cannot be ranked and must never be selected")
    assert(q.groupBy($"source").count()
      .select($"count").as[Long].collect().forall(_ <= 5))
    // null-key group on a DIFFERENT stripe than the null scores, so
    // the null-key group still contains rankable rows (ids ≡ 3 mod 6)
    val nullKey = scored.withColumn("nsource",
      when($"doc_id" % 2 === 0, $"source"))
    val nk = Sampling.topKPerKey(nullKey, "nsource", "doc_id", "score", 5)
    assert(nk.filter($"nsource".isNull).count() === 5L,
      "the null-key group must rank and cap like any other")
  }

  test("BoundedMaxByScore buffer: -0.0 ties 0.0 with id tiebreak; " +
      "NaN ranks above +Infinity (both engines' ORDER BY)") {
    val b = new graft.functions.BoundedMaxByScore.Buffer(2)
    b.offer(0.0, 10L); b.offer(-0.0, 5L); b.offer(-1.0, 1L)
    // SQL says -0.0 = 0.0: the two zero scores tie and the SMALLER id
    // wins the earlier rank — raw IEEE bit order would rank 10 first
    assert(b.sortedIds.toSeq === Seq(5L, 10L))
    val c = new graft.functions.BoundedMaxByScore.Buffer(2)
    c.offer(Double.PositiveInfinity, 1L)
    c.offer(Double.NaN, 2L)
    c.offer(1.0, 3L)
    assert(c.sortedIds.toSeq === Seq(2L, 1L))
  }

  test("topKPerKey: non-integral ids and non-numeric scores fail fast") {
    intercept[IllegalArgumentException] {
      Sampling.topKPerKey(docs.withColumn("s", lit(1.0)),
        "source", "text", "s", 5)
    }
    // a string score would implicit-cast with silent nulls — nothing
    // ever selected, an "empty best sample" with no error
    val e = intercept[IllegalArgumentException] {
      Sampling.topKPerKey(docs, "source", "doc_id", "text", 5)
    }
    assert(e.getMessage.contains("score"))
    // a decimal score would silently collapse past double precision —
    // two rows differing only in the 18th fractional digit tie on the
    // WRONG rank; rejected with an explicit-cast escape hatch
    val dec = docs.withColumn("dscore",
      $"doc_id".cast("decimal(38,18)"))
    val e2 = intercept[IllegalArgumentException] {
      Sampling.topKPerKey(dec, "source", "doc_id", "dscore", 5)
    }
    assert(e2.getMessage.contains("double precision"))
  }

  test("packSequences: packs respect order; every pack except maybe the last is full-ish") {
    val withTokens = docs
      .withColumn("n_tokens", graft.functions.TextFunctions.tokenCount($"text"))
    val packed = Sampling.packSequences(withTokens, "n_tokens", "doc_id", 2048L)
    val stats = packed.groupBy($"pack_id")
      .agg(sum($"n_tokens").as("tok"), min($"doc_id").as("lo"), max($"doc_id").as("hi"))
      .orderBy($"pack_id")
      .as[(Long, Long, Long, Long)].collect()
    // contiguity in doc_id order: each pack's range precedes the next's
    stats.sliding(2).foreach {
      case Array(a, b) => assert(a._4 < b._3)
      case _ =>
    }
    // invariant: a pack is short of the budget by at most one
    // overflowing document (greedy cumulative binning)
    val maxDoc = withTokens.agg(max($"n_tokens")).as[Int].head()
    stats.dropRight(1).foreach { case (_, tok, _, _) =>
      assert(tok > 2048L - maxDoc, s"pack $tok vs budget 2048, maxDoc $maxDoc")
    }
  }

  test("packSequences: shard count and partition layout never change the packing") {
    // the two-level prefix sum must equal the logical global cumsum for
    // ANY shard granularity — 1 shard (degenerate: one group), many
    // small shards, and an arbitrary input partitioning
    val withTokens = docs
      .withColumn("n_tokens", graft.functions.TextFunctions.tokenCount($"text"))
    def packing(df: org.apache.spark.sql.DataFrame, shards: Int) =
      Sampling.packSequences(df, "n_tokens", "doc_id", 2048L, numShards = shards)
        .select($"doc_id", $"pack_id").as[(Long, Long)].collect().sorted.toSeq
    val reference = packing(withTokens, 1)
    for (shards <- Seq(3, 17, 64))
      assert(packing(withTokens, shards) === reference, s"shards=$shards")
    assert(packing(withTokens.repartition(11), 17) === reference)
  }

  test("portableBucket matches its SQL form and splits ~90/10") {
    val (train, test) = Sampling.hashSplitPortable(docs, "doc_id", 90)
    assert(train.count() + test.count() === docs.count())
    assert(train.join(test, "doc_id").count() === 0)
    val frac = train.count().toDouble / docs.count()
    assert(frac > 0.8 && frac < 0.97, s"train fraction $frac")
  }

  test("weightedSamplePerKey: selects exactly the hash/weight priority " +
      "order, stable under repartitioning; weight bias is real") {
    import org.apache.spark.sql.expressions.Window
    val q = Sampling.weightedSamplePerKey(docs, "source", "doc_id",
      "n_chars", 8)
    assert(q.groupBy($"source").count()
      .select($"count").as[Long].collect().forall(_ <= 8))
    // the bounded aggregate must select EXACTLY the window-form rows:
    // priority = portableHash48(id)/w ascending, id tiebreak
    val prio = Sampling.portableHash48($"doc_id".cast("string"))
      .cast("double") / $"n_chars".cast("double")
    val ref = docs.filter($"n_chars" > 0)
      .withColumn("__rn", row_number().over(
        Window.partitionBy($"source").orderBy(prio, $"doc_id")))
      .filter($"__rn" <= 8)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    val got = q.select($"doc_id").as[Long].collect().sorted.toSeq
    assert(got === ref)
    val got2 = Sampling
      .weightedSamplePerKey(docs.repartition(13), "source", "doc_id",
        "n_chars", 8)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(got2 === got)
    // weight bias: doubling one doc's weight can only improve (or
    // keep) its rank — verified statistically: among docs selected
    // under weight=n_chars but NOT under uniform weight, mean n_chars
    // must exceed the corpus mean (long docs are favored)
    val uni = Sampling.weightedSamplePerKey(
        docs.withColumn("w1", lit(1.0)), "source", "doc_id", "w1", 8)
      .select($"doc_id").as[Long].collect().toSet
    val onlyWeighted = q.filter(!$"doc_id".isin(uni.toSeq: _*))
    if (onlyWeighted.count() > 10) {
      val meanSel = onlyWeighted.agg(avg($"n_chars")).as[Double].head()
      val meanAll = docs.agg(avg($"n_chars")).as[Double].head()
      assert(meanSel > meanAll,
        s"weighted-only picks mean n_chars $meanSel ≤ corpus $meanAll")
    }
  }

  test("weightedSamplePerKey: null, NaN, and non-positive weights are " +
      "never selected; zero-weight-only groups select nothing") {
    val w = docs.withColumn("w",
      when($"doc_id" % 3 === 0, ($"n_chars").cast("double"))
        .when($"doc_id" % 3 === 1, lit(0.0)))
    val q = Sampling.weightedSamplePerKey(w, "source", "doc_id", "w", 5)
    assert(q.filter($"w".isNull || $"w" <= 0).count() === 0L)
    val allZero = docs.withColumn("w", lit(0.0))
    assert(Sampling.weightedSamplePerKey(allZero, "source", "doc_id",
      "w", 5).count() === 0L)
    // NaN weights: Spark compares NaN largest, so an ungated NaN
    // priority would rank FIRST here and LAST in the DuckDB ASC
    // replay — the gate must drop them like null/≤0 (regression:
    // found by review)
    val withNan = docs.withColumn("w",
      when($"doc_id" % 5 === 0, lit(Double.NaN))
        .otherwise($"n_chars".cast("double")))
    val qn = Sampling.weightedSamplePerKey(withNan, "source", "doc_id",
      "w", 5)
    assert(qn.filter(isnan($"w")).count() === 0L,
      "NaN-weight rows must never be selected")
    assert(qn.count() > 0L)
  }

  test("replicateByWeight: exact copy counts, explode shape, and " +
      "unbiased expectation") {
    // hand-verifiable tiny frame: integer weights replicate exactly,
    // fractional promotion follows the portable hash threshold
    val tiny = Seq((1L, 2.0), (2L, 0.0), (3L, 3.0))
      .toDF("id", "w")
    val r = Sampling.replicateByWeight(tiny, "id", "w")
      .select($"id", $"n_copies", $"copy_idx")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(r === Seq((1L, 2L, 1L), (1L, 2L, 2L),
      (3L, 3L, 1L), (3L, 3L, 2L), (3L, 3L, 3L)))
    // fractional part: E[copies] = w exactly under a uniform hash;
    // over 500 docs at w = 1.5 the copy total concentrates near 750
    val frac = docs.withColumn("w", lit(1.5))
    val total = Sampling.replicateByWeight(frac, "doc_id", "w").count()
    val n = docs.count()
    assert(math.abs(total - 1.5 * n) < 0.1 * n,
      s"copy total $total far from expectation ${1.5 * n}")
    // null, NaN, and negative weights drop the row (0 copies), never
    // throw — NaN especially must NOT trip the maxFactor guard (it
    // compares largest; regression: found by review)
    val edge = Seq((1L, java.lang.Double.valueOf(-2.0)),
      (2L, null.asInstanceOf[java.lang.Double]),
      (3L, java.lang.Double.valueOf(Double.NaN))).toDF("id", "w")
    assert(Sampling.replicateByWeight(edge, "id", "w").count() === 0L)
  }

  test("replicateByWeight: a runaway weight fails the job at maxFactor " +
      "instead of exploding the corpus") {
    val bomb = Seq((1L, 5000.0)).toDF("id", "w")
    val e = intercept[Exception] {
      Sampling.replicateByWeight(bomb, "id", "w").count()
    }
    assert(e.getMessage.contains("maxFactor") ||
      e.getCause != null && e.getCause.getMessage.contains("maxFactor"),
      s"unexpected error: ${e.getMessage}")
    // explicit dial accepts the blow-up
    assert(Sampling.replicateByWeight(bomb, "id", "w",
      maxFactor = 5001).count() === 5000L)
  }

  test("withReplicaKey: unique, order-compatible, decodable — and the " +
      "replicate → re-key → pack composition accounts exactly") {
    // deterministic integer weights; maxFactor 4 → 3-bit field
    val corpus = Seq(
      (10L, 3.0, 100L), (11L, 1.0, 50L), (12L, 2.0, 80L), (13L, 1.0, 70L)
    ).toDF("doc_id", "w", "n_tokens")
    val rep = Sampling.replicateByWeight(corpus, "doc_id", "w", maxFactor = 4)
    val keyed = Sampling.withReplicaKey(rep, "doc_id", maxFactor = 4)
    val rows = keyed.select($"doc_id", $"copy_idx", $"replica_id")
      .as[(Long, Long, Long)].collect().toSeq
    // 3 + 1 + 2 + 1 = 7 copies, every replica_id unique
    assert(rows.size === 7)
    assert(rows.map(_._3).distinct.size === 7)
    // decodable: id = rid >> 3, copy = (rid & 7) + 1
    rows.foreach { case (id, copy, rid) =>
      assert(rid >> 3 === id); assert((rid & 7L) + 1 === copy)
    }
    // order-compatible: replica_id order == (doc_id, copy_idx) order
    assert(rows.sortBy(_._3).map(r => (r._1, r._2)) ===
      rows.sortBy(r => (r._1, r._2)).map(r => (r._1, r._2)))
    // pack over replica_id: copies pack consecutively and the pack
    // accounting equals the by-hand greedy fill over (doc order,
    // multiplied token cost): cum before each row / budget
    val packed = Sampling.packSequences(keyed, "n_tokens", "replica_id", 200L)
      .select($"replica_id", $"pack_id").as[(Long, Long)].collect()
      .sortBy(_._1).toSeq
    val tokensInOrder = rows.sortBy(_._3)
      .map(r => Map(10L -> 100L, 11L -> 50L, 12L -> 80L, 13L -> 70L)(r._1))
    val expectPacks = tokensInOrder.scanLeft(0L)(_ + _).init.map(_ / 200L)
    assert(packed.map(_._2) === expectPacks)
    // total mass conserved through the whole composition
    assert(tokensInOrder.sum === 3 * 100L + 50L + 2 * 80L + 70L)
    // guards: a copy_idx beyond the declared maxFactor field fails
    // loudly (the encoding would collide), as does a negative id
    val bad = Seq((1L, 9L)).toDF("doc_id", "copy_idx")
    val e2 = intercept[Exception] {
      Sampling.withReplicaKey(bad, "doc_id", maxFactor = 4).collect()
    }
    assert(e2.getMessage.contains("withReplicaKey") ||
      e2.getCause != null && e2.getCause.getMessage.contains("withReplicaKey"))
    val neg = Seq((-1L, 1L)).toDF("doc_id", "copy_idx")
    intercept[Exception] {
      Sampling.withReplicaKey(neg, "doc_id", maxFactor = 4).collect()
    }
  }

  test("shardManifest: every doc exactly once, positions contiguous " +
      "1..|shard|, bit-identical under repartitioning, seed changes " +
      "the permutation without touching membership") {
    val docs = (0L until 200L).toDF("doc_id")
    val m = Sampling.shardManifest(docs, "doc_id", nShards = 8,
      seed = "42").collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    // partition of the corpus: every doc exactly once
    assert(m.map(_._1).toSeq === (0L until 200L).toSeq)
    assert(m.forall(t => t._2 >= 0 && t._2 < 8))
    // positions within each shard are exactly 1..|shard|
    m.groupBy(_._2).foreach { case (s, rows) =>
      assert(rows.map(_._3).sorted === (1L to rows.size.toLong).toSeq,
        s"shard $s positions not contiguous")
    }
    // determinism under physical layout
    val re = Sampling.shardManifest(docs.repartition(7), "doc_id",
      nShards = 8, seed = "42").collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(re === m)
    // a different seed is a different permutation of the same corpus
    val other = Sampling.shardManifest(docs, "doc_id", nShards = 8,
      seed = "43").collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(other.map(_._1) === m.map(_._1))
    assert(other !== m)
    intercept[IllegalArgumentException] {
      Sampling.shardManifest(docs, "doc_id", nShards = 0, seed = "42")
    }
    intercept[IllegalArgumentException] {
      Sampling.shardManifest(docs, "doc_id", nShards = 8, seed = "a:b")
    }
    // the output keeps the CALLER's id column name (no silent rename
    // to doc_id), and the permutation is idCol-name-independent
    val vecs = (0L until 200L).toDF("vec_id")
    val mv = Sampling.shardManifest(vecs, "vec_id", nShards = 8,
      seed = "42")
    assert(mv.columns.toSeq === Seq("vec_id", "shard", "pos_in_shard"))
    assert(mv.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted === m)
  }
}
