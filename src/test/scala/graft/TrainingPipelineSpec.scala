package graft

import graft.functions.TextFunctions
import org.apache.spark.sql.functions._

/** End-to-end invariants of the composed training-data prep job. */
class TrainingPipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val out =
    TrainingPipeline.prepare(
      Tables.documents(spark, "/root/testdata/sf0.001")).cache()

  test("output carries every stage's column and no extra rows") {
    val in = Tables.documents(spark, "/root/testdata/sf0.001").count()
    assert(out.count() > 0 && out.count() <= in)
    for (c <- Seq("doc_id", "text", "lang_pred", "n_tokens", "pack_id", "split"))
      assert(out.columns.contains(c), c)
  }

  test("no exact duplicates survive the dedup stage") {
    val n = out.count()
    assert(out.select(TextFunctions.fingerprint($"text")).distinct().count() === n)
  }

  test("splits are disjoint, exhaustive, and deterministic") {
    val splits = out.groupBy($"split").count().as[(String, Long)].collect().toMap
    assert(splits.keySet.subsetOf(Set("train", "test")))
    assert(splits.values.sum === out.count())
    // re-running the chain reproduces the same membership
    val again = TrainingPipeline.prepare(
      Tables.documents(spark, "/root/testdata/sf0.001"))
    assert(again.select($"doc_id", $"split").as[(Long, String)].collect().sorted.toSeq ===
      out.select($"doc_id", $"split").as[(Long, String)].collect().sorted.toSeq)
  }

  test("stageCheckpoint policies are bit-identical: local ≡ reliable ≡ " +
      "none; reliable without a checkpoint dir fails fast") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"split", $"pack_id", xxhash64($"text").as("h"))
      .as[(Long, String, Long, Long)].collect().sorted.toSeq
    val conf = spark.conf
    def under(policy: String) = {
      conf.set(TrainingPipeline.StageCheckpointConf, policy)
      try keyed(TrainingPipeline.prepare(docs))
      finally conf.unset(TrainingPipeline.StageCheckpointConf)
    }
    // fail-fast contract — only observable while the JVM-shared
    // SparkContext still has NO checkpoint dir (setCheckpointDir is
    // irreversible, and this test sets one below — see SparkSpec's
    // note). Guard on the precondition so the intercept can't
    // spuriously fail under suite reordering / parallel execution.
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      val e = intercept[IllegalArgumentException](under("reliable"))
      assert(e.getMessage.contains("setCheckpointDir"))
    }
    val local = under("local")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-reliable-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val reliable = under("reliable")
    val none = under("none")
    assert(reliable === local,
      "reliable checkpoint boundaries must not change the output")
    assert(none === local,
      "full-lineage pins must not change the output")
    // the reliable run actually wrote checkpoint blocks to the dir
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(wrote > 0, s"no reliable-checkpoint blocks under $dir")
  }

  test("masking and decontamination stages compose: planted PII is " +
      "masked in the output, benchmark-overlapping docs are gone") {
    val bench = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter($"doc_id" % 10 === 0)
    val withPii = Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("text", concat($"text", lit(" mail boss"), $"doc_id",
        lit("@corp.example.net")))
    // spanWords = 0: span dedup would (correctly) cut the repeated
    // "<EMAIL>"-carrying span from near-dup docs, which is the span
    // stage's own test — this one pins the masking+decontamination
    // composition, so every survivor must still carry its masked token
    val cleaned = TrainingPipeline.prepare(withPii,
      benchmark = Some(bench), decontaminateNgram = 8, spanWords = 0)
    // every surviving doc had its planted email masked
    val leaked = cleaned.filter($"text".rlike("@corp")).count()
    assert(leaked === 0)
    assert(cleaned.filter($"text".contains("<EMAIL>")).count() === cleaned.count())
    // docs sharing an 8-gram with the benchmark slice are gone (the
    // benchmark docs themselves collide fully, so their ids vanish
    // unless kept only as another cluster's survivor with new text)
    val survivors = cleaned.select($"doc_id").as[Long].collect().toSet
    val benchIds = bench.select($"doc_id").as[Long].collect().toSet
    assert(survivors.intersect(benchIds).isEmpty)
    assert(cleaned.count() > 0)
  }

  test("guard dials surface on the composed pipeline: strictBuckets " +
      "fails fast, guardReport accounts the degradation") {
    // 40 near-identical docs: every (band, bucket) the cluster lands
    // in blows far past a cap of 5
    val base = (0 until 30).map(i => s"w$i").mkString(" ")
    val degen = (0L until 40L).map(i => (i, s"$base tail$i"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      TrainingPipeline.prepare(degen, jaccardThreshold = 0.5,
        spanWords = 0, maxBucket = 5, strictBuckets = true).count()
    }
    assert(e.getMessage.contains("strict") ||
      Option(e.getCause).exists(_.getMessage.contains("strict")))
    // default (non-strict): the same corpus degrades to star
    // candidates, still collapses to one survivor, and the report
    // accounts the degradation without internal-tag knowledge
    val outDeg = TrainingPipeline.prepare(degen, jaccardThreshold = 0.5,
      spanWords = 0, maxBucket = 5)
    assert(outDeg.count() === 1L)
    // earlier tests in this suite already recorded a CLEAN minhash_lsh
    // observation (prepare at the default cap), so "non-empty" would
    // be satisfied by the stale entry before the async listener bus
    // delivers this run's — poll for the oversized evidence itself
    val deadline = System.currentTimeMillis + 10000
    def rep = TrainingPipeline.guardReport(spark)("corpus_dedup")
    while (!rep.exists(_._1 > 0) && System.currentTimeMillis < deadline)
      Thread.sleep(50)
    val (affected, top) = rep.getOrElse(fail("corpus_dedup never reported"))
    assert(affected > 0L, "oversized mass must be accounted")
    assert(top > 5L, "max bucket must exceed the cap")
    // (no assertion on the semantic_collapse slot: the suite-shared
    // session may already carry a hyperplane_lsh observation from
    // SimilaritySpec — per-tag retention is session-lifetime)
  }

  test("instrumented prepare accounts rows at every stage boundary") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val bench = docs.filter($"doc_id" % 10 === 0)
    val outI = TrainingPipeline.prepare(docs, benchmark = Some(bench),
      decontaminateNgram = 8, instrument = true)
    val finalCount = outI.count()
    // no embeddings / no balancing / no winnow-eval / no band → those
    // stages are disabled and must stay ABSENT (presence means
    // "ran"); everything else reports
    val expected = TrainingPipeline.Stages
      .filterNot(Set("semantic_collapse", "domain_quota",
        "domain_topk", "domain_weighted", "domain_reweighted",
        "winnow_decontaminate", "surprisal_band"))
    val deadline = System.currentTimeMillis + 10000
    def counts = TrainingPipeline.stageCounts(spark).toMap
    while (counts.size < expected.size &&
        System.currentTimeMillis < deadline)
      Thread.sleep(50)
    val c = TrainingPipeline.stageCounts(spark)
    assert(c.map(_._1) === expected,
      "every enabled stage must report, in pipeline order; disabled " +
        "stages must not")
    // every stage only ever drops rows, and the endpoints tie out to
    // ground truth
    assert(c.head._2 === docs.count(), "intake counts the raw corpus")
    assert(c.last._2 === finalCount, "output counts the final frame")
    c.sliding(2).foreach { case Seq((s1, n1), (s2, n2)) =>
      assert(n2 <= n1, s"$s2 ($n2) must not exceed $s1 ($n1)")
    }
    // the dedup and decontamination stages genuinely fired on this
    // corpus (sf0.001 documents contain planted dups; bench = 10% of
    // docs guarantees decontamination hits)
    val m = c.toMap
    assert(m("corpus_dedup") < m("span_floor"))
    assert(m("decontaminate") < m("corpus_dedup"))
    // uninstrumented runs leave no trace: the plan is unchanged and
    // the LAST instrumented counts stay readable
    val plain = TrainingPipeline.prepare(docs).queryExecution
      .optimizedPlan.toString
    assert(!plain.contains("graft_pipeline"),
      "instrument=false must not add CollectMetrics nodes")
  }

  test("domain quota stage balances the clean corpus and reports its count") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val out = TrainingPipeline.prepare(docs,
      domainQuota = Some(("source", 3)), instrument = true)
    val perSource = out.groupBy($"source").count()
      .select($"count").as[Long].collect()
    assert(perSource.nonEmpty && perSource.forall(_ <= 3))
    // the stage observed its kept count (poll the async listener bus)
    val deadline = System.currentTimeMillis + 10000
    def quota = TrainingPipeline.stageCounts(spark).toMap.get("domain_quota")
    while (quota.isEmpty && System.currentTimeMillis < deadline)
      Thread.sleep(50)
    assert(quota.contains(out.count()),
      "domain_quota must report the balanced row count (packing/split " +
        "below it never drop rows)")
  }

  test("generalized balance stage: TopK and Weighted modes cap per key, " +
      "report under their own tags, and reject double configuration") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("quality", $"n_chars".cast("double"))
    def await(tag: String): Option[Long] = {
      val deadline = System.currentTimeMillis + 10000
      def v = TrainingPipeline.stageCounts(spark).toMap.get(tag)
      while (v.isEmpty && System.currentTimeMillis < deadline)
        Thread.sleep(50)
      v
    }
    val topk = TrainingPipeline.prepare(docs,
      balance = Some(Balance.TopK("source", "quality", 3)),
      instrument = true)
    assert(topk.groupBy($"source").count()
      .select($"count").as[Long].collect().forall(_ <= 3))
    assert(await("domain_topk").contains(topk.count()))
    val weighted = TrainingPipeline.prepare(docs,
      balance = Some(Balance.Weighted("source", "n_chars", 3)),
      instrument = true)
    assert(weighted.groupBy($"source").count()
      .select($"count").as[Long].collect().forall(_ <= 3))
    assert(await("domain_weighted").contains(weighted.count()))
    // the two spellings cannot be combined
    val e = intercept[IllegalArgumentException] {
      TrainingPipeline.prepare(docs,
        domainQuota = Some(("source", 3)),
        balance = Some(Balance.Quota("source", 3)))
    }
    assert(e.getMessage.contains("not both"))
  }

  test("span dedup and semantic collapse stages fire inside the composed pipeline") {
    def ws(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val boiler = ws("b", 10) // one aligned 10-token chunk
    val docs = Seq(
      (1L, boiler + " " + ws("x", 10)), // owns the boilerplate (first by id)
      (2L, boiler + " " + ws("y", 10)), // later copy of the span → cut
      (3L, ws("z", 20))                 // distinct text, but doc 2's embedding twin
    ).toDF("doc_id", "text")
    val vec = Array(1f, 0f, 0f, 0f)
    val emb = Seq((2L, vec), (3L, vec)).toDF("doc_id", "embedding")
    val out = TrainingPipeline.prepare(docs,
      embeddings = Some(emb), embeddingDim = 4)
    val toks = out.select($"doc_id", $"n_tokens".cast("long"))
      .as[(Long, Long)].collect().toMap
    // span stage: doc 2 lost its 10 boilerplate tokens, doc 1 kept all 20
    assert(toks(1L) === 20L && toks(2L) === 10L)
    // semantic stage: doc 3 collapsed into its embedding twin (min id 2
    // survives); doc 1 has no embedding row and survives by default
    assert(!toks.contains(3L))
    assert(toks.keySet === Set(1L, 2L))
  }

  test("winnow-decon and surprisal-band stages fire inside the " +
      "composed pipeline: a REORDERED eval copy drops, the per-lang " +
      "perplexity tails drop, both stages account their rows") {
    val rnd = new scala.util.Random(41)
    def words(n: Int) = Seq.fill(n)("pw" + rnd.nextInt(1000000))
    val secA = words(10); val secB = words(10)
    // eval doc: A ++ B; the contaminated corpus doc carries B ++ A —
    // no shared 13-gram (exact-gram decon would MISS it), but each
    // section exceeds w+k-1, so winnowing flags it
    val evalDocs = Seq((1L, (secA ++ secB).mkString(" ")))
      .toDF("doc_id", "text")
    val contaminated = (100L,
      (words(6) ++ secB ++ words(6) ++ secA).mkString(" "))
    // band fodder: 20 'en' docs sharing ONLY stopword contexts (each
    // doc's content words are globally unique, so no near-dup
    // collapse) — a 20-doc lang group, big enough that the exact
    // integer band edges (1, 19] genuinely cut one doc per tail
    val enDocs = (200L until 220L).map { i =>
      val u = words(6)
      (i, s"the ${u(0)} ${u(1)} and ${u(2)} is ${u(3)} ${u(4)} ${u(5)}")
    }
    val docs = (enDocs :+ contaminated)
      .toDF("doc_id", "text")
      .withColumn("source", lit("s"))
    val out = TrainingPipeline.prepare(docs,
      jaccardThreshold = 0.5,
      winnowEval = Some(evalDocs),
      surprisalBand = Some((5, 95)),
      instrument = true)
    val kept = out.select($"doc_id").as[Long].collect().toSet
    assert(!kept.contains(100L),
      s"reordered eval copy survived winnow decon: $kept")
    // en group: 20 ranked docs → keep ranks (floor(20·5/100),
    // floor(20·95/100)] = (1, 19] → exactly 18 survive
    assert(kept.size === 18, s"band arithmetic: $kept")
    assert(kept.subsetOf((200L until 220L).toSet))
    // both stages observed (ran + counted) — the stage-accounting
    // contract: presence means the stage ran
    val deadline = System.currentTimeMillis + 10000
    def counts = TrainingPipeline.stageCounts(spark).toMap
    while (!(counts.get("winnow_decontaminate").contains(20L) &&
        counts.get("surprisal_band").contains(18L)) &&
        System.currentTimeMillis < deadline) Thread.sleep(50)
    val c = counts
    assert(c.get("winnow_decontaminate").contains(20L), c.toString)
    assert(c.get("surprisal_band").contains(18L), c.toString)
    // defaults leave both stages OFF: the q83 plan is untouched and
    // neither label is observed for a default run
    val plain = TrainingPipeline.prepare(docs)
    assert(plain.columns.toSeq ===
      TrainingPipeline.prepare(docs, winnowEval = Some(evalDocs),
        surprisalBand = Some((5, 95))).columns.toSeq)
    assert(plain.select($"doc_id").as[Long].collect().toSet
      .contains(100L)) // no eval set → the copy survives by design
  }

  test("held-out band mode (bandTrain): planted self-consistent junk " +
      "that the SELF-SCORED band keeps is cut by the held-out band — " +
      "corpus junk cannot make itself predictable to the model that " +
      "filters it") {
    // junk doc i: "the" + a doc-UNIQUE 16-token gibberish ring repeated
    // twice (33 tokens) — passes every intake gate (uniq 17/33, rep3
    // 0.45, has an en stopword), survives dedup (rings are disjoint
    // across docs), and is maximally SELF-predictable: each ring token
    // is always followed by the same successor, so self-scored q = 10
    // per ring bigram (the LM minimum) and the doc lands in the LOW
    // band. Held-out, every junk bigram is OOV → the finite ceiling.
    def ring(i: Int): String = {
      val toks = (0 until 16).map(t => s"r${i}x$t")
      ("the" +: (toks ++ toks)).mkString(" ")
    }
    // normal doc j: English function words with doc-unique content
    // words — self-scored q_avg ≈ 12 (varied continuations), held-out
    // against a reference carrying these exact texts q_avg = 15 < the
    // junk's 16 (every bigram seen)
    def normal(j: Int): String =
      s"the n${j}a of n${j}b and n${j}c is n${j}d " +
        s"the n${j}e a n${j}f of n${j}g and n${j}h"
    val junkIds = (1L to 10L).toSet
    val docs = (
      (1L to 10L).map(i => (i, ring(i.toInt), "en", "web", 1L)) ++
      (11L to 20L).map(j => (j, normal(j.toInt), "en", "web", 1L))
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val reference = (11L to 20L)
      .map(j => (j + 1000L, normal(j.toInt)))
      .toDF("doc_id", "text")
    // keep the LOWER half of the rank distribution: exactly where
    // self-consistent junk sits when it scored its own model
    def run(train: Option[org.apache.spark.sql.DataFrame]) =
      TrainingPipeline.prepare(docs, spanWords = 0,
        surprisalBand = Some((0, 50)), bandTrain = train)
        .select($"doc_id").as[Long].collect().toSet
    val selfScored = run(None)
    val heldOut = run(Some(reference))
    assert(junkIds.subsetOf(selfScored),
      s"self-scoring must KEEP the junk (that is the failure mode the " +
        s"held-out mode exists for): $selfScored")
    assert(heldOut.intersect(junkIds).isEmpty,
      s"held-out band must cut every junk doc: $heldOut")
    assert(heldOut.nonEmpty && heldOut.forall(_ >= 11L),
      s"held-out band keeps the normal docs: $heldOut")
    // bandTrain without surprisalBand is a contract error, not a no-op
    val e = intercept[IllegalArgumentException] {
      TrainingPipeline.prepare(docs, bandTrain = Some(reference))
    }
    assert(e.getMessage.contains("surprisalBand"), e.getMessage)
  }

  test("held-out reweighted balancing (Balance.Reweighted + " +
      "reweightTrain): the held-out-HARDER domain gets the larger " +
      "in-pipeline quota, the kept total hits the budget exactly, and " +
      "the mode's contract guards fire") {
    // easy domain: English-function-word scaffolding with doc-unique
    // content words, and the REFERENCE carries these exact texts 50×
    // — every easy bigram is train-seen with high counts, so the
    // reference-trained model finds the domain cheap
    def easy(j: Int): String =
      s"the n${j}a of n${j}b and n${j}c is n${j}d " +
        s"the n${j}e a n${j}f of n${j}g and n${j}h"
    // hard domain: 16 doc-unique tokens — every bigram AND context is
    // reference-OOV, the held-out ceiling
    def hard(j: Int): String =
      (0 until 16).map(t => s"zq${j}x$t").mkString(" ")
    val docs = (
      (1L to 20L).map(j => (j, easy(j.toInt), "en", "easy", 1L)) ++
      (21L to 40L).map(j => (j, hard(j.toInt), "und", "hard", 1L))
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val reference = (1L to 20L).flatMap(j => (0 until 50).map(c =>
        (10000L + j * 50 + c, easy(j.toInt))))
      .toDF("doc_id", "text")
    val kept = TrainingPipeline.prepare(docs, spanWords = 0,
        balance = Some(Balance.Reweighted("source", budget = 10L,
          maxQuota = 10)),
        reweightTrain = Some(reference))
      .select($"doc_id", $"source").as[(Long, String)].collect()
    // both domains offer 20 docs and both quotas are < 20, so the
    // apportioned quotas BIND and the kept total is the budget exactly
    assert(kept.length === 10, kept.mkString(","))
    val bySrc = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySrc.getOrElse("hard", 0) > bySrc.getOrElse("easy", 0),
      s"the held-out-harder domain must out-quota the easy one: $bySrc")
    // contract guards: the mode and its reference are required TOGETHER
    val e1 = intercept[IllegalArgumentException] {
      TrainingPipeline.prepare(docs, spanWords = 0,
        balance = Some(Balance.Reweighted("source", 10L, 10)))
    }
    assert(e1.getMessage.contains("reweightTrain"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      TrainingPipeline.prepare(docs, spanWords = 0,
        domainQuota = Some(("source", 5)),
        reweightTrain = Some(reference))
    }
    assert(e2.getMessage.contains("Reweighted"), e2.getMessage)
  }

  test("shared held-out scoring (band + reweight on ONE reference) is " +
      "bit-identical to the unshared composition") {
    def easy(j: Int): String =
      s"the n${j}a of n${j}b and n${j}c is n${j}d " +
        s"the n${j}e a n${j}f of n${j}g and n${j}h"
    def hard(j: Int): String =
      (0 until 16).map(t => s"zq${j}x$t").mkString(" ")
    val docs = (
      (1L to 20L).map(j => (j, easy(j.toInt), "en", "easy", 1L)) ++
      (21L to 40L).map(j => (j, hard(j.toInt), "und", "hard", 1L))
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // the reference covers only part of the easy domain, so held-out
    // scores spread within each group and the band has tails to cut
    val reference = (1L to 12L).flatMap(j => (0 until 5).map(c =>
        (10000L + j * 5 + c, easy(j.toInt))))
      .toDF("doc_id", "text")
    // the same rows behind a different plan: sameSemantics says no, so
    // prepare scores twice (the unshared path)
    val twin = reference.filter(lit(true))
    assert(reference.sameSemantics(reference))
    assert(!reference.sameSemantics(twin))
    val band = Some((10, 90))
    def run(reweightRef: org.apache.spark.sql.DataFrame) =
      TrainingPipeline.prepare(docs, spanWords = 0,
          surprisalBand = band, bandTrain = Some(reference),
          balance = Some(Balance.Reweighted("source", budget = 12L,
            maxQuota = 12)),
          reweightTrain = Some(reweightRef))
        .select($"doc_id", $"split", $"pack_id", xxhash64($"text"))
        .as[(Long, String, Long, Long)].collect().sorted.toSeq
    val shared = run(reference)
    val unshared = run(twin)
    // both stages fire: the band cuts docs, the budget binds after it
    val banded = TrainingPipeline.prepare(docs, spanWords = 0,
      surprisalBand = band, bandTrain = Some(reference)).count()
    assert(banded < docs.count() && banded > 12L, s"banded=$banded")
    assert(shared.size === 12, shared.mkString(","))
    assert(shared === unshared)
  }

  test("packs are contiguous in doc order and near-budget") {
    val stats = out.groupBy($"pack_id")
      .agg(sum($"n_tokens").as("tok"), min($"doc_id").as("lo"), max($"doc_id").as("hi"))
      .orderBy($"pack_id")
      .as[(Long, Long, Long, Long)].collect()
    stats.sliding(2).foreach {
      case Array(a, b) => assert(a._4 < b._3)
      case _ =>
    }
    val maxDoc = out.agg(max($"n_tokens".cast("long"))).head().getLong(0)
    stats.dropRight(1).foreach { case (_, tok, _, _) =>
      assert(tok > 2048L - maxDoc)
    }
  }
}
