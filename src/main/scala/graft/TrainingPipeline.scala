package graft

import graft.functions.TextFunctions
import graft.operators.{Dedup, HotBuckets, Sampling}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-data preparation job — the composed form of the
  * engine's training-data operators, i.e. what a user actually runs
  * over a raw document corpus:
  *
  *   quality filter → PII masking → span-level dedup (C4 repeated-span
  *   cut) → language ID → corpus dedup (exact + MinHash-LSH near-dup,
  *   canonical survivor) → semantic collapse (embedding near-dup, when
  *   embeddings are supplied) → benchmark decontamination → per-domain
  *   quota balancing (when a quota is supplied) → token counting →
  *   greedy sequence packing → deterministic train/test split →
  *   partitioned parquet.
  *
  * Every stage is a DataFrame transform from the operator library; the
  * whole job is one Catalyst plan per output (no driver-side row
  * loops), so the same code runs at 100 TB — stage shuffle profiles
  * are documented on each operator.
  *
  * Usage: runMain graft.TrainingPipeline <sfDir> <outDir>
  */
/** Domain-balancing mode for [[TrainingPipeline.prepare]]'s balancing
  * stage — the three members of the bounded-aggregate selection family
  * (all the same no-window, map-side-combining plan; see
  * [[graft.operators.Sampling]]): uniform cap, quality rank, or soft
  * weighted preference. */
sealed trait Balance
object Balance {
  /** Uniform hash-ordered cap: keep at most `n` docs per key
    * ([[graft.operators.Sampling.quotaPerKey]]). */
  final case class Quota(keyCol: String, n: Int) extends Balance
  /** Keep the `n` BEST docs per key by `scoreCol` descending
    * ([[graft.operators.Sampling.topKPerKey]]); the score column must
    * already exist on the corpus entering the stage. */
  final case class TopK(keyCol: String, scoreCol: String, n: Int)
    extends Balance
  /** Keep `n` docs per key with inclusion bias ∝ `weightCol`
    * ([[graft.operators.Sampling.weightedSamplePerKey]]). */
  final case class Weighted(keyCol: String, weightCol: String, n: Int)
    extends Balance
  /** PER-KEY quotas computed IN the pipeline by the held-out domain
    * reweighter ([[graft.operators.LanguageModel
    * .domainReweightHeldOut]] — DoReMi's deployment shape): each
    * domain's share of `budget` docs ∝ how hard its surviving text is
    * for the model trained on the reference corpus
    * (`TrainingPipeline.prepare`'s `reweightTrain`, REQUIRED with
    * this mode), applied by [[graft.operators.Sampling
    * .quotaPerKeyFrom]]'s hash-ordered prefix selection. `maxQuota`
    * bounds the per-key selection state (any apportioned quota above
    * it fails loudly); `scale` is the reweighter's integer surprisal
    * scale. */
  final case class Reweighted(keyCol: String, budget: Long,
    maxQuota: Int, scale: Long = 10000L) extends Balance
}

object TrainingPipeline {

  /** How [[prepare]] materializes its macro-stage boundaries (the
    * clean corpus feeding winnowing, the winnow-clean corpus feeding
    * the band scorer, the banded corpus feeding balancing, the
    * balanced corpus feeding packing):
    *
    *  - `local` (default) — `localCheckpoint(eager = true)`: the
    *    boundary executes once, is held as partition blocks, and the
    *    LINEAGE IS TRUNCATED. This is the plan-DEPTH dial, not just a
    *    recompute dial: one Catalyst plan carrying all 11 stages costs
    *    the DRIVER hundreds of KB of plan rendering + AQE re-planning
    *    per stage update (measured: 228-405 KB plan strings, in-suite
    *    q147 samples 20× its isolated floor) — truncation caps every
    *    action's plan at one macro-stage. Same-box cost is one extra
    *    block write per boundary; results are bit-identical (the
    *    boundary holds exactly the rows the lazy plan computes).
    *  - `reliable` — `checkpoint(eager = true)`: same execute-once +
    *    lineage truncation, but the boundary blocks land on the
    *    SparkContext checkpoint dir (`sc.setCheckpointDir` — HDFS/S3
    *    on a cluster), so losing an executor loses nothing. This is
    *    the 100 TB production value: `localCheckpoint` blocks are
    *    executor-local and an executor loss KILLS the job (truncation
    *    discarded the lineage that could recompute them). Costs one
    *    distributed write+read per boundary — on a multi-hour
    *    pipeline that premium is the fault-tolerance budget, not
    *    overhead. Fails fast (before any stage executes) if no
    *    checkpoint dir is set.
    *  - `none` — [[graft.operators.Hydration.persist]] at the same
    *    points (the pre-r17 shape): full lineage retained, useful when
    *    a caller needs the composed plan inspectable end-to-end
    *    (PlanQualitySpec's sweep) or wants Spark's
    *    `spark.sql.defaultCacheStorageLevel` to govern storage.
    *
    * All three policies are bit-identical in OUTPUT (each boundary
    * holds exactly the rows the lazy plan computes — asserted by
    * TrainingPipelineSpec's policy-equivalence test); they differ only
    * in where the boundary's blocks live and how much plan each action
    * ships. Staging to parquet (the q95ZorderSkipping pattern) remains
    * the right call when a boundary should OUTLIVE the job. */
  val StageCheckpointConf = "spark.graft.pipeline.stageCheckpoint"

  /** The transform chain, exposed for tests (no I/O). Returns the
    * packed, split corpus: one row per kept document with lang,
    * n_tokens, pack_id, and split columns.
    *
    * `spanWords > 0` enables corpus-global span dedup; `embeddings`
    * (doc_id, embedding Array[Float] of `embeddingDim`) enables
    * semantic collapse — docs without an embedding row always
    * survive that stage. `domainQuota = Some((keyCol, n))` caps every
    * `keyCol` group of the CLEAN corpus at `n` hash-selected docs
    * ([[Sampling.quotaPerKey]] — domain balancing); `balance` is the
    * generalized form ([[Balance.Quota]] / [[Balance.TopK]] /
    * [[Balance.Weighted]] — uniform, quality-ranked, or
    * weight-biased selection, one mode at a time, all the same
    * bounded no-window plan). Passing both is an error.
    * `winnowEval = Some(evalDocs)` adds winnowing decontamination
    * (fingerprint overlap ≥ `winnowMinShared` → drop — catches
    * reordered/partial eval copies the exact-gram stage misses);
    * `surprisalBand = Some((lo, hi))` adds the per-lang_pred
    * perplexity band filter (keep the (lo, hi] band of the bigram-LM
    * rank distribution), self-scored on the clean corpus by default;
    * `bandTrain = Some(reference)` switches the band's scorer to the
    * HELD-OUT model trained on `reference` (the CCNet deployment
    * shape — junk in the corpus cannot shape the model that filters
    * it; requires `surprisalBand`). Both run on the
    * clean corpus, before balancing — see the stage comments.
    * `balance = Some(Balance.Reweighted(...))` + `reweightTrain =
    * Some(reference)` makes the balancing stage compute its per-domain
    * quotas IN the pipeline from the held-out reweighter (DoReMi's
    * shape — each domain's doc budget ∝ its difficulty for the
    * reference-trained model), applied as hash-ordered prefix
    * selection; the two arguments are required together.
    *
    * Guard dials (the composed form of the per-operator ones, so a
    * 100 TB caller controls recall loss without unrolling the
    * pipeline): `maxBucket` is the hot-bucket cap for BOTH candidate
    * joins (lexical MinHash-LSH and semantic hyperplane-LSH);
    * `strictBuckets = true` makes an oversized bucket FAIL the job
    * instead of degrading to star candidates — fail-fast for callers
    * who would rather re-dial than silently narrow recall. After the
    * output is materialized, [[guardReport]] returns what each
    * guarded stage actually dropped/degraded.
    *
    * `instrument = true` adds a row-count observation at every stage
    * boundary ([[stageCounts]] reads them back after an action) — the
    * per-stage data-loss accounting a 100 TB run audits ("quality cut
    * 3%, dedup cut 38%, decontamination cut 0.1%"). Observations ride
    * `Dataset.observe` (accumulator-backed, zero extra jobs and no
    * extra shuffle); default off so the uninstrumented plan is
    * byte-identical to previous rounds. */
  def prepare(docs: DataFrame, budget: Long = 2048L,
      jaccardThreshold: Double = 0.8, trainPct: Int = 95,
      benchmark: Option[DataFrame] = None,
      decontaminateNgram: Int = 13,
      spanWords: Int = 10,
      embeddings: Option[DataFrame] = None,
      semanticThreshold: Double = 0.97,
      embeddingDim: Int = 64,
      domainQuota: Option[(String, Int)] = None,
      balance: Option[Balance] = None,
      winnowEval: Option[DataFrame] = None,
      winnowMinShared: Int = 2,
      surprisalBand: Option[(Int, Int)] = None,
      bandTrain: Option[DataFrame] = None,
      reweightTrain: Option[DataFrame] = None,
      maxBucket: Int = HotBuckets.DefaultCap,
      strictBuckets: Boolean = false,
      instrument: Boolean = false): DataFrame = {
    require(bandTrain.isEmpty || surprisalBand.nonEmpty,
      "bandTrain supplies the band stage's reference corpus — passing " +
        "it without surprisalBand would silently score nothing")
    val wantsReweight =
      balance.exists(_.isInstanceOf[Balance.Reweighted])
    require(reweightTrain.isEmpty || wantsReweight,
      "reweightTrain supplies Balance.Reweighted's reference corpus — " +
        "passing it with any other balance mode would silently weight " +
        "nothing")
    require(!wantsReweight || reweightTrain.nonEmpty,
      "Balance.Reweighted computes quotas from a HELD-OUT model — pass " +
        "the reference corpus as reweightTrain (self-scored difficulty " +
        "is biased toward dominant domains; see domainReweight)")
    def marked(df: DataFrame, stage: String): DataFrame =
      if (instrument) mark(df, stage) else df
    // macro-stage boundary: materialize-and-TRUNCATE under the default
    // `local` policy (see [[StageCheckpointConf]] — the plan-depth cap
    // that keeps an 11-stage composition from shipping one 400 KB plan
    // to every AQE stage update), or the classic hydration pin under
    // `none` (full lineage, for plan-inspection callers). Every call
    // site below fans out over its input, so both policies execute the
    // upstream chain exactly once.
    val stagePolicy = docs.sparkSession.conf
      .get(StageCheckpointConf, "local")
    require(Set("local", "reliable", "none")(stagePolicy),
      s"$StageCheckpointConf must be 'local', 'reliable' or 'none', " +
        s"got $stagePolicy")
    // fail BEFORE any stage executes, not at the first boundary 40
    // minutes in: reliable checkpointing needs a checkpoint dir
    require(stagePolicy != "reliable" ||
        docs.sparkSession.sparkContext.getCheckpointDir.nonEmpty,
      s"$StageCheckpointConf=reliable needs a checkpoint dir — call " +
        "sparkContext.setCheckpointDir (HDFS/S3 on a cluster) first")
    // stage-level wall-clock accounting (off by default): under the
    // eager policies each boundary EXECUTES its macro-stage, so the
    // time spent inside stagePin IS that stage's cost (plus everything
    // lazy since the previous boundary) — the attribution a 100 TB
    // operator reads before re-dialing a 12-hour run. One log line per
    // boundary on stderr (explicit opt-in — and visible under any
    // session log level); `none` pins lazily, so timing
    // there measures only plan construction (documented, not hidden).
    val stageTiming = docs.sparkSession.conf
      .get("spark.graft.pipeline.stageTiming", "false").toBoolean
    def stagePin(df: DataFrame, label: String): DataFrame = {
      val t0 = System.nanoTime()
      val out = stagePolicy match {
        case "local"    => df.localCheckpoint(true)
        case "reliable" => df.checkpoint(true)
        case _          => graft.operators.Hydration.persist(df)
      }
      if (stageTiming) System.err.println(
        f"[pipeline-timing] stage boundary '$label' materialized in " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s (policy=$stagePolicy)")
      out
    }
    // construction-side attribution sibling of stagePin's boundary
    // lines: some stages run EAGER driver work at plan-BUILD time
    // (dedupCorpus's connected-components fold, the reweight quota
    // fold, packSequences' bounds/offsets) that no boundary line
    // covers — wrap those blocks so the stageTiming dial accounts for
    // the whole wall clock, not just the pins
    def segTimed[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val out = body
      if (stageTiming) System.err.println(
        f"[pipeline-timing] segment '$label' built in " +
          f"${(System.nanoTime() - t0) / 1e9}%.2f s")
      out
    }
    // 1. quality gate: drop empty/degenerate docs before paying for
    //    signatures (cheap projections first — the 100 TB ordering).
    //    Includes the Gopher-style 3-gram repetition rule (q63): docs
    //    that mostly repeat themselves are near-dup fodder AND bad
    //    training signal — cut them before the dedup stage pays for
    //    their signatures.
    // ONE floor, applied twice (at intake, and re-applied after the
    // span cut below) — a single constant so the two gates cannot
    // silently diverge under later tuning
    val MinTokens = 5
    val quality = TextFunctions.qualityMetrics(col("text")).toMap
    val nTok = TextFunctions.tokenCount(col("text"))
    val rep3 = lit(1.0) -
      size(TextFunctions.shingles(col("text"), 3)).cast("double") /
        (nTok - lit(2)).cast("double")
    val filtered = marked(marked(docs, "intake")
      .filter(nTok >= MinTokens &&
        quality("uniq_ratio") > 0.2 && quality("punct_ratio") < 0.5 &&
        rep3 <= 0.6), "quality")
    // 2. PII masking BEFORE anything derives features from the text:
    //    masked text is what dedup/packing must see, or two docs
    //    differing only in PII dedupe inconsistently (pure projection)
    val masked = filtered.withColumn("text",
      TextFunctions.maskPii(col("text")))
    // 3. span-level dedup BEFORE corpus dedup: it MUTATES text, which
    //    changes fingerprints and shingle signatures — running it
    //    after would dedup against stale features (the same ordering
    //    argument as mask-before-dedup above). Token counts are
    //    recomputed after the cut, and the stage-1 token floor
    //    RE-APPLIES: a doc cut down to 1-4 residual tokens is the same
    //    degenerate input the quality gate already rejects — without
    //    the re-check it would slip into packing just because its
    //    boilerplate was removed after the gate instead of before.
    val spanned =
      if (spanWords <= 0) masked
      else Dedup.dedupSpans(masked, spanWords)
    val counted = marked(spanned
      .withColumn("n_tokens", TextFunctions.tokenCount(col("text")))
      .filter(col("n_tokens") >= MinTokens), "span_floor")
    // 4. language ID (pure projection, on the final text)
    val langed = counted.withColumn("lang_pred",
      TextFunctions.langIdHeuristic(col("text")))
    // macro-stage boundary BEFORE corpus dedup (r20 optimization):
    // dedupCorpus consumes its input THREE times in one action (the
    // fingerprint keyed aggregate, the exact-keep semi-join's left
    // side, and the shingle projection), and without a boundary each
    // consumption re-executes the whole quality → mask → span-dedup
    // chain (~2 s per re-execution at sf0.1, measured; at 100 TB the
    // span-dedup chain is two corpus-scale shuffles re-paid per
    // consumer). Pinning the corpus once here makes every dedup-stage
    // consumer a block read — bit-identical rows (the boundary holds
    // exactly what the lazy plan computes, the stagePin contract).
    val pinnedCorpus = stagePin(langed, "corpus")
    // 5. corpus-level dedup: exact collapse + near-dup clusters, keep
    //    the canonical (min-id) survivor per cluster
    val deduped = marked(segTimed("corpus_dedup")(
      Dedup.dedupCorpus(pinnedCorpus, jaccardThreshold,
        maxBucket = maxBucket, strict = strictBuckets)), "corpus_dedup")
    // 6. semantic collapse (when embeddings are supplied): AFTER the
    //    text-level dedup — lexical clusters are already gone cheaply,
    //    the embedding pass only pays for the paraphrase-level
    //    remainder. Docs without an embedding row survive.
    // disabled stages are NOT marked: presence in stageCounts must
    // mean "this stage ran" — marking the pass-through would make
    // "ran and cut 0 rows" indistinguishable from "never ran", the
    // same ambiguity the per-tag guard retention exists to avoid
    val collapsed = embeddings.fold(deduped) { emb =>
      val sub = emb.join(deduped.select(col("doc_id")), Seq("doc_id"),
        "left_semi")
      val kept = graft.operators.Similarity.semanticCollapse(
        sub, semanticThreshold, embeddingDim, idCol = "doc_id",
        maxBucket = maxBucket, strict = strictBuckets)
      val drop = sub.select(col("doc_id"))
        .join(kept.select(col("doc_id")), Seq("doc_id"), "left_anti")
      marked(deduped.join(drop, Seq("doc_id"), "left_anti"),
        "semantic_collapse")
    }
    // 7. benchmark decontamination (when an eval set is supplied):
    //    AFTER every dedup stage — the corpus is smallest here, and a
    //    contaminated cluster survivor must drop even if its
    //    duplicates already did
    val cleaned = benchmark.fold(collapsed)(b =>
      marked(Dedup.decontaminate(collapsed, b, decontaminateNgram),
        "decontaminate"))
    // 7b. winnowing decontamination (when `winnowEval` is set): the
    //     fingerprint-overlap complement to the exact-gram stage —
    //     catches REORDERED/partial eval copies exact grams miss. It
    //     compares the candidate text AS IT WILL TRAIN (masked,
    //     span-cut) against the eval set AS IT IS, and runs after
    //     every dedup stage for the same reason decontaminate does
    //     (a contaminated cluster survivor must drop even if its
    //     duplicates already did).
    // both new stages FAN OUT over their input (fingerprint pass +
    // anti-join; LM train + score + join-back) — without a boundary
    // each consumer would recompute the whole upstream chain
    // (quality → mask → span → LSH dedup), measured ~4× the composed
    // pipeline's cost; stagePin holds the CLEAN corpus once and (under
    // `local`) caps the plan every downstream action carries
    val winnowed = winnowEval.fold(cleaned) { ev =>
      val pinned = stagePin(cleaned, "clean")
      val flagged = graft.operators.Winnowing
        .evalOverlap(pinned, ev, minShared = winnowMinShared)
        .select(col("doc_id"))
      marked(pinned.join(flagged, Seq("doc_id"), "left_anti"),
        "winnow_decontaminate")
    }
    // 7c. perplexity band filter (when `surprisalBand` is set): the
    //     LM-based quality gate, per lang_pred group — after
    //     decontamination so eval leakage cannot shape the model,
    //     before balancing so quotas count docs that will actually
    //     train. Every doc here carries ≥ MinTokens tokens (the
    //     stage-1/3 floor), so every doc has bigrams and is ranked —
    //     the band can only cut tails, never silently drop short docs.
    //     SCORING MODE: self-scored on the clean corpus by default;
    //     `bandTrain = Some(reference)` switches to the HELD-OUT model
    //     (the full CCNet deployment — [[graft.operators.LanguageModel
    //     .surprisalBandFilterHeldOut]]): band edges then come from how
    //     the REFERENCE corpus's LM ranks the candidates, so corpus
    //     junk cannot make itself predictable to the model that
    //     filters it (a mass of self-consistent gibberish scores LOW
    //     self-scored — its own bigrams train the model — but lands in
    //     the OOV tail held-out; TrainingPipelineSpec plants exactly
    //     that). The reference passes through UNTOUCHED by the
    //     pipeline's mutations (mask/span-cut run on the candidates
    //     only): the reference is curated ground truth, not cleanup
    //     input.
    // Share the held-out scoring between the band stage and the
    // reweighted balancing when BOTH score with a model trained on the
    // SAME reference corpus (sameSemantics — q151's deployment shape):
    // per-doc surprisal scores are row-independent, so scoring the
    // winnow-clean corpus ONCE and restricting the pinned frame to the
    // band survivors is bit-identical to re-training the model and
    // re-scoring the survivors in the balancing stage — which is what
    // the unshared path paid (the model-train subtree and the
    // candidate bigram scoring executed TWICE, in different actions,
    // where no exchange reuse can span; measured ~2 s of q151's floor
    // at sf0.1). The scored frame is one row per doc — stagePin-scale.
    val shareHeldOutScores = surprisalBand.nonEmpty &&
      bandTrain.nonEmpty && reweightTrain.nonEmpty &&
      bandTrain.get.sameSemantics(reweightTrain.get)
    val (banded, heldOutScores) = surprisalBand match {
      case None => (winnowed, None)
      case Some((lo, hi)) =>
        val pinned = stagePin(winnowed, "winnow_clean")
        val (kept, scores) = bandTrain match {
          case None =>
            (graft.operators.LanguageModel.surprisalBandFilter(
              pinned, groupCol = "lang_pred", lowPct = lo,
              highPct = hi), None)
          case Some(train) if shareHeldOutScores =>
            val scored = stagePin(graft.operators.LanguageModel
              .bigramSurprisalHeldOut(train, pinned), "heldout_scores")
            (graft.operators.LanguageModel.bandFromScores(scored,
              pinned, groupCol = "lang_pred", lowPct = lo,
              highPct = hi), Some(scored))
          case Some(train) =>
            (graft.operators.LanguageModel.surprisalBandFilterHeldOut(
              train, pinned, groupCol = "lang_pred", lowPct = lo,
              highPct = hi), None)
        }
        (marked(pinned.join(kept.select(col("doc_id")), Seq("doc_id"),
          "left_semi"), "surprisal_band"), scores)
    }
    // 8. per-domain balancing (when `domainQuota` or `balance` is
    //    set): balance the CLEAN corpus — after every
    //    dedup/decontamination stage so selection counts surviving
    //    documents (capping before dedup would under-fill domains
    //    whose sample then deduped away), before packing so packs are
    //    built from the balanced set. All three selection modes ride
    //    the same bounded-aggregate no-window plan — a dominant
    //    domain never serializes into one task.
    require(domainQuota.isEmpty || balance.isEmpty,
      "pass either domainQuota (quota shorthand) or balance, not both")
    val balanceMode = balance.orElse(
      domainQuota.map { case (key, n) => Balance.Quota(key, n) })
    val balanced = balanceMode.fold(banded) {
      case Balance.Quota(key, n) =>
        marked(Sampling.quotaPerKey(banded, key, "doc_id", n),
          "domain_quota")
      case Balance.TopK(key, scoreCol, n) =>
        marked(Sampling.topKPerKey(banded, key, "doc_id", scoreCol, n),
          "domain_topk")
      case Balance.Weighted(key, weightCol, n) =>
        marked(Sampling.weightedSamplePerKey(banded, key, "doc_id",
          weightCol, n), "domain_weighted")
      // 8b. held-out reweighted quotas (Balance.Reweighted +
      //     reweightTrain): per-domain quotas come from how hard each
      //     domain's SURVIVING text (masked, span-cut, deduped,
      //     decontaminated, banded) is for the reference-trained
      //     model — DoReMi's shape composed into the chain. Scoring
      //     the banded corpus (not the raw intake) is deliberate:
      //     quotas must weight the docs that will actually train.
      //     The reweighter + the selection + the semi-join all fan
      //     out over the banded chain, and apportion's shard folds
      //     are EAGER at plan-build time — boundary-pinned like the
      //     band stage's input (same stagePin policy).
      case Balance.Reweighted(key, budget, maxQ, scale) =>
        val pinned = stagePin(banded, "banded")
        // reuse the band stage's pinned per-doc scores when they came
        // from the same reference model (see shareHeldOutScores above)
        val quotaPlan = segTimed("reweight_weight_fold")(
          heldOutScores.fold(
            graft.operators.LanguageModel.domainReweightHeldOut(
              reweightTrain.get, pinned, groupCol = key,
              budget = budget, scale = scale))(scored =>
            graft.operators.LanguageModel.domainReweightFromScores(
              scored, pinned, groupCol = key, budget = budget,
              scale = scale))
          .select(col(key), col("quota")))
        // quotas is keys-scale (one row per domain) and apportion has
        // already driver-folded its remainder ranks, yet its PLAN
        // carries the whole reweight DAG (LM scoring, model joins,
        // apportion windows). Downstream, quotaPerKeyFrom broadcasts
        // the frame and packSequences' documented three consumers each
        // re-execute the selection plan — measured fully-CACHED: the
        // quota subtree cost ~1.4 s PER ACTION in AQE stage scheduling
        // alone (dozens of sequential query stages over 20 rows), ~7 s
        // of pure overhead across the composition. Materializing the
        // keys-scale rows as a LOCAL relation (the same driver-bounded
        // class as apportion's own shard fold, and no more than the
        // broadcast downstream already ships) cuts every later action
        // to a literal scan. Bit-identical: the rows ARE the quota
        // frame; only the plan depth changes.
        val quotas = segTimed("reweight_quota_fold")(
          pinned.sparkSession.createDataFrame(
            java.util.Arrays.asList(quotaPlan.collect(): _*),
            quotaPlan.schema))
        marked(Sampling.quotaPerKeyFrom(pinned, key, "doc_id", quotas,
          maxQ), "domain_reweighted")
    }
    // 9. sequence packing into context windows (two-level prefix sum).
    //    packSequences consumes its input THREE times (bounds, shard
    //    offsets, final plan — its documented cost contract); pinned
    //    here because THIS caller's input is the whole expensive
    //    quality→mask→span→dedup chain — unpinned it re-executed 3×
    //    per job (measured: composed 16× 67.1 → 34.6 s, q83 floor
    //    10.29 → 8.04 s). Under the default `local` policy this is
    //    ALSO the boundary that keeps the RETURNED frame's plan at
    //    pack+split depth instead of the whole chain's.
    val packed = segTimed("pack")(
      Sampling.packSequences(stagePin(balanced, "balanced"),
        "n_tokens", "doc_id", budget))
    // 10. deterministic split — stable under repartitioning and retries
    marked(packed.withColumn("split",
      when(Sampling.portableBucket(col("doc_id"), 100) < trainPct,
        lit("train")).otherwise(lit("test"))), "output")
  }

  /** Stage labels [[prepare]] observes when `instrument = true`, in
    * pipeline order (PURE projections — PII masking, language ID —
    * never change row counts, so they carry no label of their own:
    * `quality` counts what survived the intake gates, `span_floor`
    * what survived the post-span-cut token re-floor, and each dedup
    * stage what it kept). Stages a run disables are NOT observed —
    * in [[stageCounts]], presence means the stage ran. One nuance:
    * `span_floor` is the token RE-FLOOR, which runs in every
    * configuration (PII masking alone can change token counts) — its
    * presence does NOT imply the span CUT ran; `spanWords <= 0`
    * disables only the cut, never the floor. */
  val Stages: Seq[String] = Seq("intake", "quality", "span_floor",
    "corpus_dedup", "semantic_collapse", "decontaminate",
    "winnow_decontaminate", "surprisal_band", "domain_quota",
    "domain_topk", "domain_weighted", "domain_reweighted", "output")

  // ---- per-stage row accounting (instrument = true) ----------------
  // Dataset.observe metrics harvested by a QueryExecutionListener into
  // the shared session-scoped latest-per-key store (the same
  // [[graft.operators.ObservationStore]] retention HotBuckets uses —
  // only a same-stage completion supersedes an entry).
  private val stageSeq = new java.util.concurrent.atomic.AtomicLong()
  private val stageListeners = new graft.operators.ListenerOnce
  private val stageStore = new graft.operators.ObservationStore[Long]()

  private def mark(df: DataFrame, stage: String): DataFrame = {
    ensureStageListener(df.sparkSession)
    df.observe(s"graft_pipeline/$stage/${stageSeq.incrementAndGet()}",
      count(lit(1)).as("rows"))
  }

  private def ensureStageListener(spark: SparkSession): Unit =
    stageListeners.ensure(spark)(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            if (name.startsWith("graft_pipeline/"))
              name.split('/').lift(1).foreach(stage =>
                stageStore.record(qe.sparkSession, stage,
                  row.getAs[Long]("rows")))
          }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })

  /** Latest per-stage row counts in `spark`, in [[Stages]] order. A
    * stage is PRESENT iff an instrumented query observing it has
    * completed in this session: runs never instrumented, stages a run
    * disables (no `benchmark` → no `decontaminate` observation, no
    * `embeddings` → no `semantic_collapse`), and not-yet-materialized
    * plans leave no entry. Retention is session-lifetime and
    * latest-per-stage — after SEVERAL instrumented runs the map mixes
    * each stage's most recent completion, so read it right after the
    * action you mean to audit. Observations fire on query COMPLETION
    * via an ASYNC listener bus: poll briefly (the in-repo specs and
    * [[main]] do) rather than reading at the first instant an action
    * returns.
    *
    * PRODUCTION NOTE: the bounded poll loop in [[main]] is demo-main
    * ergonomics, not a pattern for services — a long-running service
    * should register its OWN `QueryExecutionListener`
    * (`spark.listenerManager.register`) and consume
    * `qe.observedMetrics` in the `onSuccess` callback (metric names
    * are `graft_pipeline/<stage>/<seq>`), getting push-driven
    * completion instead of wall-clock polling; streaming jobs get the
    * same via `StreamingQueryListener` progress events. */
  def stageCounts(spark: SparkSession = SparkSession.active)
      : Seq[(String, Long)] =
    Stages.flatMap(s => stageStore.latest(spark, s).map(s -> _))

  /** Call-site tags of [[prepare]]'s hot-bucket-guarded stages — the
    * public names a caller passes to
    * [[graft.operators.HotBuckets.lastObservation]] (previously
    * internal knowledge). */
  val GuardTags: Map[String, String] = Map(
    "corpus_dedup" -> "minhash_lsh",
    "semantic_collapse" -> "hyperplane_lsh")

  /** Per-stage hot-bucket guard observations: stage →
    * `Some((affectedRows, maxBucketSize))` once a query exercising
    * that stage's guard has completed in this SESSION (0 affected =
    * ran clean), `None` if none ever has. Attribution caveats a
    * caller must know: the underlying tags are the OPERATORS'
    * call-site tags, so a direct `dedupCorpus`/`lshNearDupPairs` call
    * in the same session reports under the same stage name, and after
    * several runs each slot holds its most recent completion — this
    * is session-lifetime accounting, not per-`prepare` bookkeeping.
    * Read it right after the action you mean to audit (observations
    * fire on query COMPLETION via an async listener bus — poll
    * briefly, as [[main]] and the specs do). A `strictBuckets = true`
    * run that FAILS leaves no observation at all (metrics fire only
    * on success), so after a caught strict failure this report shows
    * the last SUCCESSFUL same-stage run — diagnose the strict failure
    * from the exception message, which names the oversized bucket's
    * size, cap, and keys. Services: prefer a registered listener
    * callback over polling this accessor (see the production note on
    * [[stageCounts]]). */
  def guardReport(spark: SparkSession = SparkSession.active)
      : Map[String, Option[(Long, Long)]] =
    GuardTags.map { case (stage, tag) =>
      stage -> HotBuckets.lastObservation(tag, spark)
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = Harness.session()
    val out = prepare(Tables.documents(spark, sfDir), instrument = true)
    out.write.mode("overwrite")
      .partitionBy("split")
      .parquet(outDir)
    val stats = spark.read.parquet(outDir)
      .groupBy("split")
      .agg(count(lit(1)).as("docs"),
        countDistinct(col("pack_id")).as("packs"),
        sum(col("n_tokens")).as("tokens"))
      .collect()
    stats.foreach(r => println(
      s"""{"split":"${r.getString(0)}","docs":${r.getLong(1)},""" +
        s""""packs":${r.getLong(2)},"tokens":${r.getLong(3)}}"""))
    // stage accounting: rows surviving each boundary of the write
    // above (intake → … → output), the per-stage data-loss audit.
    // Observations arrive on the ASYNC listener bus after the action
    // returns — poll for the stages this run enabled (no benchmark /
    // embeddings → no decontaminate / semantic_collapse) instead of
    // racing the bus and printing a partial or empty audit.
    val expectedStages =
      Set("intake", "quality", "span_floor", "corpus_dedup", "output")
    val deadline = System.currentTimeMillis + 10000
    while ((stageCounts(spark).map(_._1).toSet != expectedStages ||
          guardReport(spark)("corpus_dedup").isEmpty) &&
        System.currentTimeMillis < deadline)
      Thread.sleep(50)
    stageCounts(spark).foreach { case (stage, rows) =>
      println(s"""{"stage":"$stage","rows":$rows}""")
    }
    // recall accounting: what each guarded stage dropped/degraded in
    // the run above — 0 affected = clean; absent = stage not run
    guardReport(spark).foreach {
      case (stage, Some((affected, top))) => println(
        s"""{"guard":"$stage","affected_rows":$affected,"max_bucket":$top}""")
      case (stage, None) => println(s"""{"guard":"$stage","ran":false}""")
    }
    spark.stop()
  }
}
