package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded near-duplicate amplification of a documents table (the
  * ScaleBench copy scheme): copy 0 keeps the text, copies 1.. append a
  * suffix word drawn from the seed, so copies are near-duplicates of
  * each other but differ per seed. A seeded 10% of the amplified
  * documents is held out as the reference corpus. */
object AmplifiedCorpus {
  val Factor = 4
  val HeldOutPct = 10

  def write(spark: SparkSession, base: String, seed: Long,
      out: java.nio.file.Path): Unit = {
    val docs = spark.read.parquet(base)
    val amplified = docs
      .withColumn("copy", explode(sequence(lit(0), lit(Factor - 1))))
      .select(
        (col("doc_id") * Factor + col("copy")).as("doc_id"),
        when(col("copy") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" "),
            conv(abs(xxhash64(lit(seed), col("doc_id"), col("copy")))
              .cast("string"), 10, 36))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    val heldOut = pmod(xxhash64(lit(seed), col("doc_id")), lit(100)) <
      HeldOutPct
    amplified.filter(!heldOut).write.mode("overwrite")
      .parquet(out.resolve("corpus").toString)
    amplified.filter(heldOut).write.mode("overwrite")
      .parquet(out.resolve("heldout").toString)
  }
}

/** The `TrainingPipeline`, `operators` and `functions` layers, read in
  * the query suite's traced run: `TrainingPipeline.prepare` with
  * q151's composition (span dedup, MinHash corpus dedup at J >= 0.5,
  * winnow decontamination against the held-out split, held-out
  * surprisal band 5-95, held-out domain reweighting) over the seeded
  * 4x amplification of the sf0.01 documents, then each operator of
  * that composition called alone on the same input.
  *
  * prepare runs twice, plain and instrumented; both outputs are
  * collected in full and must pass the invariants and share one
  * digest. */
final class PipelineLayers(cfg: Config, spark: SparkSession) {
  private val out = cfg.work.resolve(s"corpus-${cfg.seed}")
  AmplifiedCorpus.write(spark,
    cfg.data.resolve("sf0.01").resolve("documents.parquet").toString,
    cfg.seed, out)
  private val corpus = spark.read.parquet(out.resolve("corpus").toString)
  private val heldOut = spark.read.parquet(out.resolve("heldout").toString)
  private val corpusIds =
    corpus.select("doc_id").collect().map(_.getLong(0)).toSet
  private val heldOutIds =
    heldOut.select("doc_id").collect().map(_.getLong(0)).toSet

  private def prepare(instrument: Boolean): Array[Row] =
    Trace.span(spark, "TrainingPipeline", "TrainingPipeline.prepare") {
      graft.TrainingPipeline.prepare(corpus,
        budget = 2048L,
        jaccardThreshold = 0.5,
        trainPct = 95,
        spanWords = 10,
        balance = Some(graft.Balance.Reweighted("source",
          budget = 150L, maxQuota = 150)),
        winnowEval = Some(heldOut),
        surprisalBand = Some((5, 95)),
        bandTrain = Some(heldOut),
        reweightTrain = Some(heldOut),
        instrument = instrument).collect()
    }

  /** Output ids are corpus ids, none held out, each once; `split` is
    * train or test; no pack holds more than the 2048-token budget. */
  private def valid(rows: Array[Row]): Boolean = rows.nonEmpty && {
    val f = rows.head.schema.fieldNames
    val (id, split, pack, tokens) = (f.indexOf("doc_id"),
      f.indexOf("split"), f.indexOf("pack_id"), f.indexOf("n_tokens"))
    val ids = rows.map(_.getLong(id))
    val perPack = mutable.Map.empty[Any, Long].withDefaultValue(0L)
    rows.foreach(r => perPack(r.get(pack)) += r.getAs[Number](tokens).longValue)
    ids.forall(corpusIds) && !ids.exists(heldOutIds) &&
      ids.distinct.length == ids.length &&
      rows.forall(r => Set("train", "test")(r.getString(split))) &&
      perPack.values.forall(_ <= 2048L)
  }

  /** Consume a frame in full without collecting it: row count and a
    * hash over every column. */
  private def consume(df: DataFrame): Long =
    df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(col): _*)))
      .head().getLong(0)

  /** The layer metrics, the two prepare calls as (attempted, failed),
    * and the output digest. */
  def run(): (Map[String, Double], (Long, Long), String) = {
    val plain = prepare(instrument = false)
    val instrumented = prepare(instrument = true)
    val digest = Digest.of(plain)
    val failed = Seq(plain, instrumented).count(rows =>
      !valid(rows) || Digest.of(rows) != digest)
    if (failed > 0) System.err.println(
      "[perfbench] a prepare call failed its invariants or digest")
    val stages = pollStages()
    val guard = graft.TrainingPipeline.guardReport(spark)
      .get("corpus_dedup").flatten.map(_._1.toDouble).getOrElse(0.0)
    def op(name: String)(df: => DataFrame): (String, Double) = {
      val t0 = System.nanoTime()
      Trace.span(spark, "operators", name)(consume(df))
      s"operators.${name}_s" -> Steal.since(t0)
    }
    import graft.operators._
    val withTokens = corpus.withColumn("n_tokens",
      size(split(col("text"), " ")).cast("long"))
    val ops = Seq(
      op("dedup_spans")(Dedup.dedupSpans(corpus, 10)),
      op("dedup_corpus")(Dedup.dedupCorpus(corpus, 0.5)),
      op("eval_overlap")(Winnowing.evalOverlap(corpus, heldOut, minShared = 2)),
      op("band_heldout")(LanguageModel.surprisalBandFilterHeldOut(
        heldOut, corpus, "lang", 5, 95)),
      op("reweight_heldout")(LanguageModel.domainReweightHeldOut(
        heldOut, corpus, "source", 150L)),
      op("pack")(Sampling.packSequences(withTokens, "n_tokens", "doc_id",
        2048L)))
    val intake = stages.getOrElse("intake", 0L).toDouble
    val metrics = ops.toMap ++
      stages.map { case (s, n) => s"TrainingPipeline.rows.$s" -> n.toDouble } ++
      Map("TrainingPipeline.keep_frac" ->
          stages.getOrElse("output", 0L) / math.max(intake, 1.0),
        "TrainingPipeline.guard_affected_rows" -> guard)
    (metrics, (2L, failed.toLong), digest)
  }

  /** Stage row counts of the instrumented call; they arrive on the
    * listener bus, so wait until every stage of this configuration is
    * in. */
  private def pollStages(): Map[String, Long] = {
    val deadline = System.currentTimeMillis + 10000
    var got = graft.TrainingPipeline.stageCounts(spark).toMap
    while (!PipelineLayers.Stages.forall(got.contains) &&
        System.currentTimeMillis < deadline) {
      Thread.sleep(50)
      got = graft.TrainingPipeline.stageCounts(spark).toMap
    }
    got
  }
}

object PipelineLayers {
  /** The stages q151's configuration runs (no exact-gram benchmark, no
    * embeddings). */
  val Stages: Seq[String] = Seq("intake", "quality", "span_floor",
    "corpus_dedup", "winnow_decontaminate", "surprisal_band",
    "domain_reweighted", "output")
}
