package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints TWO `"metric":"total"` JSON lines
  * for the driver (BENCH_r{N}.json): first the full line (queries /
  * mins / samples / failures), then a ≤200-byte compact summary that
  * a tail-truncated capture can still parse whole. A jsonl consumer
  * must key on the LAST total line (or the presence of `queries`),
  * not sum over all of them. The full line is ALSO written to
  * `SPARK_GRAFT_BENCH_OUT` (default `BENCH_full_latest.json` in the
  * working dir, `BENCH_floor_latest.json` for a floor run, so an
  * ordinary run never overwrites the committed floor) so the complete
  * per-query medians/mins/samples maps survive the capture's tail
  * truncation; the file copy also carries `commit` (`git rev-parse
  * HEAD`, null outside a checkout). A warm-up pass (table counts + one tiny query)
  * runs first so per-query numbers measure steady-state execution,
  * not JVM/codegen/file-index warm-up — whichever query ran first was
  * otherwise charged ~4 s of session startup. Each query is then timed
  * over SPARK_GRAFT_BENCH_PASSES (default 3) interleaved passes and
  * the per-query MEDIAN is reported — single cache-cleared runs on a
  * shared 32-core box showed up to 7× run-to-run noise at sub-second
  * query times. Both lines carry `floor_run` (true when
  * SPARK_GRAFT_FLOOR_RUN=1 marks a dedicated low-load round-close
  * measurement) so committed artifacts are self-describing — the
  * hot-pass-vs-floor distinction no longer lives only in BASELINE.md
  * prose.
  *
  * Outlier self-attribution (r17 verdict): any sample > 3× its
  * query's min (and > 1 s over it) is recorded with the 1-min system
  * loadavg at query start and the JVM GC seconds it accrued, and the
  * query is re-run once post-suite (up to SPARK_GRAFT_BENCH_RETRIES,
  * worst first). The full line's `outliers` map carries the evidence;
  * `confirmed:false` means the retry landed back at the min — an
  * environmental spike, not a plan regression. The compact line
  * carries only `outliers_confirmed` (0 = every spike refuted).
  */
object Bench {

  /** Where the full line is persisted: floor runs get their own file. */
  private[graft] def artifactFile(floorRun: Boolean): String =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (floorRun) "BENCH_floor_latest.json" else "BENCH_full_latest.json")

  /** `git rev-parse HEAD` of the working dir; None outside a checkout. */
  private[graft] def headCommit(): Option[String] =
    scala.util.Try(scala.sys.process.Process(Seq("git", "rev-parse", "HEAD"))
      .!!(scala.sys.process.ProcessLogger(_ => ())).trim).toOption
      .filter(_.matches("[0-9a-f]{40}"))

  /** The persisted copy of the full line: the same object plus the
    * `commit` it measured (the stdout lines stay unstamped). */
  private[graft] def stamped(fullLine: String, commit: Option[String]): String =
    fullLine.stripSuffix("}") + ",\"commit\":" +
      commit.fold("null")("\"" + _ + "\"") + "}"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Deep composed plans + AQE stall the DRIVER without this: every
      // AQE stage completion posts a SQL-UI plan update whose string
      // the driver renders AND regex-redacts in full — measured at the
      // 64x octave: 30+ min at ~1 core in generateTreeString/redact
      // before the first row printed (same lesson on a 1000-executor
      // cluster: the driver, not the executors, was the bottleneck).
      // 32 KB keeps plan strings debuggable and bounds the per-update
      // rendering cost.
      .config("spark.sql.maxPlanStringLength", "32768")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warm-up: file indexes + codegen/JIT paths (events needs its
    // dedicated loader — raw read trips on the NANOS timestamp)
    try {
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings")
        .foreach(t => Tables.table(spark, sfDir, t).count())
      Tables.events(spark, sfDir).count()
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] warm-up failed: ${e.getMessage}")
    }
    // full-surface JIT/codegen warm-up at the SMALLEST SF (r20): the
    // previous warm-up ran only q01, so pass 1 of the suite carried
    // every query's first-run JIT/codegen/Janino cost — measured
    // ~150 s of pass-1 inflation at sf0.1/32 cpus (q119's pass 1 ran
    // 27 s vs its 3 s steady state). One untimed sf0.001 sweep
    // (~60-90 s) absorbs that, so the TIMED passes measure
    // steady-state execution — the stated purpose of the warm-up;
    // the timed methodology (interleaved passes at sfDir, per-query
    // median + min) is unchanged. Warm-up failures are per-query and
    // non-fatal: the timed pass still reports them as its own
    // failures with full attribution.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    val onlyW = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSeq)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => onlyW.forall(_.exists(name.contains)) }
      .foreach { case (name, fn) =>
        try fn(spark, warmDir).count()
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[bench] warm-up $name failed: ${e.getMessage}")
        }
        spark.catalog.clearCache()
      }

    // Per-query median of N interleaved passes: pass 1 runs q01..q61,
    // then pass 2 runs q01..q61 again, etc. Interleaving (rather than
    // back-to-back repeats) spreads transient machine load across all
    // queries instead of concentrating it on whichever query was
    // unlucky — single cache-cleared runs produced phantom 3-7×
    // regressions on this shared box (see BASELINE.md variance notes).
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    // local-iteration filter (same contract as Verify's): comma-separated
    // name substrings; unset — the driver's case — benches everything
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSeq)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val failures = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    // per-sample machine attribution (r17 verdict: in-suite spikes —
    // q143 at 13× its floor — had to be adjudicated by hand from pass
    // clustering; the bench itself should carry the evidence). For
    // every sample we record the 1-min system loadavg at query START
    // (other processes on the shared box) and the JVM-wide GC time the
    // query's span accrued (local-mode: driver and executors are ONE
    // JVM, so this IS the query's GC bill). Emitted only for outlier
    // samples — 154 queries × passes of always-on attribution would
    // bloat the artifact for numbers nobody reads.
    val osBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
    def gcSeconds: Double = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum / 1e3
    }
    val attrib = scala.collection.mutable
      .Map.empty[String, List[(Double, Double)]].withDefaultValue(Nil)
    def timed(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        name: String): (Boolean, Double, Double, Double) = {
      val load = osBean.getSystemLoadAverage
      val gc0 = gcSeconds
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
      val elapsed = (System.nanoTime() - t0) / 1e9
      (ok, elapsed, load, gcSeconds - gc0)
    }
    for (_ <- 1 to passes; (name, fn) <- names) {
      val (ok, elapsed, load, gc) = timed(fn, name)
      // untimed: drop caches a query built (e.g. the shingle projection)
      // so accumulated storage pressure can't skew later measurements
      spark.catalog.clearCache()
      attrib(name) = (load, gc) :: attrib(name)
      // a failed pass must NOT enter the timing stats: a query that
      // dies in 0.05 s would otherwise report a tiny min and read as a
      // 50× improvement — the exact misread the min metric exists to
      // prevent. The samples array keeps a -1 PLACEHOLDER in the
      // failed slot (so sample N still aligns with pass N across
      // queries — the field's documented use), failures are counted
      // per query, and a query with zero successful passes reports -1
      // in queries/mins (unmissable) while contributing NOTHING to the
      // totals (summing the sentinel would make a fully-broken query
      // read as a 6 s total improvement).
      samples(name) = (if (ok) elapsed else -1.0) :: samples(name)
      if (!ok) failures(name) += 1
    }
    def good(xs: List[Double]): List[Double] = xs.filter(_ >= 0)
    def median(xs: List[Double]): Double = good(xs) match {
      case Nil => -1.0
      case g =>
        val s = g.sorted
        if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val results = names.map { case (name, _) => name -> median(samples(name)) }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-pass samples alongside the medians: medians absorb transient
    // machine load, but a real regression and a noisy pass are
    // indistinguishable from a single number — the raw passes let a
    // reader adjudicate (samples are in pass order, pass 1 first;
    // -1 marks a failed pass, holding its slot so alignment survives)
    val raw = names.map { case (name, _) =>
      "\"" + name + "\":" + samples(name).reverse.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // per-query MIN as a first-class scalar: on a shared box the min
    // pass is the steady-state number (load only ever ADDS time), so
    // round-over-round comparisons should read mins — medians answer
    // "what did this run cost", mins answer "did the plan regress"
    def minOr(xs: List[Double]): Double = good(xs) match {
      case Nil => -1.0
      case g => g.min
    }
    val mins = names.map { case (name, _) =>
      "\"" + name + "\":" + minOr(samples(name))
    }.mkString("{", ",", "}")
    // ---- outlier self-attribution (r17 verdict task #1). A sample is
    // an OUTLIER when it ran > 3× the query's own min in the same run
    // AND > 1 s over it (the absolute guard keeps sub-second queries'
    // scheduler jitter out). Each outlier query is re-run ONCE after
    // the suite (cache-cleared, attribution recorded): a retry back
    // near the min refutes the spike (environmental — load burst, GC
    // wall, pass-cluster contention, all visible in the recorded
    // loadavg/gc numbers); a retry still past the gate CONFIRMS a
    // reproducible slowdown worth a diff hunt. Retries are capped
    // (worst ratio first) so a pathological round cannot double the
    // bench's runtime; attribution rides the full line only.
    def isOutlier(sec: Double, mn: Double): Boolean =
      mn >= 0 && sec > 3 * mn && sec > mn + 1.0
    val retryCap = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRIES", "12").toInt
    val outlierQs = names.flatMap { case (name, fn) =>
      val mn = minOr(samples(name))
      val evs = samples(name).reverse.zip(attrib(name).reverse).zipWithIndex
        .collect { case ((sec, (load, gc)), idx)
            if isOutlier(sec, mn) =>
          (idx + 1, sec, load, gc)
        }
      if (evs.isEmpty) None
      else Some((name, fn, mn, evs, evs.map(_._2 / mn).max))
    }.sortBy(-_._5).take(retryCap)
    var outliersConfirmed = 0
    val outliersJson = outlierQs.map { case (name, fn, mn, evs, _) =>
      val (rOk, rSec, rLoad, rGc) = timed(fn, name)
      spark.catalog.clearCache()
      // a retry that FAILS outright cannot refute the spike — count it
      // confirmed so the round's consumer looks at the query either way
      val confirmed = !rOk || isOutlier(rSec, mn)
      if (confirmed) outliersConfirmed += 1
      val evJson = evs.map { case (pass, sec, load, gc) =>
        f"""{"pass":$pass,"sec":$sec%.2f,"loadavg":$load%.1f,"gc_sec":$gc%.2f}"""
      }.mkString("[", ",", "]")
      "\"" + name + "\":" +
        f"""{"min":$mn%.2f,"events":$evJson,"retry_sec":$rSec%.2f,""" +
        f""""retry_loadavg":$rLoad%.1f,"retry_gc_sec":$rGc%.2f,""" +
        s""""confirmed":$confirmed}"""
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val totalMin = names
      .map { case (name, _) => minOr(samples(name)) }.filter(_ >= 0).sum
    val failed = failures.toSeq.sortBy(_._1)
      .map { case (k, n) => "\"" + k + "\":" + n }.mkString("{", ",", "}")
    // self-invalidating totals: the headline total EXCLUDES queries
    // whose passes all failed, so a round where a query newly breaks
    // would otherwise report a SMALLER total that reads as an
    // improvement to anyone diffing `value` alone. When any query has
    // zero successful passes the totals go null — a diff consumer
    // breaks loudly instead of celebrating a regression — and the
    // top-level counts make partial failures visible without opening
    // the failures map.
    val broken = names.count { case (name, _) => good(samples(name)).isEmpty }
    val failedPasses = failures.values.sum
    val totalJson = if (broken > 0) "null" else total.toString
    val totalMinJson = if (broken > 0) "null" else totalMin.toString
    // self-describing run context (r15 judge nit #1): a reader diffing
    // committed bench artifacts round-over-round must not need BASELINE
    // prose to know whether a number is the dedicated low-load FLOOR
    // run (builder sets SPARK_GRAFT_FLOOR_RUN=1 for the round-close
    // measurement) or an ordinary hot pass sharing the box with the
    // build. `run_note` carries a free-form load annotation.
    val floorRun = sys.env.get("SPARK_GRAFT_FLOOR_RUN")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))
    // control chars (a newline/tab pasted into the env var) would
    // break the one-line JSON contract the driver's tail capture and
    // BENCH_full_latest.json consumers parse — flatten them to spaces
    // AFTER the quote/backslash escapes (order is load-bearing: the
    // escapes introduce no control chars, and escaping after
    // flattening would be equivalent; flattening must simply not be
    // skippable)
    val runNote = sys.env.getOrElse("SPARK_GRAFT_RUN_NOTE", "")
      .replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\x00-\\x1f]", " ")
    val ctx = s""""floor_run":$floorRun,"run_note":"$runNote","passes":$passes"""
    val fullLine = s"""{"metric":"total","value":$totalJson,"unit":"sec","value_min":$totalMinJson,$ctx,"queries_failed":$broken,"failed_passes":$failedPasses,"outlier_queries":${outlierQs.size},"outliers_confirmed":$outliersConfirmed,"outliers":$outliersJson,"queries":$qs,"mins":$mins,"samples":$raw,"failures":$failed,"sf":"$sfDir"}"""
    println(fullLine)
    // compact (<200 byte) summary line AFTER the full line: the
    // driver's tail capture truncates the full line mid-array (every
    // BENCH_r*.json so far has parsed:null), so the structured totals
    // must also ride a line truncation can never eat — last and short
    println(s"""{"metric":"total","value":$totalJson,"unit":"sec","value_min":$totalMinJson,"floor_run":$floorRun,"queries_run":${names.size},"queries_failed":$broken,"failed_passes":$failedPasses,"outliers_confirmed":$outliersConfirmed,"sf":"$sfDir"}""")
    // the full line ALSO lands on disk: the stdout capture keeps only
    // a ~2 KB tail, which through r14 dropped the alphabetical head of
    // the per-query maps (q100-q146's mins survived only in BASELINE.md
    // prose) — per-query regression diffing must not depend on log
    // truncation, so every run persists the complete medians/mins/
    // samples map where the next round can read it. Best-effort: a
    // read-only working dir must not fail the bench itself.
    val outFile = artifactFile(floorRun)
    // NonFatal only: an OutOfMemoryError mid-write must propagate, not
    // downgrade to a stderr warning (r15 ADVICE)
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (stamped(fullLine, headCommit()) + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] cannot persist $outFile: ${e.getMessage}")
    }
    spark.stop()
  }
}
