package graft

import graft.functions.TextFunctions
import graft.operators.Similarity
import graft.sources.{EsSink, Lake}
import org.apache.spark.sql.functions._

class UtilitySpec extends SparkSpec {
  import spark.implicits._

  test("Bench artifact: floor runs persist to their own file; the file " +
      "copy is the stdout line plus the commit it measured") {
    assume(!sys.env.contains("SPARK_GRAFT_BENCH_OUT"))
    assert(Bench.artifactFile(floorRun = true) === "BENCH_floor_latest.json")
    assert(Bench.artifactFile(floorRun = false) === "BENCH_full_latest.json")
    val line = """{"metric":"total","value":1.5,"queries":{"q01":1.5}}"""
    assert(Bench.stamped(line, Some("ab" * 20)) ===
      """{"metric":"total","value":1.5,"queries":{"q01":1.5},""" +
        "\"commit\":\"" + "ab" * 20 + "\"}")
    assert(Bench.stamped(line, None).endsWith("""},"commit":null}"""))
    assert(Bench.headCommit().forall(_.length == 40))
  }

  test("Bench: malformed, zero and negative pass/retry counts fail " +
      "before any Spark job") {
    assert(Bench.passesAndRetries(Map.empty) === ((3, 12)))
    assert(Bench.passesAndRetries(Map("SPARK_GRAFT_BENCH_PASSES" -> "1",
      "SPARK_GRAFT_BENCH_RETRIES" -> "0")) === ((1, 0)))
    for ((key, bad) <- Seq("SPARK_GRAFT_BENCH_PASSES" -> "three",
        "SPARK_GRAFT_BENCH_PASSES" -> "0", "SPARK_GRAFT_BENCH_PASSES" -> "-2",
        "SPARK_GRAFT_BENCH_RETRIES" -> "", "SPARK_GRAFT_BENCH_RETRIES" -> "-1")) {
      val e = intercept[IllegalArgumentException](
        Bench.passesAndRetries(Map(key -> bad)))
      assert(e.getMessage.contains(key), e.getMessage)
    }
  }

  test("ScaleBench selection: unknown sections and names, and names " +
      "outside the selected sections, fail before any table is written") {
    // no row runs, so no table is read: the tables dir need not exist
    val rows = new ScaleBench.Rows(spark, "/nonexistent", 1).rows
    def names(sections: Option[String], filter: Option[String]) =
      ScaleBench.select(rows, sections, filter).map(_.name)
    assert(rows.map(_.name).distinct.size === rows.size)
    assert(names(None, None) === rows.map(_.name))
    assert(names(Some("guards"), None) ===
      rows.filter(_.section == "guards").map(_.name))
    // table order, not argument order
    assert(names(Some("pipelines"), Some("minhash_pairs,agg_q01_shape")) ===
      Seq("agg_q01_shape", "minhash_pairs"))
    assert(names(Some("guards,pipelines"), Some("ann_recall,bloom_index")) ===
      Seq("ann_recall", "bloom_index"))
    for ((sections, filter) <- Seq(
        (Some("guards"), Some("ann_recall")),
        (Some("guards"), Some("minhash_pairs")),
        (Some("pipelines"), Some("bloom_index")),
        (Some("pipelines"), Some("minhash_pairz")),
        (None, Some("apportion_1m_keys,typo")),
        (Some("guard"), None),
        (Some(""), None))) {
      intercept[IllegalArgumentException](names(sections, filter))
    }
  }

  test("StreamBench.pct is nearest-rank: the ceil(p*n)-th smallest") {
    val samples = (1 to 40).map(_.toDouble).reverse.toArray
    assert(StreamBench.pct(samples, 0.50) === 20.0)
    assert(StreamBench.pct(samples, 0.95) === 38.0)
    assert(StreamBench.pct(samples, 1.0) === 40.0)
    assert(StreamBench.pct(Array(7.0), 0.5) === 7.0)
  }

  test("Harness is the only main-source file that builds a SparkSession") {
    val main = new java.io.File("src/main/scala")
    assert(main.isDirectory, s"run from the project root: $main")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val builders = files(main).filter(_.getName.endsWith(".scala"))
      .filter { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.mkString.contains("SparkSession.builder") finally src.close()
      }.map(_.getName)
    assert(builders === Seq("Harness.scala"))
  }

  test("ivfTopK: reasonable recall of brute-force neighbors on real embeddings") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = emb.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(queries, emb, 10)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(queries, emb, 10, dim = 64,
      nCells = 8, nProbe = 4)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall $recall") // probing half the cells
    // full probe = exact
    val full = Similarity.ivfTopK(queries, emb, 10, dim = 64,
      nCells = 8, nProbe = 8)
      .select($"q_id", $"n_id").as[(Long, Long)].collect().toSet
    assert(full === exact)
  }

  test("qualityMetrics bundle computes consistent ratios") {
    val df = Seq("the quick brown fox the end").toDF("text")
    val m = TextFunctions.qualityMetrics($"text")
    val row = df.select(m.map { case (n, c) => c.as(n) }: _*).head()
    assert(row.getAs[Int]("n_tokens") === 6)
    assert(math.abs(row.getAs[Double]("stopword_ratio") - 2.0 / 6) < 1e-12)
    assert(math.abs(row.getAs[Double]("uniq_ratio") - 5.0 / 6) < 1e-12)
    assert(row.getAs[Double]("punct_ratio") === 0.0)
  }

  test("EsSink.bulkChunks respects the byte cap and action/doc pairing") {
    val docs = (1 to 100).map(i => s"""{"id":$i,"pad":"${"x" * 200}"}""")
    val chunks = EsSink.bulkChunks(docs.iterator, "idx", maxBytes = 2000).toList
    assert(chunks.size > 1)
    chunks.foreach { c =>
      val lines = c.linesIterator.toList
      assert(lines.size % 2 === 0) // action, doc alternating
      assert(lines.grouped(2).forall(p => p.head.contains("\"_index\":\"idx\"")))
    }
    val total = chunks.flatMap(_.linesIterator).count(_.contains("\"id\":"))
    assert(total === 100)
  }

  test("EsSink.retrying: transient failures retried with backoff, hard failures surface") {
    var calls = 0
    val flaky: EsSink.Transport = (_, _) => {
      calls += 1
      if (calls < 3) throw EsSink.EsHttpError(429) // bulk queue pressure
    }
    EsSink.retrying(flaky, attempts = 3, baseDelayMs = 1L)("u", "p")
    assert(calls === 3) // two rejections, third attempt lands
    var calls2 = 0
    val dead: EsSink.Transport = (_, _) => {
      calls2 += 1; throw EsSink.EsHttpError(503)
    }
    intercept[java.io.IOException] {
      EsSink.retrying(dead, attempts = 3, baseDelayMs = 1L)("u", "p")
    }
    assert(calls2 === 3) // bounded: gives up after the budget
  }

  test("EsSink.retrying: permanent errors are NOT retried; interrupts propagate") {
    // 400 mapping/parse rejection: retrying it only delays the error
    var badCalls = 0
    val badRequest: EsSink.Transport = (_, _) => {
      badCalls += 1; throw EsSink.EsHttpError(400)
    }
    intercept[java.io.IOException] {
      EsSink.retrying(badRequest, attempts = 3, baseDelayMs = 1L)("u", "p")
    }
    assert(badCalls === 1)
    // generic exceptions (auth, serialization bugs) likewise surface once
    var npes = 0
    val broken: EsSink.Transport = (_, _) => {
      npes += 1; throw new IllegalStateException("bad client state")
    }
    intercept[IllegalStateException] {
      EsSink.retrying(broken, attempts = 3, baseDelayMs = 1L)("u", "p")
    }
    assert(npes === 1)
    // a task interrupt must propagate immediately with the flag restored
    val interrupted: EsSink.Transport = (_, _) =>
      throw new InterruptedException("task killed")
    intercept[InterruptedException] {
      EsSink.retrying(interrupted, attempts = 3, baseDelayMs = 1L)("u", "p")
    }
    assert(Thread.interrupted()) // flag was restored (and cleared here)
  }

  test("Lake.compact merges small files preserving data and partitions") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select($"event_id", $"ts", $"value")
    // write twice (append) to create small-file dribble
    Lake.write(ev.limit(100), dir, "ts", mode = "append", filesPerPartition = 3)
    Lake.write(ev.filter($"event_id" >= 100).limit(100), dir, "ts",
      mode = "append", filesPerPartition = 3)
    val before = Lake.read(spark, dir)
    val beforeCount = before.count()
    val beforeFiles = before.inputFiles.length
    Lake.compact(spark, dir, nFiles = 1)
    val after = Lake.read(spark, dir)
    assert(after.count() === beforeCount)
    assert(after.inputFiles.length < beforeFiles)
    assert(after.columns.contains("event_date"))
  }

  test("Lake.write filesPerPartition > 1 actually fans a single date " +
      "out across files (the knob was a no-op above 1 pre-fix)") {
    val dir = java.nio.file.Files.createTempDirectory("fanout").toString
    val oneDay = Tables.events(spark, "/root/testdata/sf0.001")
      .select($"event_id", $"ts", $"value")
      .withColumn("ts", lit("2024-03-01 12:00:00").cast("timestamp"))
      .limit(1000)
    Lake.write(oneDay, dir, "ts", filesPerPartition = 4)
    val files = Lake.read(spark, dir).inputFiles
    assert(files.length > 1 && files.length <= 4, files.length.toString)
    assert(Lake.read(spark, dir).count() === 1000L)
  }

  test("EsSink.write emits golden bulk bytes: action lines, auto-ids, chunk boundary") {
    // the collecting-transport specs prove routing and retry; this one
    // pins the WIRE BYTES so a format regression (action-line shape,
    // an accidental _id, a moved chunk boundary) cannot hide behind
    // the transport stub. One partition + in-order rows = the payload
    // byte stream is fully deterministic.
    UtilitySpec.esPayloads.clear()
    val df = Seq((1L, "kandilli", 4.5), (2L, "afad", 3.25),
      (3L, "usgs", 5.0)).toDF("id", "source", "mag").coalesce(1)
    EsSink.write(df, "quakes",
      transport = (url, p) => { UtilitySpec.esPayloads.add((url, p)); () },
      maxBytes = 100)
    val sent = UtilitySpec.esPayloads.toArray
      .map(_.asInstanceOf[(String, String)]).toSeq
    val golden = {
      val in = getClass.getResourceAsStream("/es_bulk_golden.ndjson")
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    assert(sent.map(_._2).mkString === golden,
      s"bulk bytes drifted from golden; actual:\n${sent.map(_._2).mkString}")
    // the ~100-byte cap splits after the entry that crosses it: the
    // first chunk carries docs 1+2 (135 B — one-entry overshoot is the
    // documented cap semantics), the second doc 3 alone
    assert(sent.map(_._2.length) === Seq(135, 65))
    assert(sent.forall(_._1 === "http://localhost:9200/_bulk"))
    // ES assigns ids (reference semantics) — no _id may ever appear
    assert(!golden.contains("_id") && sent.forall(!_._2.contains("_id")))
  }

  test("EsSink.write failure injection: a permanent mid-bulk rejection " +
      "fails the job loudly AFTER earlier chunks landed — the " +
      "at-least-once partial-write surface, pinned") {
    // the golden-bytes spec covers the happy path; this one injects a
    // failure MID-BULK (chunk 2 of several) and pins the contract: the
    // error SURFACES (a silently partial index is the bug), the chunks
    // posted before it are not rolled back, and a permanent 400 is
    // never retried. ES auto-ids make the subsequent task-level
    // re-post duplicates, not corruption (write()'s scaladoc).
    UtilitySpec.esPayloads.clear()
    UtilitySpec.esCalls.set(0)
    val df = (1 to 30).map(i => (i.toLong, "x" * 50)).toDF("id", "pad")
      .coalesce(1) // one partition → deterministic chunk order
    val failing: EsSink.Transport = (url, p) => {
      if (UtilitySpec.esCalls.incrementAndGet() == 2)
        throw EsSink.EsHttpError(400) // mapping/parse: permanent
      UtilitySpec.esPayloads.add((url, p)); ()
    }
    val e = intercept[Exception] {
      EsSink.write(df, "quakes", transport = failing, maxBytes = 400)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("HTTP 400")),
      s"the bulk rejection must surface, got: ${msgs(e).mkString(" | ")}")
    // the permanent 400 was NOT retried: exactly two transport calls
    // happened — chunk 1 (landed) and chunk 2's single failing attempt.
    // This is the assertion that actually pins the no-retry contract;
    // the intercept alone would also pass under a retrying regression.
    assert(UtilitySpec.esCalls.get === 2,
      s"a permanent 400 must not be retried, saw ${UtilitySpec.esCalls.get} transport calls")
    // exactly the pre-failure prefix landed: chunk 1 only, and its ids
    // are the CONTIGUOUS prefix 1..max — a hole or a post-failure id
    // would mean the sink reordered or kept posting past the rejection
    val delivered = UtilitySpec.esPayloads.toArray
      .map(_.asInstanceOf[(String, String)]).toSeq
    assert(delivered.size === 1, "exactly the chunk accepted before the failure stays posted")
    val idsSent = delivered.flatMap(_._2.linesIterator)
      .flatMap("\"id\":(\\d+)".r.findAllMatchIn(_)).map(_.group(1).toInt)
    assert(idsSent.nonEmpty && idsSent.max < 30,
      s"a mid-bulk failure must leave a strict PREFIX posted, got max id ${idsSent.max}")
    assert(idsSent === (1 to idsSent.max),
      s"the posted ids must be the contiguous prefix 1..${idsSent.max}, got $idsSent")
  }

  test("EsSink.write failure injection: a transient mid-bulk 429 heals " +
      "in place — every document delivered exactly once") {
    UtilitySpec.esPayloads.clear()
    UtilitySpec.esCalls.set(0)
    val df = (1 to 30).map(i => (i.toLong, "x" * 50)).toDF("id", "pad")
      .coalesce(1)
    // chunk 2's FIRST attempt is rejected with bulk-queue pressure;
    // the in-sink retry re-posts the same chunk and the job completes
    // with no duplicate documents (the failed attempt never reached
    // the collector — exactly the broker-side semantics of a rejected
    // bulk request).
    val flaky: EsSink.Transport = (url, p) => {
      if (UtilitySpec.esCalls.incrementAndGet() == 2)
        throw EsSink.EsHttpError(429)
      UtilitySpec.esPayloads.add((url, p)); ()
    }
    EsSink.write(df, "quakes", transport = flaky, maxBytes = 400,
      retryAttempts = 3)
    val idCounts = UtilitySpec.esPayloads.toArray
      .map(_.asInstanceOf[(String, String)]).toSeq
      .flatMap(_._2.linesIterator)
      .flatMap("\"id\":(\\d+)".r.findAllMatchIn(_)).map(_.group(1).toInt)
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(idCounts.keySet === (1 to 30).toSet,
      s"all 30 documents must land, got ${idCounts.keySet.size}")
    assert(idCounts.values.forall(_ === 1),
      "a retried chunk must not double-deliver (the rejected attempt never landed)")
  }

  test("normalizeEventTs: µs timestamps normalize exactly; post-2262 " +
      "values FAIL instead of wrapping ts_ns negative") {
    import java.sql.Timestamp
    val ok = Seq(Timestamp.valueOf("2026-01-02 03:04:05.123456"))
      .toDF("ts")
    val n = Tables.normalizeEventTs(ok)
    val row = n.select($"ts_ns").as[Long].head()
    assert(row === 1767323045123456000L,
      s"ts_ns must be exact µs×1000, got $row")
    // year 9999 is representable in µs but NOT in int64 ns — the
    // derived column must fail loudly, not silently misorder every
    // downstream as-of join (regression: found by review)
    val far = Seq(Timestamp.valueOf("9999-12-31 00:00:00")).toDF("ts")
    val e = intercept[Exception] {
      Tables.normalizeEventTs(far).select($"ts_ns").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("overflows int64 nanoseconds")),
      s"unexpected error: ${msgs(e).mkString(" | ")}")
  }

  test("Scratch.withTempDir: cleans up on success and on body " +
      "failure (original exception propagates); a body that already " +
      "deleted the dir doesn't trip cleanup (exists-gated delete)") {
    var seen: String = null
    Scratch.withTempDir(spark, "graft_scratch_spec") { dir =>
      seen = dir
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "x.txt"), "hi".getBytes)
    }
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(seen)),
      s"scratch dir $seen must be deleted after the body returns")
    val boom = intercept[RuntimeException] {
      Scratch.withTempDir(spark, "graft_scratch_spec") { dir =>
        seen = dir
        throw new RuntimeException("body failed")
      }
    }
    assert(boom.getMessage === "body failed",
      "the BODY's exception must propagate, not a cleanup artifact")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(seen)))
    // a body that removes its own dir: the exists-gate makes cleanup
    // a no-op instead of a recursive delete of a never-created path
    Scratch.withTempDir(spark, "graft_scratch_spec") { dir =>
      val p = new org.apache.hadoop.fs.Path("file://" + dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }
}

object UtilitySpec {
  val esPayloads = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  val esCalls = new java.util.concurrent.atomic.AtomicInteger(0)
}
