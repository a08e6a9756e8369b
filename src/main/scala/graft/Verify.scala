package graft
import graft.Harness.jsonStr
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    val selected = Harness.only(SparkEntry.queries.toSeq)
    // per-query record for verify_summary.json: ok / rows / seconds /
    // error — the machine-readable side of the dump, so a round whose
    // driver-side oracle compare dies (r16: CORRECTNESS_r16.json came
    // back `{}` with nothing attributing the outage) still leaves an
    // at-a-glance record of what the ENGINE actually produced
    val summary =
      scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    selected.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val rows = spark.read.parquet(s"$outDir/$name").count()
        val sec = (System.nanoTime() - t0) / 1e9
        summary += name ->
          f"""{"ok":true,"rows":$rows,"sec":$sec%.2f}"""
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val sec = (System.nanoTime() - t0) / 1e9
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          .take(300)
        summary += name ->
          f"""{"ok":false,"sec":$sec%.2f,"err":${jsonStr(msg)}}"""
      }
      // release caches a query built (shingle/sparse-vector/corpus
      // projections) so they don't pin executor storage across the
      // remaining queries — same discipline as Bench
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the summary: one object keyed by query name, plus totals — a
    // consumer (the driver, the judge, the next round's builder) reads
    // failed_count > 0 or a missing name without parsing stderr
    val okCount = summary.count(_._2.contains("\"ok\":true"))
    val sumJson =
      s"""{"queries_run":${summary.size},"ok_count":$okCount,""" +
        s""""failed_count":${summary.size - okCount},"queries":""" +
        summary.map { case (k, v) => s"${jsonStr(k)}:$v" }
          .mkString("{", ",", "}") + "}"
    Files.writeString(Paths.get(s"$outDir/verify_summary.json"), sumJson)
    println(s"[verify] ${summary.size} queries, $okCount ok, " +
      s"${summary.size - okCount} failed — summary at " +
      s"$outDir/verify_summary.json")
    spark.stop()
  }
}
