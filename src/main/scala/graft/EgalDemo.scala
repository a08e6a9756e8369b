package graft

import graft.operators.Hydration
import graft.ops.{DescriptiveStats, EarthquakeOps}
import org.apache.spark.sql.DataFrame

/** CLI demo of the EGAL-parity pipeline: fixture JSON (or a file of
  * JSON lines passed as arg 0) → parse → normalize → enrich → dedup →
  * region analytics + one-pass stats. This is the library's
  * batch-analytics path (sparktoELKstream.py's sparktoELK +
  * rdd_functions) as a single Catalyst-resident plan.
  *
  * Usage: runMain graft.EgalDemo [jsonFile]
  */
object EgalDemo {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    import spark.implicits._

    val fixture = Seq(
      """[{"date":"2023-02-06T04:17:10","rms":"0.5","eventID":"546745","location":"Pazarcık (Kahramanmaraş)","latitude":"37.288","longitude":"37.043","depth":"8.6","type":"Ke","magnitude":"7.7","country":"Türkiye","province":"Kahramanmaraş","district":"Pazarcık","neighborhood":"Gazi","isEventUpdate":"false","lastUpdateDate":""},
        |{"date":"2023-02-06T04:18:00","rms":"0.4","eventID":"546746","location":"İstanbul","latitude":"41.0","longitude":"29.0","depth":"5.0","type":"Ke","magnitude":"3.9","country":"Türkiye","province":"İstanbul","district":"Kadıköy","neighborhood":"","isEventUpdate":"false","lastUpdateDate":""},
        |{"date":"2023-02-06T04:19:00","rms":"0.3","eventID":"546747","location":"İzmir","latitude":"38.4","longitude":"27.1","depth":"10.0","type":"Ke","magnitude":"4.2","country":"Türkiye","province":"İzmir","district":"Konak","neighborhood":"","isEventUpdate":"false","lastUpdateDate":""}]""".stripMargin.replaceAll("\n", ""),
      """[{"date":"2023-02-06T04:17:10","rms":"0.5","eventID":"546745","location":"Pazarcık (Kahramanmaraş)","latitude":"37.288","longitude":"37.043","depth":"8.6","type":"Ke","magnitude":"7.7","country":"Türkiye","province":"Kahramanmaraş","district":"Pazarcık","neighborhood":"Gazi","isEventUpdate":"false","lastUpdateDate":""}]""")

    val raw = (if (args.nonEmpty) spark.read.textFile(args(0)).toDF("json")
               else fixture.toDF("json"))
      .selectExpr("cast(json as binary) as value")

    report(raw)
    spark.stop()
  }

  /** Parse, normalize, enrich and dedup `raw` (JSON arrays in a binary
    * `value` column) and print the events, the region counts, the
    * magnitude extremes and the one-pass stats. The deduped frame is
    * pinned for the four reports and released when they finish. */
  def report(raw: DataFrame): Unit = Hydration.scoped {
    val enriched = EarthquakeOps.enrich(
      EarthquakeOps.normalizeDate(EarthquakeOps.parseEvents(raw)))
    val deduped = Hydration.persist(EarthquakeOps.dedupWholeRow(enriched))

    println("=== enriched + deduped events ===")
    deduped.orderBy("eventID").show(20, truncate = false)

    println("=== region counts (magnitude >= 4) ===")
    EarthquakeOps.regionCounts(deduped, 4.0).orderBy("fault_line").show()

    println("=== magnitude extremes ===")
    EarthquakeOps.magnitudeExtremes(deduped).show()

    println("=== one-pass descriptive stats ===")
    DescriptiveStats.compute(deduped,
      Seq("depth", "magnitude", "latitude", "longitude", "rms")).show()
  }
}
