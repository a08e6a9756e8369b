package graft

/** Dev utility: print the formatted physical plan (and optionally run)
  * selected queries. Usage:
  *   runMain graft.Explain <sfDir> <queryName> [<queryName> ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val spark = Harness.session()
    // back to Spark's uncapped default: composed plans run far past
    // 32 KB, and the cap would cut the formatted plan and the
    // reused-stage count below short
    spark.conf.unset("spark.sql.maxPlanStringLength")
    for (name <- args.tail) {
      val df = SparkEntry.queries(name)(spark, dir)
      println(s"===== $name =====")
      df.explain("formatted")
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs")
      // the finalized adaptive plan shows which duplicate subtrees AQE
      // actually collapsed (ReusedExchange / ReusedQueryStage);
      // foreach(noop) finalizes the identical plan without pulling the
      // result onto the driver
      df.foreach(_ => ())
      val fin = df.queryExecution.executedPlan.toString
      val reused = fin.linesIterator.count(l =>
        l.contains("ReusedQueryStage") || l.contains("ReusedExchange"))
      println(s"reused_stages=$reused")
    }
    spark.stop()
  }
}
