package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev utility: dump the executed plans of selected queries. Usage:
  *   runMain graft.Explain <sfDir> <queryName> [<queryName> ...]
  * Records `QueryExecution.executedPlan` (the final adaptive plan) of
  * EVERY action a query runs — its eager stages first (the pipeline
  * family's checkpoints and probes run while the query is built), then
  * the returned frame's `collect` — and prints them on stdout as one
  * `===== <query> =====` block per query holding one
  * `-- action=<name>` block per action: the dump
  * `tools/compare_plans.py` reads. `build`/`rows`/`time` go to stderr,
  * so two dumps of one tree can be compared as they are. Each query
  * starts from an empty cache.
  */
object Explain {
  /** `(action, executedPlan)` of every action `body` runs in `spark`,
    * in order. The listener runs on the bus thread: the bus is drained
    * before the listener is registered (so a late callback of an
    * earlier action does not land here) and again before it is read. */
  private[graft] def executedPlans(spark: SparkSession)(
      body: => Unit): Seq[(String, SparkPlan)] = {
    val seen =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]
    val listener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution,
          durationNs: Long): Unit = seen.add(action -> qe.executedPlan)
      override def onFailure(action: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    org.apache.spark.sql.GraftShims.waitForListeners(spark)
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.sql.GraftShims.waitForListeners(spark)
    } finally spark.listenerManager.unregister(listener)
    seen.toArray(Array.empty[(String, SparkPlan)]).toSeq
  }

  def main(args: Array[String]): Unit = {
    val dir = args.head
    val spark = Harness.session()
    // back to Spark's uncapped default: composed plans run far past
    // 32 KB, and the cap would cut the dumped plans short
    spark.conf.unset("spark.sql.maxPlanStringLength")
    for (name <- args.tail) {
      spark.catalog.clearCache()
      val plans = executedPlans(spark) {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, dir)
        val build = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val n = df.collect().length
        System.err.println(f"$name build=$build%.2fs rows=$n " +
          f"time=${(System.nanoTime() - t1) / 1e9}%.2fs")
      }
      println(s"===== $name =====")
      for ((action, plan) <- plans) {
        println(s"-- action=$action")
        println(plan)
      }
    }
    spark.stop()
  }
}
