package graft

import org.apache.spark.sql.SparkSession

/** What every main shares: the one session recipe, the core count it
  * runs on, the `SPARK_GRAFT_ONLY` query filter, a wall-clock timer, a
  * JSON string escaper and a fresh scratch directory. */
object Harness {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session every main runs in: `local[cpus]` with one shuffle
    * partition per core, UTC, no UI, WARN logging. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
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
    spark
  }

  /** The `SPARK_GRAFT_ONLY` filter: comma-separated name substrings,
    * a name is kept when it contains any of them; unset keeps
    * everything. */
  def only[T](named: Seq[(String, T)]): Seq[(String, T)] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSeq)
    named.filter { case (name, _) => only.forall(_.exists(name.contains)) }
  }

  /** Wall-clock seconds of `f`. */
  def time(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** JSON string literal: backslash, quote and ALL control chars
    * (< 0x20) escaped — a tab or CR in a query's oracle SQL would
    * otherwise make `oracle_sql.json` unparseable for the DuckDB
    * compare. */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Deletes `dir` (recursively, if present) so a run starts from an
    * empty directory; returns the directory's file system. */
  def freshDir(spark: SparkSession, dir: String)
      : org.apache.hadoop.fs.FileSystem = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(path, true)
    fs
  }
}
