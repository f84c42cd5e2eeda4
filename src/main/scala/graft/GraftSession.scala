package graft

import org.apache.spark.sql.SparkSession

/** The one way a graft process gets its SparkSession: the REST server, the
  * gate (`Verify`), the bench, the tools and the test suite all run the same
  * Catalyst setup, so a plan audited or profiled by a tool is the plan the
  * gate verifies and the server serves.
  *
  * A graft session is `local[cores]` with one shuffle partition per core,
  * UTC, no UI, TIMESTAMP(NANOS) parquet read as epoch-nano longs (the
  * catalog converts them), and [[graft.functions.GraftExtensions]]
  * registered: graft's SQL functions, the GroupedTopK strategy and the
  * row_number()-filter rewrite. Adaptive execution keeps Spark's defaults.
  */
object GraftSession {

  /** Build the process's graft session, or join it: getOrCreate hands back
    * a session that already runs, and registering the extensions again is
    * a no-op. Cores: `SPARK_GRAFT_CPUS` when set, else every core the JVM
    * sees. */
  def build(): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.register(spark)
    spark
  }
}
