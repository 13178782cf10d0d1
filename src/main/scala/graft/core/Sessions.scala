package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's scale-oriented defaults. */
object Sessions {
  /** Local session for the runner, the server, tests and benchmarks.
    * `threads` mirrors the executor count of the target cluster shape;
    * shuffle partitions match so that small-SF runs exercise the same
    * plan shapes a cluster would. The generated-code cache holds 1000
    * classes, not Spark's 100: one warm pass of the benchmarked registry
    * operators compiles about 117 classes and a nightly run several
    * hundred, and an LRU smaller than the cycle it serves misses on
    * every access, so each pass would recompile everything. The cache
    * is JVM-wide and sized once, by the session that first generates
    * code. */
  def local(threads: Int = 32, appName: String = "graft"): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // FAIR lets the pipeline server give each concurrent run its own
      // scheduler pool (fair across pools, so one heavy pipeline cannot
      // starve its siblings' stages); single-query workloads are
      // unaffected — jobs without a pool land in the default pool,
      // which schedules FIFO internally exactly as before
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.sql.codegen.cache.maxEntries", 1000)
      // the events fixture carries TIMESTAMP(NANOS) parquet, which Spark
      // otherwise rejects; read as long and convert in Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
