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
    * code.
    *
    * That cache is keyed by the compiling thread's context class loader
    * as well as the source. Driver threads run under the application
    * loader and local tasks under the executor's, so each whole-stage
    * class the driver compiles would be compiled again by its first
    * task (about half of a nightly run's compiles). Two settings give
    * the driver and its tasks one key:
    *  - artifact isolation is off, so SQL tasks run under the executor's
    *    plain loader rather than a per-session one that asks the
    *    driver's class server over RPC for every class name Janino
    *    probes (which made a task's compile about twice as slow as the
    *    driver's); the engine adds no session artifacts;
    *  - on a local master, one one-task job reads the loader its task
    *    runs under, and the calling thread adopts it as its context
    *    loader; threads started later (the server's handlers, Spark's
    *    exchange pools, clients) inherit it. Each call reads it again:
    *    a new SparkContext brings a new executor loader.
    * `file:` paths go through `core.LocalFileSystem`, which sets
    * permissions without forking `chmod`. */
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
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[LocalFileSystem].getName)
      // the events fixture carries TIMESTAMP(NANOS) parquet, which Spark
      // otherwise rejects; read as long and convert in Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (s.sparkContext.isLocal) adoptTaskLoader(s)
    s
  }

  @volatile private var taskLoader: ClassLoader = _

  private def adoptTaskLoader(s: SparkSession): Unit = {
    val sc = s.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("sessions:task-loader")
    try s.range(0, 1, 1, 1).foreachPartition((_: Iterator[java.lang.Long]) =>
      taskLoader = Thread.currentThread.getContextClassLoader)
    finally sc.setJobDescription(prev)
    Thread.currentThread.setContextClassLoader(taskLoader)
  }
}
