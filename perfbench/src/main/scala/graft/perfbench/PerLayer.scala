package graft.perfbench

/** The per-layer metrics a traced run reports, named by module, with
  * their units. A layer a workload does not exercise reports 0. */
object PerLayer {
  val units: Seq[(String, String)] = Seq(
    "control.watermark_s" -> "s", "control.watermark_jobs" -> "count",
    "control.log_files" -> "count", "control.append_s" -> "s",
    "sources.open_s" -> "s", "sources.open_jobs" -> "count",
    "pipelines.transform_s" -> "s", "pipelines.transform_jobs" -> "count",
    "pipelines.transform_cpu_s" -> "s",
    "sink.merge_s" -> "s", "sink.jobs" -> "count", "sink.task_cpu_s" -> "s",
    "sink.read_mb" -> "MB", "sink.written_mb" -> "MB",
    "sink.shuffle_mb" -> "MB", "sink.fact_files" -> "count",
    "sink.rewrite_ratio" -> "ratio",
    "runner.request_s" -> "s", "runner.admission_wait_s" -> "s",
    "runner.overlap" -> "ratio",
    "queries.build_s" -> "s", "queries.plan_s" -> "s", "queries.exec_s" -> "s",
    "queries.jobs" -> "count", "queries.stages" -> "count",
    "queries.tasks" -> "count", "queries.task_cpu_s" -> "s",
    "queries.shuffle_mb" -> "MB", "queries.spill_mb" -> "MB",
    "queries.driver_gap_s" -> "s") ++
    Main.NamedQueries.flatMap(q => Seq(s"queries.${q}_jobs" -> "count",
      s"queries.${q}_driver_gap_s" -> "s")) ++ Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.cpu_utilization" -> "ratio",
    "spark.driver_gap_s" -> "s", "host.cpu_probe_ms" -> "ms")

  val names: Seq[String] = units.map(_._1)
  def unit(name: String): String = units.toMap.apply(name)
}
