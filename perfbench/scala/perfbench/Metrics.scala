package perfbench

/** Names and units of the traced run's per-layer metrics. Every workload
  * reports all of them; a layer the workload does not run reads 0.
  */
object Metrics {
  val perLayerUnits: Seq[(String, String)] = Seq(
    "sources.get_batch_ms" -> "ms",
    "streaming.planning_ms" -> "ms",
    "streaming.commit_ms" -> "ms",
    "streaming.jobs_per_batch" -> "count",
    "streaming.add_batch_ms" -> "ms",
    "streaming.state_rows" -> "count",
    "streaming.state_memory_bytes" -> "bytes",
    "streaming.late_rows_dropped" -> "count",
    "entry.build_s" -> "s",
    "entry.build_jobs" -> "count",
    "entry.action_s" -> "s",
    "entry.action_jobs" -> "count",
    "entry.cold_pass_s" -> "s",
    "entry.cold_jobs" -> "count",
    "engine.published_bytes" -> "bytes",
    "engine.published_files" -> "count",
    "spark.driver_only_s" -> "s",
    "spark.job_span_s" -> "s",
    "spark.planning_ms" -> "ms",
    "spark.executions" -> "count",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s",
    "spark.executor_busy" -> "ratio",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.gc_s" -> "s",
    "traced.pass_s" -> "s",
    "traced.events_per_s" -> "1/s")

  def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
