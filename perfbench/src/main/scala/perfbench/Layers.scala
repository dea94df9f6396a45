package perfbench

/** Turns the traced counters of each request into the per-layer
  * metrics, and the per-request values into one figure per run. */
object Layers {

  /** name → unit, in the order the benchmark reports them. */
  val Units: Seq[(String, String)] = Seq(
    "sources.load_ms" -> "ms", "sources.rows_read" -> "count",
    "sources.bytes_read" -> "B", "sources.scan_tasks" -> "count",
    "sources.rows_out_per_read" -> "ratio",
    "pipeline.plan_ms" -> "ms",
    "sinks.write_s" -> "s", "sinks.rows_written" -> "count",
    "sinks.bytes_written" -> "B", "sinks.files_written" -> "count",
    "operators.build_ms" -> "ms", "operators.build_jobs" -> "count",
    "operators.consume_s" -> "s",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
    "scheduler.tasks" -> "count", "scheduler.tasks_failed" -> "count",
    "driver.no_task_frac" -> "ratio",
    "executor.run_ms" -> "ms", "executor.cpu_ms" -> "ms",
    "executor.gc_ms" -> "ms", "executor.busy_frac" -> "ratio",
    "shuffle.write_bytes" -> "B", "shuffle.read_bytes" -> "B",
    "shuffle.fetch_wait_ms" -> "ms", "shuffle.spill_bytes" -> "B")

  /** Counters that must repeat exactly across requests with one label. */
  val Repeatable: Seq[String] = Seq("scheduler.jobs", "scheduler.stages",
    "sinks.rows_written")

  /** One request's layer values. `groups` are the listener's
    * accumulators by layer call; `counters` the benchmark's own spans
    * and counts; `wallS` the request's wall time. Ratios are carried as
    * numerator and denominator (`_num`/`_den`) so runs sum them.
    * `rowsOut` counts result rows a query delivered; a backfill's
    * delivered rows are the sink's. */
  def collect(groups: Map[String, LayerListener#Acc], counters: Map[String, Double],
      wallS: Double, cpus: Int, rowsOut: Long): Map[String, Double] = {
    val all = groups.values.toSeq
    def sum(f: LayerListener#Acc => Long): Double = all.map(f).sum.toDouble
    def in(g: String)(f: LayerListener#Acc => Long): Double =
      groups.get(g).map(f).getOrElse(0L).toDouble
    def c(k: String): Double = counters.getOrElse(k, 0.0)
    // wall time covered by at least one running task
    val covered = {
      val iv = all.flatMap(_.taskIntervals).sortBy(_._1)
      var total, end = 0L
      var start = -1L
      iv.foreach { case (s, e) =>
        if (start < 0 || s > end) { if (start >= 0) total += end - start; start = s; end = e }
        else end = math.max(end, e)
      }
      if (start >= 0) total += end - start
      total / 1e3
    }
    Map(
      "sources.load_ms" -> c("sources.load.ms"),
      "sources.rows_read" -> sum(_.rowsRead),
      "sources.bytes_read" -> sum(_.bytesRead),
      "sources.scan_tasks" -> sum(_.scanTasks),
      "sources.rows_out_per_read_num" -> (rowsOut + in("sinks.write")(_.rowsWritten)),
      "sources.rows_out_per_read_den" -> sum(_.rowsRead),
      "pipeline.plan_ms" -> (c("pipeline.run.ms") - c("sources.load.ms")),
      "sinks.write_s" -> c("sinks.write.ms") / 1e3,
      "sinks.rows_written" -> in("sinks.write")(_.rowsWritten),
      "sinks.bytes_written" -> in("sinks.write")(_.bytesWritten),
      "sinks.files_written" -> c("sinks.files_written"),
      "operators.build_ms" -> c("operators.build.ms"),
      "operators.build_jobs" -> in("operators.build")(_.jobs),
      "operators.consume_s" -> c("operators.consume.ms") / 1e3,
      "catalyst.analysis_ms" -> sum(_.analysisMs),
      "catalyst.optimization_ms" -> sum(_.optimizationMs),
      "catalyst.planning_ms" -> sum(_.planningMs),
      "scheduler.jobs" -> sum(_.jobs),
      "scheduler.stages" -> sum(_.stages),
      "scheduler.tasks" -> sum(_.tasks),
      "scheduler.tasks_failed" -> sum(_.tasksFailed),
      "driver.no_task_frac_num" -> math.max(0.0, wallS - covered),
      "driver.no_task_frac_den" -> wallS,
      "executor.run_ms" -> sum(_.runMs),
      "executor.cpu_ms" -> sum(_.cpuNs) / 1e6,
      "executor.gc_ms" -> sum(_.gcMs),
      "executor.busy_frac_num" -> sum(_.runMs),
      "executor.busy_frac_den" -> cpus * wallS * 1e3,
      "shuffle.write_bytes" -> sum(_.shuffleWrite),
      "shuffle.read_bytes" -> sum(_.shuffleRead),
      "shuffle.fetch_wait_ms" -> sum(_.fetchWaitMs),
      "shuffle.spill_bytes" -> sum(_.spill))
  }

  /** Mean per request; ratios as the ratio of the run's sums. */
  def summarize(reqs: Seq[Map[String, Double]]): Seq[(String, (String, Double))] =
    Units.map { case (name, unit) =>
      def total(k: String): Double = reqs.map(_.getOrElse(k, 0.0)).sum
      val v =
        if (unit == "ratio") {
          val den = total(name + "_den")
          if (den == 0) 0.0 else total(name + "_num") / den
        } else if (reqs.isEmpty) 0.0 else total(name) / reqs.size
      name -> (unit, v)
    }

  /** Labels whose repeatable counters differ between their requests. */
  def nonRepeating(reqs: Seq[(String, Map[String, Double])]): Int =
    reqs.groupBy(_._1).count { case (_, rs) =>
      Repeatable.exists(k => rs.map(_._2.getOrElse(k, 0.0)).distinct.size > 1)
    }
}
