package graft.bench

/** Per-layer metrics of a traced run: per-pass sums over the traced
  * passes, reported as the median pass; direct `sources`/`core` calls
  * come from the workload. Layers a workload does not exercise read 0. */
object Layers {

  /** Every per-layer metric name with its unit (the image codec and
    * kernel names are appended by [[names]]). */
  val shared: Seq[(String, String)] = Seq(
    "queries.construct_s" -> "s", "queries.eager_jobs" -> "count",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "catalyst.query_executions" -> "count",
    "exec.action_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_s" -> "s", "exec.task_cpu_s" -> "s",
    "exec.core_busy" -> "ratio", "exec.shuffle_read_mb" -> "MB",
    "exec.shuffle_write_mb" -> "MB", "exec.spill_mb" -> "MB",
    "exec.records_read" -> "count", "exec.gc_s" -> "s",
    "exec.storage_mb_held" -> "MB", "jvm.heap_after_gc_mb" -> "MB",
    "pipeline.driver_op_s" -> "s", "pipeline.distributed_op_s" -> "s",
    "pipeline.distributed_jobs" -> "count",
    "sources.frames_decoded" -> "count", "sources.decoded_mb" -> "MB",
    "sources.scan_records" -> "count", "core.pixels" -> "count",
    "trace.overhead_frac" -> "ratio")

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def metrics(w: Workload, traces: Seq[(Int, Seq[OpTrace], Double)],
              samples: Seq[Main.Sample], heapMb: Seq[Double],
              cores: Int): Map[String, Double] = {
    val isImages = w.isInstanceOf[ImageWorkload]
    val byPass = samples.groupBy(_.pass)
    def seconds(p: Int, pred: Main.Sample => Boolean) = byPass(p).filter(pred).map(_.seconds).sum
    val perPass = traces.map { case (p, ots, wall) =>
      def sum(k: String) = ots.map(_.c(k)).sum
      val taskS = sum("task_s")
      Map(
        "queries.construct_s" -> byPass(p).map(_.constructS).sum,
        "queries.eager_jobs" -> ots.map(_.eagerJobs.toDouble).sum,
        "catalyst.analysis_s" -> sum("analysis_s"),
        "catalyst.optimization_s" -> sum("optimization_s"),
        "catalyst.planning_s" -> sum("planning_s"),
        "catalyst.query_executions" -> sum("query_executions"),
        "exec.action_s" -> byPass(p).map(s => s.seconds - s.constructS).sum,
        "exec.jobs" -> ots.map(_.jobs.length.toDouble).sum,
        "exec.stages" -> ots.map(_.stages.length.toDouble).sum,
        "exec.tasks" -> sum("tasks"), "exec.task_s" -> taskS,
        "exec.task_cpu_s" -> sum("task_cpu_s"),
        "exec.core_busy" -> taskS / (cores * wall),
        "exec.shuffle_read_mb" -> sum("shuffle_read_mb"),
        "exec.shuffle_write_mb" -> sum("shuffle_write_mb"),
        "exec.spill_mb" -> sum("spill_mb"), "exec.records_read" -> sum("records_read"),
        "exec.gc_s" -> sum("gc_s"),
        "exec.storage_mb_held" -> (0.0 +: ots.map(_.storageMb)).max,
        "jvm.heap_after_gc_mb" -> heapMb(p),
        "pipeline.driver_op_s" -> seconds(p, s => venue(w, s.op) == "driver"),
        "pipeline.distributed_op_s" -> seconds(p, s => venue(w, s.op) == "distributed"),
        "pipeline.distributed_jobs" ->
          ots.filter(_.venue == "distributed").map(_.jobs.length.toDouble).sum,
        "sources.scan_records" -> (if (isImages) sum("records_read") else 0.0))
    }
    val passS = samples.groupBy(s => (s.pass, s.traced)).toSeq
      .map { case ((_, tr), ss) => tr -> ss.map(_.seconds).sum }
    val overhead = median(passS.filter(_._1).map(_._2)) / median(passS.filterNot(_._1).map(_._2)) - 1
    val direct = w.directLayers()
    names.map(_._1).map { k =>
      k -> (if (k == "trace.overhead_frac") overhead
            else if (perPass.nonEmpty && perPass.head.contains(k)) median(perPass.map(_(k)))
            else direct.getOrElse(k, 0.0))
    }.toMap
  }

  private def venue(w: Workload, op: String): String =
    w.ops.find(_.name == op).map(_.venue).getOrElse("-")

  /** All names with units: the shared ones plus the image layers. */
  val names: Seq[(String, String)] = shared ++ ImageWorkload.layerNames
}
