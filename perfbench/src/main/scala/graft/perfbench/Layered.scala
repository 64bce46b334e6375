package graft.perfbench

/** The traced run's per-layer metrics, from the layer samples the
  * workloads record around public calls, the [[JobTap]] listener, and the
  * span tree. Counts and amounts are per measured op unless the name says
  * otherwise; a layer the workload never calls reads 0. */
object Layered {

  /** The per-layer metrics every gated workload prints, with units. */
  val Units: Seq[(String, String)] = Seq(
    "lake.delete_files_live" -> "count", "lake.data_files_live" -> "count",
    "lake.compact_ms" -> "ms", "lake.compact_bytes_rewritten" -> "bytes",
    "lake.write_amp" -> "ratio", "lake.meta_bytes" -> "bytes",
    "streaming.ingest_ms" -> "ms", "streaming.batches_per_ingest" -> "count",
    "sql.analysis_ms" -> "ms", "sql.optimization_ms" -> "ms", "sql.planning_ms" -> "ms",
    "sql.exec_ms" -> "ms", "sql.preexec_jobs" -> "count",
    "operators.build_ms" -> "ms", "operators.build_jobs" -> "count",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.single_task_stages" -> "count", "exec.peak_tasks" -> "count",
    "exec.slot_busy_frac" -> "ratio",
    "exec.task_ms" -> "ms", "exec.cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.task_wait_ms" -> "ms", "exec.failed_tasks" -> "count",
    "exec.input_rows" -> "count", "exec.input_bytes" -> "bytes",
    "exec.rows_read_per_row_out" -> "ratio",
    "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes",
    "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB", "trace.overhead_frac" -> "ratio")

  /** Layers only `serve` calls (its scan API and metadata-answered
    * rollups); `serve` is not gated, so these are annotations. */
  val ServeOnly: Seq[String] = Seq(
    "lake.scan_build_ms", "lake.files_kept", "lake.files_total", "plans.meta_served_frac")

  /** Spans whose jobs run before the op's plan executes. */
  private val PreExec = Set("sql.build", "sql.plan", "lake.scan", "operators.build")

  /** Every per-layer value: [[Units]] and [[ServeOnly]], by name. */
  def values(m: Seq[Main.OpRec], layers: Layers, tap: JobTap, tr: Tracer, cores: Int,
      gcMs: Double, heapMb: Double, overhead: Double): Map[String, Double] = {
    val ops = m.map(_.i).toSet
    val n = m.size.max(1).toDouble
    // a job belongs to the op of the span it was submitted under; threads
    // a layer starts inherit the span (a streaming query's thread sets its
    // own job group), so the job group is only the fallback
    def opOf(j: JobTap.Job): Int = if (j.span >= 0) tr.spans(j.span).op else j.op
    val jobs = tap.jobs.filter(j => ops(opOf(j))).toSeq
    val jobOp = jobs.map(j => j.id -> opOf(j)).toMap
    val stages = tap.stages.valuesIterator.filter(s => jobOp.contains(s.job)).toSeq
    val stageOp = stages.map(s => s.id -> jobOp(s.job)).toMap
    val tasks = tap.tasks.filter(t => stageOp.contains(t.stage)).toSeq

    def under(j: JobTap.Job, names: Set[String]): Boolean = {
      var s = j.span
      while (s >= 0) {
        if (names(tr.spans(s).name)) return true
        s = tr.spans(s).parent
      }
      false
    }
    val inRowsByOp = tasks.groupMapReduce(t => stageOp(t.stage))(_.inRows)(_ + _)
    val metaOps = m.filter(_.cls == "meta_rollup")
    val taskMs = tasks.map(_.runMs).sum.toDouble
    val opMs = m.map(_.ms).sum
    val peak = {
      val ev = tasks.flatMap(t => Seq((t.launchMs, 1), (t.finishMs, -1))).sortBy(e => (e._1, e._2))
      ev.scanLeft(0)(_ + _._2).max
    }
    val rowsOut = m.map(_.rowsOut).sum
    def med(k: String) = Stats.median(layers.get(k))
    def avg(k: String) = Stats.mean(layers.get(k))
    val segBytes = layers.get("lake.segment_bytes").sum

    Map(
      "lake.scan_build_ms" -> med("lake.scan_build_ms"),
      "lake.files_kept" -> avg("lake.files_kept"),
      "lake.files_total" -> avg("lake.files_total"),
      "lake.delete_files_live" -> avg("lake.delete_files_live"),
      "lake.data_files_live" -> avg("lake.data_files_live"),
      "lake.compact_ms" -> med("lake.compact_ms"),
      "lake.compact_bytes_rewritten" -> med("lake.compact_bytes_rewritten"),
      "lake.write_amp" -> (if (segBytes > 0) layers.get("lake.write_bytes").sum / segBytes else 0.0),
      "lake.meta_bytes" -> layers.get("lake.meta_bytes").lastOption.getOrElse(0.0),
      "streaming.ingest_ms" -> med("streaming.ingest_ms"),
      "streaming.batches_per_ingest" -> avg("streaming.batches_per_ingest"),
      "sql.analysis_ms" -> med("sql.analysis_ms"),
      "sql.optimization_ms" -> med("sql.optimization_ms"),
      "sql.planning_ms" -> med("sql.planning_ms"),
      "sql.exec_ms" -> med("sql.exec_ms"),
      "sql.preexec_jobs" -> jobs.count(under(_, PreExec)) / n,
      "plans.meta_served_frac" -> (if (metaOps.isEmpty) 0.0
        else metaOps.count(o => inRowsByOp.getOrElse(o.i, 0L) == 0L).toDouble / metaOps.size),
      "operators.build_ms" -> med("operators.build_ms"),
      "operators.build_jobs" -> jobs.count(under(_, Set("operators.build"))) / n,
      "exec.jobs" -> jobs.size / n,
      "exec.stages" -> stages.size / n,
      "exec.tasks" -> tasks.size / n,
      "exec.single_task_stages" -> stages.count(_.numTasks == 1) / n,
      "exec.peak_tasks" -> peak.toDouble,
      "exec.slot_busy_frac" -> (if (opMs > 0) taskMs / (opMs * cores) else 0.0),
      "exec.task_ms" -> taskMs / n,
      "exec.cpu_ms" -> tasks.map(_.cpuNs).sum / 1e6 / n,
      "exec.gc_ms" -> tasks.map(_.gcMs).sum / n,
      "exec.task_wait_ms" -> Stats.mean(tasks.map(_.waitMs.toDouble)),
      "exec.failed_tasks" -> tasks.count(_.failed).toDouble,
      "exec.input_rows" -> tasks.map(_.inRows).sum / n,
      "exec.input_bytes" -> tasks.map(_.inBytes).sum / n,
      "exec.rows_read_per_row_out" ->
        (if (rowsOut > 0) tasks.map(_.inRows).sum.toDouble / rowsOut else 0.0),
      "exec.shuffle_read_bytes" -> tasks.map(_.shRead).sum / n,
      "exec.shuffle_write_bytes" -> tasks.map(_.shWrite).sum / n,
      "exec.spill_bytes" -> tasks.map(_.spill).sum / n,
      "jvm.gc_ms" -> gcMs / n,
      "jvm.heap_peak_mb" -> heapMb,
      "trace.overhead_frac" -> overhead)
  }

  /** Per-class median latency, per-op span self times, and the share of
    * op latency the self times account for. */
  def annotations(m: Seq[Main.OpRec], tr: Tracer): Seq[(String, Any)] = {
    val self = tr.selfTimes(m.map(_.i).toSet)
    val n = m.size.max(1).toDouble
    m.groupBy(_.cls).toSeq.sortBy(_._1).map { case (c, rs) =>
      s"class.$c.p50_ms" -> Stats.median(rs.map(_.ms)) } ++
      self.toSeq.sortBy(_._1).map { case (k, v) => s"self.$k.ms_per_op" -> v / n } ++
      Seq("trace.self_sum_frac" -> self.values.sum / m.map(_.ms).sum.max(1e-9))
  }
}
