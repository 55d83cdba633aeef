package graftbench

/** The per-layer metric names of the traced run, in report order, and the
  * helpers that read them off the spans. A traced run reports every name;
  * a layer the workload does not touch reports 0.
  */
object Layers {
  val ScaleStages = Seq("exact", "minhash", "components", "simhash", "ann")
  val WriteOps = Seq("append", "upsert", "merge", "delete_dv", "update_rewrite",
    "stream_batch", "mv_refresh", "checkpoint", "compact", "vacuum")
  val JobLabels = Seq("write-shuffle", "write-data-files", "write-cdc-files",
    "touched-tuples", "stats-scan", "stats-agg", "dense-fill-counts",
    "batch-probe", "batch-key-ranges", "unlabeled")
  val ReadOps = Seq("read_latest", "read_skip", "count_where", "time_travel",
    "read_changes")

  val Names: Seq[String] =
    Seq("dates.window_plan_ms") ++
    Seq("ops.plan_ms", "ops.exec_ms", "ops.driver_gap_ms", "ops.task_cpu_ms",
      "ops.gc_ms", "ops.jobs", "ops.output_mb") ++
    ScaleStages.flatMap(s => Seq(s"scale.$s.ms", s"scale.$s.shuffle_mb")) ++
    Seq("scale.task_cpu_ms", "scale.spill_mb", "scale.pairs", "scale.recall",
      "scale.cross_copy_merges") ++
    WriteOps.flatMap(o => Seq(s"lt.$o.ms", s"lt.$o.driver_gap_ms", s"lt.$o.jobs",
      s"lt.$o.written_mb")) ++
    Seq("lt.fs_calls_per_commit", "lt.log_tail_len") ++
    JobLabels.map(l => s"job.$l.ms") ++
    ReadOps.flatMap(r => Seq(s"lt.$r.ms", s"lt.$r.driver_gap_ms", s"lt.$r.jobs")) ++
    Seq("lt.read_skip.scan_frac", "lt.count_where.decided_frac") ++
    Seq("run.persisted_rdds_end", "run.gc_ms", "trace.overhead_frac")

  def unit(n: String): String =
    if (n.endsWith("_ms")) "ms"
    else if (n.endsWith("_mb")) "MB"
    else if (n.endsWith(".jobs")) "jobs"
    else if (n.endsWith("_frac") || n.endsWith(".recall")) "ratio"
    else if (n == "scale.pairs" || n == "scale.cross_copy_merges" ||
      n == "run.persisted_rdds_end") "count"
    else if (n == "lt.fs_calls_per_commit") "calls"
    else if (n == "lt.log_tail_len") "commits"
    else "ms"

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** `<prefix>.ms`, `.driver_gap_ms` and `.jobs` of one span name:
    * median per call, median per call, mean per call.
    */
  def perCall(t: Tracer, span: String, prefix: String): Map[String, Double] = {
    val ss = t.spansNamed(span)
    Map(s"$prefix.ms" -> med(ss.map(_.ms)),
      s"$prefix.driver_gap_ms" -> med(ss.map(t.driverGapMs)),
      s"$prefix.jobs" -> Stats.mean(ss.map(s => t.jobsIn(s).size.toDouble)))
  }

  /** Job wall time per engine label, summed over the traced passes and
    * divided by their number.
    */
  def jobLabels(t: Tracer, passes: Int): Map[String, Double] = {
    val jobs = t.jobs.filter(_.endMs >= 0)
    JobLabels.map { l =>
      s"job.$l.ms" -> jobs.filter(_.label == l).map(_.ms).sum / passes.max(1)
    }.toMap
  }
}
