package perfbench

/** The per-layer metrics of a traced run, with units. Every workload
  * prints all of them; a layer the workload bypasses reads 0.
  */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "sources.table_write_ms" -> "ms",
    "sources.reembed_ms" -> "ms",
    "vectorsearch.ivf_build_ms" -> "ms",
    "vectorsearch.search.plan_ms" -> "ms",
    "vectorsearch.search.exec_ms" -> "ms",
    "vectorsearch.search.read_sel_0001_ms" -> "ms",
    "vectorsearch.search.read_sel_01_ms" -> "ms",
    "vectorsearch.search.read_sel_1_ms" -> "ms",
    "vectorsearch.search.read_sel_10_ms" -> "ms",
    "vectorsearch.search.jobs_per_query" -> "count",
    "vectorsearch.search.rows_read_per_result" -> "ratio",
    "vectorsearch.exact_tiered.exec_ms" -> "ms",
    "vectorsearch.exact_tiered.shuffle_mb" -> "MB",
    "vectorsearch.search_multi.plan_ms" -> "ms",
    "vectorsearch.search_multi.exec_ms" -> "ms",
    "functions.scored_gflop_per_cpu_s" -> "GFLOP/s",
    "streaming.store_init_ms" -> "ms",
    "streaming.commit.visible_ms" -> "ms",
    "streaming.commit.after_ms" -> "ms",
    "streaming.commit.jobs_per_commit" -> "count",
    "streaming.read.fast_frac" -> "ratio",
    "streaming.read.live_deltas" -> "count",
    "streaming.read.jobs_per_read" -> "count",
    "streaming.read.reprime_ms" -> "ms",
    "streaming.fold_ms" -> "ms",
    "streaming.write_amplification" -> "ratio",
    "spark.driver_only_ms_per_op" -> "ms",
    "spark.jobs_per_op" -> "count",
    "spark.task_cpu_ms_per_op" -> "ms",
    "spark.input_mb_per_op" -> "MB",
    "spark.shuffle_mb_per_op" -> "MB",
    "jvm.gc_pause_ms_per_op" -> "ms",
    // a layer metric, not end-to-end: after the upsert sequence it swings
    // by a fifth between runs, with when Spark's cleaner thread drops
    // unreachable broadcast blocks
    "jvm.retained_heap_mb" -> "MB",
    "trace.unattributed_ms" -> "ms",
    "trace.span_coverage" -> "ratio")

  val all: Map[String, Double] = units.map(_._1 -> 0.0).toMap

  /** Asked for, but not observable from outside the program. */
  val unmeasured: Seq[(String, String)] = Seq(
    "vectorsearch cells probed/pruned per query" ->
      "IvfIndex keeps its probe plan private; rows_read_per_result is the outside proxy",
    "streaming consolidation vs commit-log split of commit.after_ms" ->
      "runDelta runs both inside one foreachBatch call with no hook between them")

  /** Runtime metrics over the timed ops (top-level `op.*` spans of the
    * workload's main op type) of a traced pass.
    */
  def runtime(attr: Attribution, out: Outcome, gcMs: Long): Map[String, Double] = {
    val opName = attr.spans.find(s => s.op >= 0 && s.name.startsWith("op.") &&
      s.name != "op.read" && s.name != "op.fold").map(_.name)
    val ops = attr.spans.filter(s => opName.contains(s.name) && s.op >= 0)
    val n = math.max(1, ops.length)
    val jobs = ops.map(attr.jobsUnder)
    val unattributed = ops.map(attr.unattributedMs)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Plan.median(xs)
    Map(
      "spark.driver_only_ms_per_op" -> med(ops.map(attr.driverOnlyMs)),
      "spark.jobs_per_op" -> jobs.map(_.length).sum.toDouble / n,
      "spark.task_cpu_ms_per_op" -> jobs.flatten.map(_.cpuMs).sum / n,
      "spark.input_mb_per_op" -> jobs.flatten.map(_.inputBytes).sum / 1048576.0 / n,
      "spark.shuffle_mb_per_op" ->
        jobs.flatten.map(j => j.shuffleWriteBytes).sum / 1048576.0 / n,
      "jvm.gc_pause_ms_per_op" -> gcMs.toDouble / math.max(1, out.ops.length),
      "trace.unattributed_ms" -> med(unattributed),
      "trace.span_coverage" ->
        (if (ops.isEmpty) 0.0 else 1.0 - med(unattributed) / med(ops.map(_.ms))))
  }
}
