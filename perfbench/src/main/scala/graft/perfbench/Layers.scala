package graft.perfbench

/** Per-layer metrics of a traced run, normalized per traced iteration.
  * A layer a workload does not exercise is left out here and reported as
  * 0 by run.py, which holds the full list (BENCHMARK.json). */
object Layers {

  def report(ctx: Ctx, values: Map[String, Double]): Unit =
    values.toSeq.sortBy(_._1).foreach { case (k, v) => ctx.report.metric(k, v) }

  /** Spark-runtime counters of the jobs under `roots`, per iteration; the
    * driver gap is the roots' wall time not covered by executor time
    * spread over the cores. */
  def engine(tr: Tracer, roots: Seq[Span], n: Double): Map[String, Double] = {
    val e = tr.engine(roots)
    val cores = Runtime.getRuntime.availableProcessors().toDouble
    val wallMs = roots.map(_.ms).sum
    Map(
      "engine.catalyst_ms" -> tr.catalystMs / n,
      "engine.driver_gap_ms" -> (wallMs - e.runMs / cores) / n,
      "engine.jobs" -> e.jobs / n,
      "engine.stages" -> e.stages / n,
      "engine.tasks" -> e.tasks / n,
      "engine.executor_run_ms" -> e.runMs / n,
      "engine.executor_cpu_ms" -> e.cpuMs / n,
      "engine.shuffle_read_bytes" -> e.shuffleRead / n,
      "engine.shuffle_write_bytes" -> e.shuffleWrite / n,
      "engine.spill_bytes" -> e.spill / n,
      "engine.gc_ms" -> e.gcMs / n)
  }

  def streaming(s: Streaming, n: Double): Map[String, Double] = Map(
    "streaming.planning_ms" -> s.planningMs / n,
    "streaming.wal_commit_ms" -> s.walMs / n,
    "streaming.commit_offsets_ms" -> s.offsetsMs / n,
    "streaming.latest_offset_ms" -> s.latestMs / n,
    "streaming.triggers" -> s.triggers / n,
    "streaming.trigger_ms_p50" -> (if (s.triggerMs.isEmpty) 0.0
                                    else Stats.median(s.triggerMs.toSeq)),
    "streaming.state_commit_ms" -> s.stateCommitMs / n,
    "streaming.state_rows" -> s.stateRows.values.sum.toDouble,
    "streaming.state_bytes" -> s.stateBytes.values.sum.toDouble,
    "streaming.late_rows_dropped" -> s.lateRows / n)
}
