package graft.perfbench

/** The traced run's per-layer metrics. Counts, times and bytes are per
  * measured unit (one drain or one round), so runs that fit a different
  * number of units in their window stay comparable; ratios are over the
  * whole window. A layer a workload does not exercise reports 0.
  *
  * `functions/` (the codegen expressions) runs inside task time and cannot
  * be split from outside the program; it is part of `engine.task_s`. */
object Layers {

  /** Every per-layer metric name with its unit, in report order. */
  val names: Seq[(String, String)] = Seq(
    "engine.jobs" -> "count", "engine.stages" -> "count", "engine.tasks" -> "count",
    "engine.failed_tasks" -> "count", "engine.task_s" -> "s",
    "engine.sched_delay_s" -> "s", "engine.gc_s" -> "s", "engine.driver_s" -> "s",
    "engine.core_util" -> "ratio",
    "engine.shuffle_write_bytes" -> "bytes", "engine.shuffle_read_bytes" -> "bytes",
    "engine.spill_bytes" -> "bytes", "engine.input_bytes" -> "bytes",
    "engine.task_skew" -> "ratio",
    "streaming.batches" -> "count", "streaming.data_batch_ratio" -> "ratio",
    "streaming.add_batch_s" -> "s", "streaming.trigger_overhead_s" -> "s",
    "streaming.drain_tail_s" -> "s", "streaming.claim_s" -> "s", "streaming.walk_s" -> "s",
    "streaming.state_commit_s" -> "s", "streaming.state_rows" -> "count",
    "streaming.state_mem_bytes" -> "bytes", "streaming.survivor_ratio" -> "ratio",
    "exec.commands" -> "count", "exec.command_s" -> "s", "exec.failed_commands" -> "count",
    "sinks.land_s" -> "s", "sinks.landed_rows" -> "count", "sinks.landed_files" -> "count",
    "sinks.shard_write_s" -> "s", "sinks.shard_files" -> "count", "sinks.shard_bytes" -> "bytes",
    "pipeline.compact_s" -> "s", "pipeline.vcompact_s" -> "s", "pipeline.maintain_s" -> "s",
    "pipeline.export_s" -> "s", "pipeline.rows_in" -> "count", "pipeline.rows_appended" -> "count",
    "queries.ml.jobs" -> "count", "queries.ml.job_s" -> "s",
    "queries.vector.jobs" -> "count", "queries.vector.job_s" -> "s",
    "queries.text.jobs" -> "count", "queries.text.job_s" -> "s",
    "queries.setup_job_s" -> "s",
    "plans.ckpt_s" -> "s", "plans.ckpt_bytes" -> "bytes",
    "trace.overhead_frac" -> "ratio",
    "engine.local1_s" -> "s", "engine.speedup_vs_local1" -> "ratio")

  /** Metrics [[Main]] adds itself, from units run after the measured ones. */
  val afterwards = Set("trace.overhead_frac", "engine.local1_s", "engine.speedup_vs_local1")

  def report(o: Main.Opts, samples: Seq[UnitSample],
      engine: EngineListener, setupEngine: EngineListener,
      progress: ProgressListener, trace: Trace, figures: Map[String, Double],
      windowS: Double, t0ms: Long, t1ms: Long, ckptMark: Int): Seq[(String, Double, String)] = {
    val n = samples.size.toDouble
    val taskS = engine.taskNs / 1e9
    val hist = progress.history.toSeq
    val (claimS, walkS) = engine.claimWalkSeconds("JobStream.scala")
    val q = "graft.queries."
    val (mlJobs, mlS) = engine.bySite(q, "MlQueries.scala")
    val (vJobs, vS) = engine.bySite(q, "VectorQueries.scala")
    val (tJobs, tS) = engine.bySite(q, "TextQueries.scala")
    val setupQ = Seq("MlQueries.scala", "VectorQueries.scala", "TextQueries.scala")
      .map(f => setupEngine.bySite(q, f)._2).sum
    val ckpt = graft.plans.Snapshot.lastOutcomes.drop(ckptMark)
    val perUnit: Map[String, Double] = Map(
      "engine.jobs" -> engine.jobCount.toDouble,
      "engine.stages" -> engine.stages.toDouble,
      "engine.tasks" -> engine.tasks.toDouble,
      "engine.failed_tasks" -> engine.failedTasks.toDouble,
      "engine.task_s" -> taskS,
      "engine.sched_delay_s" -> engine.schedDelayMs / 1000.0,
      "engine.gc_s" -> engine.gcMs / 1000.0,
      "engine.driver_s" -> (windowS - engine.jobUnionSeconds(t0ms, t1ms)),
      "engine.shuffle_write_bytes" -> engine.shuffleWrite.toDouble,
      "engine.shuffle_read_bytes" -> engine.shuffleRead.toDouble,
      "engine.spill_bytes" -> engine.spill.toDouble,
      "engine.input_bytes" -> engine.inputBytes.toDouble,
      "streaming.batches" -> hist.size.toDouble,
      "streaming.add_batch_s" -> hist.map(_.addBatchMs).sum / 1000.0,
      "streaming.trigger_overhead_s" -> hist.map(p => p.triggerMs - p.addBatchMs).sum / 1000.0,
      "streaming.claim_s" -> claimS,
      "streaming.walk_s" -> walkS,
      "streaming.state_commit_s" -> hist.map(_.stateCommitMs).sum / 1000.0,
      "exec.commands" -> CountingRunner.commands.get.toDouble,
      "exec.command_s" -> CountingRunner.nanos.get / 1e9,
      "exec.failed_commands" -> CountingRunner.failed.get.toDouble,
      "sinks.land_s" -> engine.bySite("graft.", "LandingSink.scala")._2,
      "sinks.shard_write_s" -> trace.totalSeconds("shard_write"),
      "pipeline.compact_s" -> trace.totalSeconds("compact"),
      "pipeline.vcompact_s" -> trace.totalSeconds("vcompact"),
      "pipeline.maintain_s" -> trace.totalSeconds("maintain"),
      "pipeline.export_s" -> trace.totalSeconds("export"),
      "queries.ml.jobs" -> mlJobs.toDouble, "queries.ml.job_s" -> mlS,
      "queries.vector.jobs" -> vJobs.toDouble, "queries.vector.job_s" -> vS,
      "queries.text.jobs" -> tJobs.toDouble, "queries.text.job_s" -> tS,
      "plans.ckpt_s" -> ckpt.filter(_._2 == "built").map(_._3).sum
    ).map { case (k, v) => k -> v / n }
    val whole: Map[String, Double] = Map(
      "engine.core_util" -> taskS / (windowS * o.cores),
      "engine.task_skew" -> engine.taskSkew,
      "streaming.data_batch_ratio" ->
        (if (hist.isEmpty) 0.0 else hist.count(_.rows > 0).toDouble / hist.size),
      "streaming.drain_tail_s" ->
        (if (progress.tailsS.isEmpty) 0.0 else Main.median(progress.tailsS.toSeq)),
      "streaming.state_rows" -> (if (hist.isEmpty) 0.0 else hist.map(_.stateRows).max.toDouble),
      "streaming.state_mem_bytes" -> (if (hist.isEmpty) 0.0 else hist.map(_.stateMem).max.toDouble),
      "queries.setup_job_s" -> setupQ,
      "plans.ckpt_bytes" -> graft.plans.Snapshot.bytes.toDouble)
    val all = perUnit ++ whole ++ figures
    names.filterNot { case (k, _) => afterwards(k) }
      .map { case (k, u) => (k, all.getOrElse(k, 0.0), u) }
  }
}
