package perfbench

/** The per-layer metric catalogue. Every traced run reports every entry;
  * a layer a workload never calls reads 0. run.py checks these names
  * against BENCHMARK.json. */
object Layers {
  val catalogue: Seq[(String, String)] = Seq(
    "operators.build_ms" -> "ms", "operators.build_jobs" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "exec.wall_ms" -> "ms", "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms",
    "exec.gc_ms" -> "ms", "exec.tasks" -> "count", "exec.stages" -> "count",
    "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.core_busy_ratio" -> "ratio",
    "exec.single_task_share" -> "ratio",
    "Tables.scan_tasks" -> "count", "Tables.input_bytes" -> "bytes",
    "functions.word_shingles_rows_s" -> "1/s", "functions.minhash_sig_rows_s" -> "1/s",
    "Jpeg.decode_mb_s" -> "MB/s", "Multimodal.frame_hash_frames_s" -> "1/s",
    "streaming.batches" -> "count", "streaming.trigger_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.state_rows" -> "count", "streaming.state_memory_bytes" -> "bytes",
    "streaming.backlog_rows_max" -> "count", "streaming.late_dropped_rows" -> "count",
    "streaming.late_injected_rows" -> "count", "streaming.window_p50_ms" -> "ms",
    "streaming.sustained_eps" -> "1/s", "gen.lag_ms_max" -> "ms",
    "Sinks.write_ms" -> "ms", "Sinks.files" -> "count",
    "serving.api_p50_ms" -> "ms", "serving.api_p99_ms" -> "ms",
    "serving.latest_cached_p50_ms" -> "ms", "serving.latest_uncached_p50_ms" -> "ms",
    "serving.aggregates_p50_ms" -> "ms", "serving.stats_p50_ms" -> "ms",
    "serving.sensors_p50_ms" -> "ms", "serving.query_p50_ms" -> "ms",
    "serving.supplier_ms" -> "ms", "serving.requests" -> "count",
    "ResultCache.hit_ratio" -> "ratio", "ResultCache.builds" -> "count",
    "bench.self_ms" -> "ms", "operators.self_ms" -> "ms", "catalyst.self_ms" -> "ms",
    "exec.self_ms" -> "ms", "streaming.self_ms" -> "ms", "Sinks.self_ms" -> "ms",
    "serving.self_ms" -> "ms", "functions.self_ms" -> "ms", "Jpeg.self_ms" -> "ms",
    "Multimodal.self_ms" -> "ms",
    "overhead.wall_s" -> "s", "overhead.p50_ms" -> "ms", "overhead.p90_ms" -> "ms",
    "scaling.localN_wall_s" -> "s", "scaling.local1_wall_s" -> "s",
    "scaling.speedup" -> "ratio",
    "scaling.localN_sustained_eps" -> "1/s", "scaling.local1_sustained_eps" -> "1/s")

  private val units = catalogue.toMap

  /** Fill every catalogue entry, 0 where the run measured nothing. */
  def complete(measured: Map[String, Double]): Map[String, Metric] = {
    val unknown = measured.keySet -- units.keySet
    require(unknown.isEmpty, s"metrics missing from the catalogue: $unknown")
    catalogue.map { case (n, u) =>
      n -> Metric(measured.get(n).filterNot(_.isNaN).getOrElse(0.0), u)
    }.toMap
  }

  /** Counters of the exec/catalyst/Tables layers and the self times of
    * every layer that recorded spans. */
  def fromListeners(tracer: Tracer, exec: ExecListener, cat: CatalystListener,
      spans: Seq[Span], cores: Int): Map[String, Double] = {
    val self = tracer.selfMs(spans).map { case (l, ms) => s"$l.self_ms" -> ms }
      .filter { case (k, _) => units.contains(k) }
    val writes = spans.filter(_.name == "exec.write")
    val wallMs = writes.map(_.durMs).sum
    val singleMs = writes.filter { w =>
      exec.longestTask.getOrElse(w.id, 0L) >= 0.5 * w.durMs
    }.map(_.durMs).sum
    val builds = spans.filter(_.name == "operators.build")
    self ++ Map(
      "operators.build_ms" -> builds.map(_.durMs).sum,
      "operators.build_jobs" -> builds.map(b => exec.jobsUnder.getOrElse(b.id, 0)).sum.toDouble,
      "catalyst.analysis_ms" -> cat.phaseMs.getOrElse("analysis", 0L).toDouble,
      "catalyst.optimization_ms" -> cat.phaseMs.getOrElse("optimization", 0L).toDouble,
      "catalyst.planning_ms" -> cat.phaseMs.getOrElse("planning", 0L).toDouble,
      "exec.wall_ms" -> wallMs,
      "exec.task_run_ms" -> exec.taskRunMs.sum.toDouble,
      "exec.task_cpu_ms" -> exec.taskCpuNs.sum / 1e6,
      "exec.gc_ms" -> exec.gcMs.sum.toDouble,
      "exec.tasks" -> exec.tasks.sum.toDouble,
      "exec.stages" -> exec.stages.sum.toDouble,
      "exec.shuffle_read_bytes" -> exec.shuffleRead.sum.toDouble,
      "exec.shuffle_write_bytes" -> exec.shuffleWrite.sum.toDouble,
      "exec.spill_bytes" -> exec.spill.sum.toDouble,
      "exec.core_busy_ratio" ->
        (if (wallMs > 0) exec.taskRunMs.sum / (wallMs * cores) else 0.0),
      "exec.single_task_share" -> (if (wallMs > 0) singleMs / wallMs else 0.0),
      "Tables.scan_tasks" -> exec.scanTasks.sum.toDouble,
      "Tables.input_bytes" -> exec.inputBytes.sum.toDouble)
  }
}
