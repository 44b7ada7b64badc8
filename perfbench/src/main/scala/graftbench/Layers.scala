package graftbench

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics every workload reports from the engine's own progress
  * records and the Spark listener, plus the zero-valued names of layers a
  * workload does not exercise.
  */
object Layers {
  val Mb: Double = 1024.0 * 1024.0

  /** Medians of the per-trigger phases Spark reports in `durationMs`. */
  def enginePhases(out: Metrics, progress: Seq[StreamingQueryProgress]): Unit = {
    def med(k: String) = Meter.median(progress.map(Meter.phase(_, k)))
    out("sources.latest_offset_ms", "ms", med("latestOffset"))
    out("sources.get_batch_ms", "ms", med("getBatch"))
    out("spark.query_planning_ms", "ms", med("queryPlanning"))
    out("spark.add_batch_ms", "ms", med("addBatch"))
    out("spark.wal_commit_ms", "ms", med("walCommit"))
    out("spark.commit_offsets_ms", "ms", med("commitOffsets"))
    val trig = progress.map(Meter.phase(_, "triggerExecution"))
    out("spark.trigger_ms", "ms", Meter.median(trig))
    out("spark.triggers", "count", trig.size)
    val q = math.max(1, trig.size / 4)
    out("spark.trigger_ms_drift", "ratio",
      Meter.median(trig.takeRight(q)) / Meter.median(trig.take(q)))
  }

  /** Listener totals and JIT CPU over the timed window, per trigger. */
  def perTrigger(out: Metrics, tasks: Vector[Long], jitNs: Long, triggers: Int): Unit = {
    val n = math.max(1, triggers).toDouble
    out("spark.task_cpu_s", "s", tasks(0) / 1e9 / n)
    out("spark.shuffle_write_mb", "MB", tasks(1) / Mb / n)
    out("spark.spill_mb", "MB", tasks(2) / Mb / n)
    out("spark.gc_ms", "ms", tasks(3) / n)
    out("jvm.jit_cpu_s", "s", jitNs / 1e9 / n)
  }

  /** Zero-valued metrics of layers a workload does not exercise. */
  def bypassed(out: Metrics, names: Seq[(String, String)]): Unit =
    names.foreach { case (n, u) => out(n, u, 0.0) }

  val Corpus: Seq[(String, String)] = Seq(
    "streaming.trigger_ms" -> "ms", "streaming.store_mb" -> "MB",
    "streaming.sink_ms" -> "ms", "streaming.admitted" -> "count",
    "streaming.rejected" -> "count", "streaming.retired" -> "count",
    "streaming.store_files" -> "count", "streaming.store_live_rows" -> "count",
    "streaming.store_dead_rows" -> "count", "streaming.aux_mb" -> "MB")
  val Live: Seq[(String, String)] = Seq(
    "gen.lateness_ms_max" -> "ms", "sources.pending_files_max" -> "count")
}
