package perfbench

/** The per-layer metrics a traced run reports, by layer. A workload
  * that does not exercise a layer reports 0 for it: no triggers, folds
  * or passes of that kind ran. */
object PerLayer {
  val All: Seq[(String, String)] = Seq(
    "stream.trigger_ms_p50" -> "ms", "stream.jobs_per_trigger" -> "count",
    "stream.closure_self_ms_p50" -> "ms", "stream.commit_ms_p50" -> "ms",
    "stream.plan_ms_p50" -> "ms", "stream.events_per_trigger" -> "count",
    "stream.parallelism" -> "ratio",
    "ingest.cpu_ms_per_kevent" -> "ms", "ingest.append_ms_p50" -> "ms",
    "ingest.files_per_trigger" -> "count", "ingest.bytes_per_event" -> "B",
    "ingest.dead_letter_events" -> "count", "store.bytes_per_input_byte" -> "ratio",
    "snapshot.fold_ms_p50" -> "ms", "snapshot.touched_buckets_p50" -> "count",
    "snapshot.jobs_per_fold" -> "count", "snapshot.rewrite_ratio" -> "ratio",
    "bucketstore.read_touched_ms_p50" -> "ms", "bucketstore.stage_swap_ms_p50" -> "ms",
    "bucketstore.touched_collect_ms_p50" -> "ms",
    "agg.fold_ms_p50" -> "ms", "agg.jobs_per_fold" -> "count",
    "scd2.fold_ms_p50" -> "ms", "scd2.jobs_per_fold" -> "count",
    "join.fold_ms_p50" -> "ms", "join.jobs_per_fold" -> "count",
    "fs.bytes_written_per_trigger" -> "B", "fs.bytes_read_per_trigger" -> "B",
    "versioned.resolve_ms_p50" -> "ms", "versioned.files_listed_per_query" -> "count",
    "versioned.as_of_ms_p50" -> "ms", "versioned.as_of_sql_ms_p50" -> "ms",
    "versioned.changes_between_ms_p50" -> "ms", "versioned.history_ms_p50" -> "ms",
    "versioned.snapshot_ms_p50" -> "ms",
    "snapshot.read_ms_p50" -> "ms", "agg.read_ms_p50" -> "ms",
    "scd2.read_ms_p50" -> "ms", "join.read_ms_p50" -> "ms",
    "kn.pass_s_p50" -> "s",
    "kn.q201_s_p50" -> "s", "kn.q203_s_p50" -> "s", "kn.q205_s_p50" -> "s",
    "kn.q216_s_p50" -> "s", "kn.task_cpu_s_per_pass" -> "s", "kn.parallelism" -> "ratio",
    "kn.stages_per_pass" -> "count", "kn.exchanges_per_pass" -> "count",
    "jvm.gc_ms_per_s" -> "ms/s", "jvm.rss_peak_mb" -> "MB", "trace.overhead_pct" -> "%")

  /** Every per-layer metric, in [[All]]'s order; unmeasured ones are 0. */
  def complete(measured: Seq[Metric]): Seq[Metric] = {
    val m = measured.map(x => x.name -> x).toMap
    val unknown = m.keySet -- All.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer metrics: ${unknown.mkString(", ")}")
    All.map { case (n, u) => m.getOrElse(n, Metric(n, 0.0, u)) }
  }
}
