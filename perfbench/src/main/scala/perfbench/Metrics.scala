package perfbench

/** The benchmark's metric catalogue. `BENCHMARK.json` declares the same
  * names; MetricsSpec keeps the two in step. */
object Metrics {
  final case class EndToEnd(name: String, unit: String, meaning: String)

  /** `moves` names the end-to-end metric the layer metric should move
    * and `on` the workload where it should move it. */
  final case class Layer(name: String, unit: String, moves: String, on: String)

  val endToEnd: Seq[EndToEnd] = Seq(
    EndToEnd("setup_s", "s", "JVM start, session, input generation, table cache, warm pass"),
    EndToEnd("wall_s", "s", "median wall time of one timed pass"),
    EndToEnd("op_p50_s", "s", "median operation latency over the timed passes"),
    EndToEnd("heap_retained_mb", "MB", "driver heap in use after a full GC at the end"))

  private val Both = "llm_corpus,snapshot_ingest"
  private val Llm = "llm_corpus"
  private val Ingest = "snapshot_ingest"

  val perLayer: Seq[Layer] = Seq(
    Layer("tables.load_s", "s", "setup_s", Both),
    Layer("tables.cached_mb", "MB", "heap_retained_mb", Both),
    Layer("operators.build_s", "s", "op_p50_s", Both),
    Layer("operators.action_s", "s", "op_p50_s", Both),
    Layer("plan.analysis_s", "s", "op_p50_s", Both),
    Layer("plan.optimization_s", "s", "op_p50_s", Both),
    Layer("plan.planning_s", "s", "op_p50_s", Both),
    Layer("plan.share", "ratio", "op_p50_s", Both),
    Layer("exec.jobs", "count", "wall_s", Both),
    Layer("exec.stages", "count", "wall_s", Both),
    Layer("exec.tasks", "count", "wall_s", Both),
    Layer("exec.task_run_s", "s", "wall_s", Both),
    Layer("exec.task_cpu_s", "s", "wall_s", Both),
    Layer("exec.task_gc_s", "s", "wall_s", Both),
    Layer("exec.core_util", "ratio", "wall_s", Both),
    Layer("exec.shuffle_write_mb", "MB", "docs_per_s", Llm),
    Layer("exec.shuffle_read_mb", "MB", "docs_per_s", Llm),
    Layer("exec.spill_mb", "MB", "docs_per_s", Llm),
    Layer("exec.input_mb", "MB", "wall_s", Both),
    Layer("exec.output_mb", "MB", "wall_s", Both),
    Layer("exec.job_busy_s", "s", "wall_s", Both),
    Layer("exec.driver_gap_s", "s", "commit_p50_s", Ingest),
    Layer("exec.tasks_failed", "count", "wall_s", Both),
    Layer("textops.exact_groups_s", "s", "docs_per_s", Llm),
    Layer("textops.minhash_pairs_cold_s", "s", "docs_per_s", Llm),
    Layer("textops.minhash_pairs_warm_s", "s", "docs_per_s", Llm),
    Layer("textops.simhash_pairs_s", "s", "docs_per_s", Llm),
    Layer("textops.clusters_s", "s", "docs_per_s", Llm),
    Layer("textops.contamination_s", "s", "docs_per_s", Llm),
    Layer("textops.repetition_s", "s", "docs_per_s", Llm),
    Layer("textops.pairs_out", "count", "docs_per_s", Llm),
    Layer("textops.warm_over_cold", "ratio", "docs_per_s", Llm),
    Layer("kernels.ngram_set_rows_per_s", "1/s", "docs_per_s", Llm),
    Layer("kernels.minhash_sig_rows_per_s", "1/s", "docs_per_s", Llm),
    Layer("kernels.simhash_sig_rows_per_s", "1/s", "docs_per_s", Llm),
    Layer("kernels.vec_dot_rows_per_s", "1/s", "docs_per_s", Llm),
    Layer("vectorops.ivf_build_s", "s", "op_p50_s", Llm),
    Layer("vectorops.ivf_save_s", "s", "op_p50_s", Llm),
    Layer("vectorops.ivf_load_s", "s", "op_p50_s", Llm),
    Layer("vectorops.ivf_probe_s", "s", "op_p50_s", Llm),
    Layer("vectorops.brute_topk_s", "s", "op_p50_s", Llm),
    Layer("vectorops.ivf_recall", "ratio", "op_p50_s", Llm),
    Layer("snap.append_s", "s", "commit_p50_s", Ingest),
    Layer("snap.merge_s", "s", "commit_p50_s", Ingest),
    Layer("snap.delete_s", "s", "commit_p50_s", Ingest),
    Layer("snap.compact_s", "s", "commit_p50_s", Ingest),
    Layer("snap.read_latest_s", "s", "read_p50_s", Ingest),
    Layer("snap.read_range_s", "s", "read_p50_s", Ingest),
    Layer("snap.read_asof_s", "s", "read_p50_s", Ingest),
    Layer("snap.versions", "count", "read_p50_s", Ingest),
    Layer("snap.files_live", "count", "read_p50_s", Ingest),
    Layer("snap.range_files_scanned", "count", "read_p50_s", Ingest),
    Layer("snap.range_prune_ratio", "ratio", "read_p50_s", Ingest),
    Layer("snap.month_files_scanned", "count", "read_p50_s", Ingest),
    Layer("snap.bytes_written_mb", "MB", "write_amp", Ingest),
    Layer("snap.bytes_live_mb", "MB", "write_amp", Ingest),
    Layer("stream.triggers", "count", "op_p50_s", Ingest),
    Layer("stream.trigger_s", "s", "op_p50_s", Ingest),
    Layer("stream.add_batch_s", "s", "op_p50_s", Ingest),
    Layer("stream.query_planning_s", "s", "op_p50_s", Ingest),
    Layer("stream.wal_commit_s", "s", "op_p50_s", Ingest),
    Layer("stream.commit_offsets_s", "s", "op_p50_s", Ingest),
    Layer("stream.latest_offset_s", "s", "op_p50_s", Ingest),
    Layer("stream.state_rows", "count", "op_p50_s", Ingest),
    Layer("stream.state_mb", "MB", "op_p50_s", Ingest),
    Layer("stream.lifecycle_s", "s", "wall_s", Ingest),
    Layer("jvm.gc_s", "s", "heap_retained_mb", Both),
    Layer("jvm.heap_peak_mb", "MB", "heap_retained_mb", Both),
    // workload-specific end-to-end readings: every run must report every
    // declared end-to-end metric, so these ride in the traced report
    Layer("docs_per_s", "docs/s", "docs_per_s", Llm),
    Layer("dedup_recall", "ratio", "dedup_recall", Llm),
    Layer("commit_p50_s", "s", "commit_p50_s", Ingest),
    Layer("read_p50_s", "s", "read_p50_s", Ingest),
    Layer("write_amp", "ratio", "write_amp", Ingest),
    Layer("fail_ratio", "ratio", "fail_ratio", Both),
    Layer("trace_overhead_s", "s", "wall_s", Both))

  val workloads: Seq[String] = Seq(Llm, Ingest)
}
