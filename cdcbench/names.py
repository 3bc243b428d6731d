"""Metric and query names shared by the workloads, BENCHMARK.json and the doc."""

# The analytics mix; see BENCHMARK.md for why each query is in it.
MIX = (
    "q96e_tfidf_cosine",
    "q96d_semdedup",
    "qc01_cdc_normalize",
    "q36_stat_aggs",
    "q99q_ahash_near_dup",
    "q30_grouped_agg_tpch_q1",
)

END_TO_END = {
    "ops_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "cpu_ms_per_op": "ms",
    "setup_s": "s",
}

PIPELINE_PHASES = ("ckpt", "dedup_span", "sink_write", "pending_write")

PER_LAYER = (
    ["streaming.latest_offset_ms", "streaming.planning_ms", "streaming.commit_ms",
     "pipeline.add_batch_ms", "pipeline.ckpt_calls", "pipeline.ckpt_ms",
     "pipeline.pending_list_ms", "pipeline.pending_read_ms", "pipeline.pending_write_ms",
     "pipeline.dedup_span_ms", "pipeline.sink_write_ms"]
    + [f"pipeline.{p}_jobs" for p in PIPELINE_PHASES] + ["pipeline.other_jobs"]
    + ["normalize.build_ms",
       "cdc.ops_in", "cdc.redelivered_ops", "cdc.pending_carried_rows",
       "cdc.events_committed", "cdc.dedup_dropped", "cdc.events_written",
       "cdc.write_useful_frac", "sink.files", "sink.dedup_read_kib"]
    + [f"spark.{k}" for k in ("jobs", "stages", "tasks", "executor_run_ms",
                              "executor_cpu_ms", "busy_frac", "gc_ms",
                              "shuffle_write_kib", "input_kib", "spill_kib")]
    + ["queries.build_ms", "queries.exec_ms", "session.ckpt_calls", "session.ckpt_ms"]
    + [f"queries.{q}.wall_ms" for q in MIX]
    + ["proc.cpu_ms.driver", "proc.cpu_ms.jvm", "proc.cpu_ms.pyworkers",
       "proc.peak_rss_mib.jvm", "proc.peak_rss_mib.driver",
       "setup.session_s", "setup.registry_s", "setup.stream_start_s", "setup.warmup_s",
       "trace.overhead_frac"]
)

ENGINE_KEYS = ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
               "shuffle_write_kib", "input_kib", "spill_kib")


def unit(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    if name.endswith("_ms") or name.startswith("proc.cpu_ms."):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_kib"):
        return "KiB"
    if name.endswith("_frac"):
        return "fraction"
    if name.startswith("proc.peak_rss_mib."):
        return "MiB"
    return "count"


def tail(values: list[float]) -> tuple[float, str]:
    """Highest percentile with at least ten samples beyond it, and its label.

    Below 20 samples that percentile would sit under the median, which is no
    tail: the maximum is reported instead, and the label says so."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return xs[-1], f"max of {n} (fewer than 20 samples)"
    k = n - 11
    return xs[k], f"p{100 * (k + 1) / n:.0f} of {n} (10 beyond)"
