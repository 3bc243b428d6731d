"""The CDC workloads: a closed loop of one client against the composed service.

The client publishes segment k+1 only after segment k has committed. A
segment is one JSON-lines file, renamed into the source directory in one
step so that the file source admits it whole, as one micro-batch. A segment
has committed when the stream's commit log holds its batch.

Measured per segment: latency from the rename to the commit-log entry.
"""

from __future__ import annotations

import os
import statistics
import time

from cdcbench import names, probes
from cdcbench.gen import SHAPES, Generator, Segment

# Segments run before the measured window: the batch wall settles after
# about three batches (the first one takes ~4x a settled one); more would
# not fit the per-run time budget.
WARMUP_SEGMENTS = {"cdc_tail": 3, "cdc_backfill": 2}
COMMIT_TIMEOUT_S = 120.0
TABLES = ("public.orders", "public.accounts")


class Publisher:
    def __init__(self, src_dir: str, commits_dir: str) -> None:
        self.src_dir = src_dir
        self.commits_dir = commits_dir
        os.makedirs(src_dir, exist_ok=True)

    def publish(self, seg: Segment) -> float:
        """Write the segment and admit it atomically; returns the publish time."""
        name = f"seg-{seg.index:06d}.json"
        staged = os.path.join(self.src_dir, "." + name)  # hidden: not listed
        with open(staged, "wb") as f:
            f.write(seg.data)
        t0 = time.perf_counter()
        os.rename(staged, os.path.join(self.src_dir, name))
        return t0

    def wait_commit(self, batch_id: int, query) -> float | None:
        """Time the commit-log entry of `batch_id` appeared; None on timeout
        or when the stream died."""
        path = os.path.join(self.commits_dir, str(batch_id))
        deadline = time.perf_counter() + COMMIT_TIMEOUT_S
        n = 0
        while time.perf_counter() < deadline:
            if os.path.exists(path):
                return time.perf_counter()
            n += 1
            if n % 1000 == 0 and not query.isActive:
                return None
            time.sleep(0.001)
        return None


def _sink_bucket_bytes(sink_dir: str, buckets: set[int]) -> int:
    total = 0
    for b in buckets:
        d = os.path.join(sink_dir, f"commit_bucket={b}")
        if os.path.isdir(d):
            total += sum(e.stat().st_size for e in os.scandir(d)
                         if e.name.endswith(".parquet"))
    return total


def _sink_files(sink_dir: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(sink_dir):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


class PipelineTrace:
    """Spans around the pipeline's phases, installed from outside the module.

    Wraps the module-level `ckpt` and `normalize_changelog` the pipeline
    calls, the pipeline's pending-store and sink helpers, `DataFrame.first`
    (the dedup span probe) and `DataFrameWriter.parquet` on the sink path.
    Everything is restored by `close()`.
    """

    def __init__(self, app, tracer: probes.Tracer) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        from better_cdc_spark.streaming import pipeline as pipeline_mod

        self.counts: dict = {}
        self.patches = probes.Patches()
        patch, t, pipe = self.patches.set, tracer, app.pipeline
        patch(pipeline_mod, "ckpt", t.wrap("ckpt", pipeline_mod.ckpt))
        orig_norm = pipeline_mod.normalize_changelog

        def normalize(*a, **kw):
            with t.span("normalize"):
                env = orig_norm(*a, **kw)
            if t.active:
                with t.span("trace"):
                    self.counts["events_committed"] = t.count(env)
            return env

        patch(pipeline_mod, "normalize_changelog", normalize)
        patch(pipe, "_pending_epoch_dirs", t.wrap("pending_list", pipe._pending_epoch_dirs))
        orig_read = pipe._read_pending

        def read_pending(*a, **kw):
            with t.span("pending_read"):
                df = orig_read(*a, **kw)
            if t.active:
                with t.span("trace"):
                    self.counts["pending_carried_rows"] = t.count(df)
            return df

        patch(pipe, "_read_pending", read_pending)
        patch(pipe, "_write_pending", t.wrap("pending_write", pipe._write_pending))
        patch(pipe, "_read_sink_raw", t.wrap("sink_read", pipe._read_sink_raw))
        patch(pipe, "_process_batch", t.wrap("add_batch", pipe._process_batch))
        patch(DataFrame, "first", t.wrap("dedup_span", DataFrame.first))
        orig_parquet = DataFrameWriter.parquet
        sink_dir = pipe.sink_dir

        def parquet(w_self, path, *a, **kw):
            if path == sink_dir:
                with t.span("sink_write"):
                    return orig_parquet(w_self, path, *a, **kw)
            return orig_parquet(w_self, path, *a, **kw)

        patch(DataFrameWriter, "parquet", parquet)

    def close(self) -> None:
        self.patches.restore()


def run(spark, workload: str, seed: int, seconds: float, trace: bool,
        work_dir: str, jvm_pid: int, t_setup0: float, setup: dict) -> dict:
    """Drive one CDC workload; returns metrics, notes and the verdict."""
    from better_cdc_spark import config as config_mod
    from better_cdc_spark.app import EngineApp

    cfg = config_mod.EngineConfig(health_addr="127.0.0.1:0", table_filter=TABLES).validate()
    src_dir = os.path.join(work_dir, "src")
    os.makedirs(src_dir, exist_ok=True)
    app = EngineApp(spark, cfg, src_dir, os.path.join(work_dir, "engine"))
    tracer = probes.Tracer(spark) if trace else None
    ptrace = PipelineTrace(app, tracer) if trace else None
    t = time.perf_counter()
    app.start()
    setup["stream_start_s"] = time.perf_counter() - t
    setup_s = time.perf_counter() - t_setup0

    pub = Publisher(src_dir, os.path.join(app.pipeline.checkpoint_dir, "commits"))
    gen = Generator(SHAPES[workload], seed)
    procs = probes.Procs(jvm_pid)
    store = probes.StatusStore(spark) if trace else None
    commit_seg: dict[int, int] = {}  # xid -> segment index of its commit
    published = failed = 0
    units: list[dict] = []
    warm: list[dict] = []

    def one_segment(measured: bool, traced: bool) -> bool:
        nonlocal published, failed
        seg = gen.next_segment()
        for x in seg.commit_xids:
            commit_seg[x] = seg.index
        before_bytes = before_files = 0
        if traced:
            before_bytes = _sink_bucket_bytes(app.pipeline.sink_dir, seg.buckets)
            before_files = _sink_files(app.pipeline.sink_dir)
            tracer.unit = seg.index
            ptrace.counts.clear()
        if tracer:
            tracer.active = traced
        t0 = pub.publish(seg)
        published += 1
        t1 = pub.wait_commit(seg.index, app.query)
        if tracer:
            tracer.active = False
        if t1 is None:
            failed += 1
            return False
        u = {"seg": seg, "latency_s": t1 - t0, "traced": traced}
        if store is not None:
            jobs, stages = store.new_jobs()
            if traced:
                u["jobs"], u["stages"] = jobs, stages
                u["counts"] = dict(ptrace.counts)
                u["dedup_read_kib"] = before_bytes / 1024
                u["sink_files"] = _sink_files(app.pipeline.sink_dir) - before_files
        (units if measured else warm).append(u)
        return True

    ok = True
    t_w = time.perf_counter()
    for _ in range(WARMUP_SEGMENTS[workload]):
        ok = ok and one_segment(False, False)
    setup["warmup_s"] = time.perf_counter() - t_w

    cpu0, steal0 = procs.cpu_s(), probes.host_steal_ticks()
    t_m = time.perf_counter()
    i = 0
    while ok and time.perf_counter() - t_m < seconds:
        ok = one_segment(True, trace and i % 2 == 0)
        i += 1
    cpu = probes.cpu_diff(cpu0, procs.cpu_s())
    steal1 = probes.host_steal_ticks()
    window_s = time.perf_counter() - t_m

    # stop the stream before checking: the sink and pending store are final
    progress = {p.batchId: p for p in app.query.recentProgress}
    app.stop()
    if ptrace:
        ptrace.close()
    t_v = time.perf_counter()
    check = verify(spark, app.pipeline, src_dir, commit_seg, gen)
    check["verify_s"] = time.perf_counter() - t_v
    failed += check["failed_segments"]

    lat = [u["latency_s"] * 1000 for u in units if not u["traced"]] or [0.0]
    ops = sum(u["seg"].ops for u in units if not u["traced"])
    drain_s = sum(u["latency_s"] for u in units if not u["traced"])
    cpu_total_ms = sum(cpu.values()) * 1000
    tail_ms, tail_label = names.tail(lat)
    half = len(lat) // 2
    notes = {
        "units": len(lat),
        "warmup_ms": [u["latency_s"] * 1000 for u in warm],
        "unit_ms": lat,
        "setup": setup,
        "op_tail": tail_label,
        "window_s": window_s,
        "host_steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "half_p50_ms": [statistics.median(lat[:half] or lat), statistics.median(lat[half:])],
        "check": check,
    }
    result = {"attempted": published, "failed": failed, "notes": notes}
    if not trace:
        result["metrics"] = {
            "ops_per_s": ops / drain_s if drain_s else 0.0,
            "op_p50_ms": statistics.median(lat),
            "op_tail_ms": tail_ms,
            "cpu_ms_per_op": cpu_total_ms / ops if ops else 0.0,
            "setup_s": setup_s,
        }
    else:
        result["layers"] = _layers(units, progress, tracer, cpu, procs, spark)
        result["tracer"] = tracer
    return result


def _layers(units, progress, tracer, cpu, procs, spark) -> dict:
    traced = [u for u in units if u["traced"]]
    plain = [u for u in units if not u["traced"]]
    n = max(1, len(traced))
    cores = spark.sparkContext.defaultParallelism
    L: dict[str, float] = {}

    def avg(f) -> float:
        return sum(f(u) for u in traced) / n

    # streaming: Spark's own progress durations of the traced batches
    def dur(u, *keys):
        p = progress.get(u["seg"].index)
        return sum((p.durationMs or {}).get(k, 0) for k in keys) if p else 0.0

    L["streaming.latest_offset_ms"] = avg(lambda u: dur(u, "latestOffset"))
    L["streaming.planning_ms"] = avg(lambda u: dur(u, "queryPlanning", "getBatch"))
    L["streaming.commit_ms"] = avg(lambda u: dur(u, "walCommit", "commitOffsets"))

    def self_ms(u, name):
        return tracer.self_ms(u["seg"].index).get(name, 0.0)

    def span_ms(u, name):
        return sum((s["t1"] - s["t0"]) * 1000 for s in tracer.spans
                   if s["unit"] == u["seg"].index and s["name"] == name and "t1" in s)

    L["pipeline.add_batch_ms"] = avg(lambda u: span_ms(u, "add_batch") - span_ms(u, "trace"))
    L["pipeline.ckpt_calls"] = avg(lambda u: tracer.calls(u["seg"].index, "ckpt"))
    L["pipeline.ckpt_ms"] = avg(lambda u: self_ms(u, "ckpt"))
    L["pipeline.pending_list_ms"] = avg(lambda u: self_ms(u, "pending_list"))
    L["pipeline.pending_read_ms"] = avg(lambda u: self_ms(u, "pending_read"))
    L["pipeline.pending_write_ms"] = avg(lambda u: self_ms(u, "pending_write"))
    L["pipeline.dedup_span_ms"] = avg(lambda u: self_ms(u, "dedup_span"))
    L["pipeline.sink_write_ms"] = avg(lambda u: self_ms(u, "sink_write"))
    L["normalize.build_ms"] = avg(lambda u: self_ms(u, "normalize"))
    for phase in names.PIPELINE_PHASES:
        L[f"pipeline.{phase}_jobs"] = avg(
            lambda u, ph=phase: sum(1 for j in u["jobs"] if probes.job_phase(j) == ph))
    L["pipeline.other_jobs"] = avg(lambda u: sum(
        1 for j in u["jobs"]
        if probes.job_phase(j) not in (*names.PIPELINE_PHASES, "trace")))

    def engine(u):
        jobs = [j for j in u["jobs"] if probes.job_phase(j) != "trace"]
        ids = {s for j in jobs for s in j["stageIds"]}
        return probes.engine_totals(jobs, [s for s in u["stages"] if s["stageId"] in ids])

    def written(u):
        jobs = [j for j in u["jobs"] if probes.job_phase(j) == "sink_write"]
        ids = {s for j in jobs for s in j["stageIds"]}
        return probes.engine_totals(jobs, [s for s in u["stages"]
                                           if s["stageId"] in ids])["records_written"]

    L["cdc.ops_in"] = avg(lambda u: u["seg"].ops)
    L["cdc.redelivered_ops"] = avg(lambda u: u["seg"].redelivered_ops)
    L["cdc.pending_carried_rows"] = avg(lambda u: u["counts"].get("pending_carried_rows", 0))
    L["cdc.events_committed"] = avg(lambda u: u["counts"].get("events_committed", 0))
    L["cdc.events_written"] = avg(written)
    L["cdc.dedup_dropped"] = L["cdc.events_committed"] - L["cdc.events_written"]
    L["cdc.write_useful_frac"] = (L["cdc.events_written"] / L["cdc.events_committed"]
                                  if L["cdc.events_committed"] else 0.0)
    L["sink.files"] = avg(lambda u: u["sink_files"])
    # at the first measured batch: it grows with the sink, so an average would
    # depend on how many batches the window held
    L["sink.dedup_read_kib"] = traced[0]["dedup_read_kib"] if traced else 0.0

    eng = [engine(u) for u in traced]
    for k in names.ENGINE_KEYS:
        L[f"spark.{k}"] = sum(e[k] for e in eng) / n
    wall_ms = avg(lambda u: u["latency_s"] * 1000)
    L["spark.busy_frac"] = L["spark.executor_run_ms"] / (wall_ms * cores) if wall_ms else 0.0

    units_all = max(1, len(traced) + len(plain))
    for k, v in cpu.items():
        L[f"proc.cpu_ms.{k}"] = v * 1000 / units_all
    for k, v in procs.peak_rss_mib().items():
        L[f"proc.peak_rss_mib.{k}"] = v
    lt = [u["latency_s"] for u in traced]
    lp = [u["latency_s"] for u in plain]
    L["trace.overhead_frac"] = (statistics.median(lt) / statistics.median(lp) - 1
                                if lt and lp else 0.0)
    return L


def _digest(df) -> tuple:
    """Order-insensitive multiset digest: row count and two hash sums."""
    from pyspark.sql import functions as F

    cols = [F.to_json(F.array_sort(F.map_entries(f.name))) if f.dataType.typeName() == "map"
            else F.col(f.name) for f in df.schema.fields]
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h1"),
               F.sum(F.hash(*cols).cast("decimal(38,0)")).alias("h2")).first()
    return (r["n"], r["h1"], r["h2"])


def verify(spark, pipe, src_dir: str, commit_seg: dict[int, int], gen: Generator) -> dict:
    """Sink == normalize_changelog over the committed part of the
    single-delivery corpus; pending store == the in-flight records.

    Compares digests; only on a mismatch does it diff rows to find the
    segments at fault."""
    from pyspark.sql import functions as F

    from better_cdc_spark.cdc.normalize import normalize_changelog
    from better_cdc_spark.schemas import CHANGE_LOG_SCHEMA

    corpus = spark.read.schema(CHANGE_LOG_SCHEMA).json(src_dir)
    # redeliveries repeat whole lines (the generator tests pin this), so the
    # single-delivery corpus is one row per ingest_seq
    single = corpus.dropDuplicates(["ingest_seq"]).localCheckpoint()
    commits = single.filter(F.col("action") == "C").select("xid").distinct()
    committed = single.join(commits, "xid", "left_semi")
    expected = normalize_changelog(committed, database=pipe.database,
                                   allowlist=list(TABLES))
    actual = pipe.sink().select(expected.columns)
    pend = pipe.pending()
    inflight = (single.filter(F.col("action") != "C").join(commits, "xid", "left_anti")
                .select(pend.columns))
    e_d, a_d = _digest(expected), _digest(actual)
    p_ok = _digest(pend) == _digest(inflight)
    bad_segments: set[int] = set()
    if e_d != a_d:
        # materialized first: exceptAll straight over the normalize plan
        # trips an optimizer error (attribute not found)
        def flat(df):
            return df.select([F.to_json(F.array_sort(F.map_entries(c))).alias(c)
                              if c in ("before", "after", "metadata") else F.col(c)
                              for c in df.columns]).localCheckpoint()

        e, a = flat(expected), flat(actual)
        diff = e.exceptAll(a).union(a.exceptAll(e)).select("txid").distinct()
        bad_segments = {commit_seg.get(r["txid"], -1) for r in diff.limit(1000).collect()}
        bad_segments.add(-2)  # at least one failure even if rows can't be placed
    if not p_ok:
        bad_segments.add(gen.index - 1)
    return {
        "sink_rows": a_d[0],
        "expected_rows": e_d[0],
        "sink_match": e_d == a_d,
        "pending_rows": _digest(pend)[0] if not p_ok else None,
        "pending_match": p_ok,
        "failed_segments": len(bad_segments),
    }
