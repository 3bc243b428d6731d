"""The analytics workload: a cross-family registry mix, one client, in passes.

Each query is built with its registry `fn()` (which runs the query's eager
`ckpt`s) and executed through the `noop` sink, which consumes every column
(`count()` would let Catalyst prune them). The seed sets the query order of
each pass.

Before timing, one pass collects every query and hash-checks it against its
DuckDB oracle (`tools/check.compare`); that pass is also the warm-up.
"""

from __future__ import annotations

import itertools
import os
import random
import statistics
import sys
import time
from contextlib import nullcontext

from cdcbench import names, probes

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


class SessionTrace:
    """Spans around `session.ckpt`, patched where each query module imported it."""

    def __init__(self, tracer: probes.Tracer) -> None:
        from better_cdc_spark import session

        self.patches = probes.Patches()
        orig = session.ckpt
        wrapped = tracer.wrap("ckpt", orig)
        for name, mod in list(sys.modules.items()):
            if name.startswith("better_cdc_spark") and getattr(mod, "ckpt", None) is orig:
                self.patches.set(mod, "ckpt", wrapped)

    def close(self) -> None:
        self.patches.restore()


def _check_oracles(spark, registry, order: list[str]) -> list[str]:
    """Collect each query once and compare it with its DuckDB oracle.
    Returns the names that failed."""
    from tools.check import compare, duck_connect

    con = duck_connect(DATA_DIR)
    failed = []
    for q in order:
        spec = registry[q]
        try:
            got = spec.fn(spark, DATA_DIR).toPandas()
            want = con.execute(spec.oracle).df()
        except Exception as e:  # noqa: BLE001 - a failing query is a result
            print(f"analytics: {q} raised {type(e).__name__}: {e}", file=sys.stderr)
            failed.append(q)
            continue
        problems = compare(q, got, want)
        if problems:
            print(f"analytics: {q} oracle mismatch: {problems}", file=sys.stderr)
            failed.append(q)
    con.close()
    return failed


def run(spark, registry, seed: int, seconds: float, trace: bool, jvm_pid: int,
        t_setup0: float, setup: dict) -> dict:
    setup_s = time.perf_counter() - t_setup0
    rng = random.Random(seed)

    def shuffled() -> list[str]:
        order = list(names.MIX)
        rng.shuffle(order)
        return order

    t_w = time.perf_counter()
    bad = _check_oracles(spark, registry, shuffled())
    setup["warmup_s"] = time.perf_counter() - t_w

    procs = probes.Procs(jvm_pid)
    tracer = probes.Tracer(spark) if trace else None
    strace = SessionTrace(tracer) if trace else None
    store = probes.StatusStore(spark) if trace else None
    execs: list[dict] = []
    exec_failed = 0
    span = tracer.span if tracer else (lambda _name: nullcontext())
    cpu0, steal0 = procs.cpu_s(), probes.host_steal_ticks()
    t_m = time.perf_counter()

    def more(n_pass: int) -> bool:
        # Whole passes only, so every query has the same number of samples
        # whatever the seed. The traced run makes two: the first traced, the
        # second not. Otherwise at least two, then more until the window is
        # over: the first pass after the cold one is still ~10% slower, and
        # a fixed floor keeps that share the same in every run.
        if n_pass < 2:
            return True
        return not trace and time.perf_counter() - t_m < seconds

    for n_pass in itertools.count():
        if not more(n_pass):
            break
        for q in shuffled():
            traced = trace and n_pass == 0
            if tracer:
                tracer.active, tracer.unit = traced, (n_pass, q)
            c0 = procs.cpu_s()
            t0 = time.perf_counter()
            try:
                with span("build"):
                    df = registry[q].fn(spark, DATA_DIR)
                t1 = time.perf_counter()
                with span("exec"):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 - counted, the run goes on
                print(f"analytics: {q} raised {type(e).__name__}: {e}", file=sys.stderr)
                exec_failed += 1
                continue
            finally:
                if tracer:
                    tracer.active = False
            x = {"q": q, "pass": n_pass, "build_s": t1 - t0, "exec_s": t2 - t1,
                 "wall_s": t2 - t0, "traced": traced,
                 "cpu_s": sum(probes.cpu_diff(c0, procs.cpu_s()).values())}
            if store is not None:
                x["jobs"], x["stages"] = store.new_jobs()
            execs.append(x)
    cpu = probes.cpu_diff(cpu0, procs.cpu_s())
    steal1 = probes.host_steal_ticks()
    window_s = time.perf_counter() - t_m
    if strace:
        strace.close()

    plain = [x for x in execs if not x["traced"]]
    by_q = {q: [x for x in plain if x["q"] == q] for q in names.MIX}
    by_q = {q: xs for q, xs in by_q.items() if xs}
    per_q = {q: statistics.median(x["wall_s"] for x in xs) for q, xs in by_q.items()}
    cpu_q = {q: statistics.median(x["cpu_s"] for x in xs) for q, xs in by_q.items()}
    walls_ms = [x["wall_s"] * 1000 for x in plain]
    tail_ms, tail_label = names.tail(walls_ms)
    # trend within the run: each query's second sample against its first
    twice = [xs for xs in by_q.values() if len(xs) > 1]
    notes = {
        "units": len(plain),
        "setup": setup,
        "oracle_failed": bad,
        "op_tail": tail_label,
        "window_s": window_s,
        "host_steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "per_query_ms": {q: v * 1000 for q, v in per_q.items()},
        "half_p50_ms": ([statistics.median(xs[0]["wall_s"] * 1000 for xs in twice),
                         statistics.median(xs[1]["wall_s"] * 1000 for xs in twice)]
                        if twice else None),
    }
    res = {"attempted": len(names.MIX) + len(execs) + exec_failed,
           "failed": len(bad) + exec_failed, "notes": notes}
    if not trace:
        # Throughput, p50 and CPU over the mix use each query's median, so
        # a window that ends mid-pass does not tilt the mix toward the
        # queries the seed put first.
        res["metrics"] = {
            "ops_per_s": len(per_q) / sum(per_q.values()),
            "op_p50_ms": statistics.median(per_q.values()) * 1000,
            "op_tail_ms": tail_ms,
            "cpu_ms_per_op": statistics.fmean(cpu_q.values()) * 1000,
            "setup_s": setup_s,
        }
    else:
        res["layers"] = _layers(execs, tracer, cpu, procs, spark)
        res["tracer"] = tracer
    return res


def _layers(execs, tracer, cpu, procs, spark) -> dict:
    traced = [x for x in execs if x["traced"]]
    plain = [x for x in execs if not x["traced"]]
    n = max(1, len(traced))
    cores = spark.sparkContext.defaultParallelism
    L: dict[str, float] = {}
    L["queries.build_ms"] = sum(x["build_s"] for x in traced) * 1000 / n
    L["queries.exec_ms"] = sum(x["exec_s"] for x in traced) * 1000 / n
    L["session.ckpt_calls"] = sum(tracer.calls((x["pass"], x["q"]), "ckpt") for x in traced) / n
    L["session.ckpt_ms"] = sum(tracer.self_ms((x["pass"], x["q"])).get("ckpt", 0.0)
                               for x in traced) / n
    for x in traced:
        L[f"queries.{x['q']}.wall_ms"] = x["wall_s"] * 1000
    eng = []
    for x in traced:
        jobs = [j for j in x["jobs"] if probes.job_phase(j) != "trace"]
        eng.append(probes.engine_totals(jobs, x["stages"]))
    for k in names.ENGINE_KEYS:
        L[f"spark.{k}"] = sum(e[k] for e in eng) / n
    wall_ms = sum(x["wall_s"] for x in traced) * 1000 / n
    L["spark.busy_frac"] = L["spark.executor_run_ms"] / (wall_ms * cores) if wall_ms else 0.0
    for k, v in cpu.items():
        L[f"proc.cpu_ms.{k}"] = v * 1000 / max(1, len(execs))
    for k, v in procs.peak_rss_mib().items():
        L[f"proc.peak_rss_mib.{k}"] = v
    t_sum = sum(x["wall_s"] for x in traced)
    p_sum = sum(x["wall_s"] for x in plain)
    L["trace.overhead_frac"] = t_sum / p_sum - 1 if t_sum and p_sum else 0.0
    return L
