"""Benchmark entry point: one seeded run of one workload, in this process.

    python3 cdcbench/run.py --workload cdc_tail --seed 1 --seconds 20 --trace 0

Run from the repository root. Prints notes, then as the last stdout line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones.

    python3 cdcbench/run.py --workload cdc_tail --repeat 5 --seed 1 --seconds 20

runs the workload 5 times in fresh processes (seeds 1..5) and prints the
median, quartiles and spread of each end-to-end metric (see steady.py).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_tail", "cdc_backfill", "analytics")


def _configure_env(work: str) -> None:
    """Deployment settings only: cores, a driver heap that fits the host,
    local and temp dirs inside the run's work dir, and an importable package
    for the Python workers."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kib = int(f.readline().split()[1])
    heap_mib = max(1024, min(8192, mem_kib // 1024 // 4))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_mib}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # the JVM's own temp files (artifacts, native libraries) go there too
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        o for o in (os.environ.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={tmp}") if o)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait."""
    from pyspark import SparkContext

    from cdcbench import probes

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = probes.Procs(proc.pid).workers() if proc else []
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        for pid in workers:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass


def run_once(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from cdcbench import names, probes

    t_setup0 = time.perf_counter() - probes.process_start_s()  # process start
    base = os.path.join(ROOT, ".bench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=base)
    spark = None
    try:
        _configure_env(work)
        setup: dict[str, float] = {}
        t = time.perf_counter()
        from better_cdc_spark.session import get_spark

        spark = get_spark("cdcbench")
        spark.sparkContext.setLogLevel("ERROR")
        setup["session_s"] = time.perf_counter() - t
        t = time.perf_counter()
        from better_cdc_spark.queries import load_all

        registry = load_all()
        setup["registry_s"] = time.perf_counter() - t
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        if workload == "analytics":
            from cdcbench import analytics

            res = analytics.run(spark, registry, seed, seconds, trace, jvm_pid, t_setup0, setup)
        else:
            from cdcbench import cdc

            res = cdc.run(spark, workload, seed, seconds, trace, work, jvm_pid,
                          t_setup0, setup)
        if trace:
            layers = res.pop("layers")
            for k in ("session_s", "registry_s", "stream_start_s", "warmup_s"):
                layers[f"setup.{k}"] = setup.get(k, 0.0)
            unknown = set(layers) - set(names.PER_LAYER)
            if unknown:
                raise RuntimeError(f"per-layer metrics not in names.PER_LAYER: {unknown}")
            # a layer the workload does not exercise reads 0
            res["metrics"] = {k: layers.get(k, 0.0) for k in names.PER_LAYER}
            res.pop("tracer").dump(os.path.join(ROOT, ".bench_out",
                                                f"spans-{workload}-{seed}.jsonl"))
        return res
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0,
                    help="steadiness mode: this many fresh-process runs")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    if args.repeat:
        from cdcbench import steady

        return steady.main(args.workload, args.seed, args.seconds, args.trace,
                           args.repeat)
    if not os.path.isfile(os.path.join(ROOT, "better_cdc_spark", "streaming",
                                       "pipeline.py")):
        print("cdcbench: the better_cdc_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    from cdcbench import names

    res = run_once(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"notes": res["notes"]}, default=str))
    out = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": names.unit(k)} for k, v in res["metrics"].items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
