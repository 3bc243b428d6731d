"""Steadiness evidence: K runs of one workload, each in a fresh process.

Prints, per metric, the median, the quartiles, the quartile spread as a
share of the median (what the bounds in BENCHMARK.json are set from) and
the max/min ratio. It also prints each run's first-half vs second-half
median unit latency (a trend within a run: JIT settle, sink growth in the
daily dedup bucket) and the host's steal share.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "iqr_frac": (q3 - q1) / med if med else 0.0,
        "max_over_min": max(values) / min(values) if min(values) else float("inf"),
    }


def main(workload: str, seed: int, seconds: float, trace: int, k: int) -> int:
    runs = []
    log = os.path.join(os.path.dirname(HERE), ".bench_out", f"steady-{workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    print(f"per-run notes and results: {log}")
    for i in range(k):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
               "--seed", str(seed + i), "--seconds", str(seconds), "--trace", str(trace)]
        p = subprocess.run(cmd, capture_output=True, text=True, cwd=os.path.dirname(HERE))
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            print(f"run {i} (seed {seed + i}) failed, exit {p.returncode}:\n{p.stderr[-2000:]}",
                  file=sys.stderr)
            return 1
        notes, result = json.loads(lines[-2])["notes"], json.loads(lines[-1])
        runs.append((notes, result))
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed + i, "notes": notes, "result": result}) + "\n")
        half = notes["half_p50_ms"] or [float("nan")] * 2
        print(f"seed {seed + i}: correct={result['correct']} "
              f"{result['failed']}/{result['attempted']} failed, units={notes['units']}, "
              f"half p50 {half[0]:.0f} -> {half[1]:.0f} ms, "
              f"steal {notes['host_steal_frac']:.3f}, tail {notes['op_tail']}", flush=True)
    metrics = sorted(runs[0][1]["metrics"])
    summary = {}
    print(f"\n{'metric':34s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s} {'max/min':>8s}")
    for m in metrics:
        s = summarize([r["metrics"][m]["value"] for _, r in runs])
        summary[m] = s
        print(f"{m:34s} {s['median']:12.4f} {s['q1']:12.4f} {s['q3']:12.4f} "
              f"{s['iqr_frac']:8.3f} {s['max_over_min']:8.3f}")
    halves = [n["half_p50_ms"][1] / n["half_p50_ms"][0] for n, _ in runs if n["half_p50_ms"]]
    if halves:
        summary["half_ratio"] = summarize(halves)
        print(f"{'second/first half p50':34s} {summary['half_ratio']['median']:12.4f}")
    print(json.dumps({"workload": workload, "runs": k, "all_correct":
                      all(r["correct"] for _, r in runs), "summary": summary}))
    return 0
