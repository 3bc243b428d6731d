"""Measurements taken from outside the program under test.

- `Procs`: CPU time and peak RSS of the driver, the Spark JVM and the
  Python workers, read from /proc (Linux).
- `StatusStore`: per-unit diffs of Spark's `AppStatusStore`, which Spark
  keeps even with `spark.ui.enabled=false`.
- `Tracer`: in-memory spans around calls into the program's modules, with
  self time, plus Spark job tags that attribute jobs to the open span.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- /proc --------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are positional
    rparen = raw.rindex(")")
    return [raw[: rparen + 1]] + raw[rparen + 2:].split()


def process_start_s() -> float:
    """Seconds since this process started, from the kernel's start time."""
    fields = _stat_fields(os.getpid())
    start = int(fields[20]) / CLK_TCK  # field 22 of stat(5): starttime
    with open("/proc/uptime") as f:
        return float(f.read().split()[0]) - start


def _cpu_s(pid: int, with_children: bool) -> float:
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    ticks = int(f[12]) + int(f[13])  # utime, stime
    if with_children:
        ticks += int(f[14]) + int(f[15])  # reaped children: cutime, cstime
    return ticks / CLK_TCK


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                out[int(name)] = int(f[2])
    return out


def _status_kib(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Procs:
    """The driver (this process), its JVM child and the JVM's Python workers."""

    def __init__(self, jvm_pid: int) -> None:
        self.driver = os.getpid()
        self.jvm = jvm_pid

    def workers(self) -> list[int]:
        parents = _ppid_map()
        found, frontier = [], {self.jvm}
        while frontier:
            kids = {p for p, pp in parents.items() if pp in frontier}
            found.extend(kids)
            frontier = kids
        return found

    def cpu_s(self) -> dict[str, float]:
        """Cumulative CPU seconds. Worker CPU counts live workers and, through
        the pyspark daemon's cutime/cstime, workers it already reaped."""
        return {
            "driver": _cpu_s(self.driver, with_children=False),
            "jvm": _cpu_s(self.jvm, with_children=False),
            "pyworkers": sum(_cpu_s(p, with_children=True) for p in self.workers()),
        }

    def peak_rss_mib(self) -> dict[str, float]:
        return {
            "driver": _status_kib(self.driver, "VmHWM:") / 1024,
            "jvm": _status_kib(self.jvm, "VmHWM:") / 1024,
        }


def host_steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def cpu_diff(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}


# -- Spark status store -------------------------------------------------


class StatusStore:
    """Reads jobs and stages from the driver's AppStatusStore as JSON."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self.jvm = jvm
        self.store = sc._jsc.sc().statusStore()
        self.bus = sc._jsc.sc().listenerBus()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self.seen_job = self._max_job_id()

    def _json(self, obj) -> object:
        return json.loads(self.mapper.writeValueAsString(obj))

    def _jobs(self) -> list[dict]:
        self.bus.waitUntilEmpty(10_000)
        return self._json(self.store.jobsList(self.jvm.java.util.ArrayList()))

    def _max_job_id(self) -> int:
        return max((j["jobId"] for j in self._jobs()), default=-1)

    def new_jobs(self) -> tuple[list[dict], list[dict]]:
        """Jobs started since the last call, and the last attempt of each of
        their stages that ran (skipped stages have no attempt)."""
        jobs = [j for j in self._jobs() if j["jobId"] > self.seen_job]
        jobs.sort(key=lambda j: j["jobId"])
        if jobs:
            self.seen_job = jobs[-1]["jobId"]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        arr = self.jvm.java.util.ArrayList()
        for sid in stage_ids:
            try:
                arr.add(self.store.lastStageAttempt(sid))
            except Exception:  # noqa: BLE001 - skipped stage: never attempted
                continue
        stages = [s for s in self._json(arr) if s.get("status") in ("COMPLETE", "FAILED")]
        return jobs, stages


def engine_totals(jobs: list[dict], stages: list[dict]) -> dict[str, float]:
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
        "executor_run_ms": sum(s["executorRunTime"] for s in stages),
        "executor_cpu_ms": sum(s["executorCpuTime"] for s in stages) / 1e6,
        "gc_ms": sum(s["jvmGcTime"] for s in stages),
        "shuffle_write_kib": sum(s["shuffleWriteBytes"] for s in stages) / 1024,
        "input_kib": sum(s["inputBytes"] for s in stages) / 1024,
        "spill_kib": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages) / 1024,
        "records_written": sum(s["outputRecords"] for s in stages),
    }


# -- spans --------------------------------------------------------------

_MISSING = object()


class Patches:
    """Attribute replacements on modules, classes or instances, undone in
    reverse order by `restore()`."""

    def __init__(self) -> None:
        self._saved: list = []

    def set(self, owner, attr: str, new) -> None:
        self._saved.append((owner, attr, vars(owner).get(attr, _MISSING)))
        setattr(owner, attr, new)

    def restore(self) -> None:
        for owner, attr, old in reversed(self._saved):
            if old is _MISSING:  # an instance attribute shadowing a method
                delattr(owner, attr)
            else:
                setattr(owner, attr, old)
        self._saved.clear()

TAG_PREFIX = "cdcbench-"
TRACE_TAG = TAG_PREFIX + "trace"  # jobs the tracer itself starts


class Tracer:
    """Spans kept in memory; each span's Spark jobs carry its tag.

    Only the innermost open span's tag is set, so a job belongs to exactly
    one span. `active` is False during untraced units: wrappers then call
    straight through.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.active = False
        self.unit: object = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "unit": self.unit, "parent": parent["id"] if parent else None,
               "id": len(self.spans), "t0": time.perf_counter(), "child_s": 0.0}
        self.spans.append(rec)
        if parent:
            self.sc.removeJobTag(TAG_PREFIX + parent["name"])
        self.sc.addJobTag(TAG_PREFIX + name)
        self._stack.append(rec)
        try:
            yield
        finally:
            self._stack.pop()
            self.sc.removeJobTag(TAG_PREFIX + name)
            if parent:
                self.sc.addJobTag(TAG_PREFIX + parent["name"])
            rec["t1"] = time.perf_counter()
            if parent:
                parent["child_s"] += rec["t1"] - rec["t0"]

    def wrap(self, name: str, fn):
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return traced

    def count(self, df) -> int:
        """Row count taken for the trace; its jobs are excluded from totals."""
        self.sc.addJobTag(TRACE_TAG)
        try:
            return df.count()
        finally:
            self.sc.removeJobTag(TRACE_TAG)

    def self_ms(self, unit) -> dict[str, float]:
        """Self time (span minus its children) per span name, for one unit."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["unit"] == unit and "t1" in s:
                out[s["name"]] += (s["t1"] - s["t0"] - s["child_s"]) * 1000
        return out

    def calls(self, unit, name: str) -> int:
        return sum(1 for s in self.spans if s["unit"] == unit and s["name"] == name)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def job_phase(job: dict) -> str | None:
    """Name of the span a job ran under ("trace" for the tracer's own jobs);
    None for jobs outside any span."""
    tags = job.get("jobTags", [])
    if TRACE_TAG in tags:
        return "trace"
    for tag in tags:
        if tag.startswith(TAG_PREFIX):
            return tag[len(TAG_PREFIX):]
    return None
