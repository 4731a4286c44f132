"""Measurement plumbing shared by the workloads: op timing, spans, Spark
REST counters, process memory sampling and percentiles.

Untraced runs record only op latencies (what a user of the engine waits
for). Traced runs add spans around every call into an engine layer, plus
per-op Spark job/stage counters read from the UI REST API at the end of the
run; spans are kept in memory and written out with the run record.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import threading
import time
import urllib.request
from dataclasses import dataclass


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


@dataclass
class Op:
    op_id: str
    kind: str
    start: float
    end: float
    ok: bool

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str | None


class Recorder:
    """Op latencies (always) and layer spans (traced runs only).

    ``op`` brackets one user-visible operation: it times it, tags its Spark
    jobs with the op id (so the UI's per-job counters can be attributed to
    it) and counts it as failed if it raises or its result is judged wrong.
    ``span`` brackets one call into an engine layer inside an op.
    """

    def __init__(self, spark_context, traced: bool):
        self.sc = spark_context
        self.traced = traced
        self.ops: list[Op] = []
        self.spans: list[Span] = []
        self.failures: list[str] = []
        self.overhead_s = 0.0  # time spent in span bookkeeping
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_span = 0
        self._next_op = 0

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def op(self, kind: str):
        with self._lock:
            op_id = f"op{self._next_op:05d}"
            self._next_op += 1
        if self.traced:
            self.sc.setJobGroup(op_id, kind, False)
        rec = Op(op_id, kind, time.perf_counter(), 0.0, True)
        self._local.op_id = op_id
        try:
            with self.span(f"op.{kind}"):
                yield rec
        except Exception as e:  # noqa: BLE001 — a failed op is counted, the run continues
            rec.ok = False
            self.fail(f"{kind} {op_id}: {type(e).__name__}: {str(e)[:300]}")
        finally:
            rec.end = time.perf_counter()
            self._local.op_id = None
            with self._lock:
                self.ops.append(rec)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.traced:
            yield
            return
        t0 = time.perf_counter()
        stack = self._stack()
        with self._lock:
            sid = self._next_span
            self._next_span += 1
            parent = stack[-1] if stack else None
            stack.append(sid)
            self.overhead_s += time.perf_counter() - t0
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    Span(sid, name, start, end, parent, getattr(self._local, "op_id", None))
                )
                self.overhead_s += time.perf_counter() - end

    def fail(self, message: str) -> None:
        with self._lock:
            self.failures.append(message)

    def call(self, name: str, fn, *args):
        """``fn(*args)`` inside a span named ``name``."""
        with self.span(name):
            return fn(*args)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: total duration minus the time its direct children
    cover (children of one span never overlap: each is a nested call)."""
    child_cover: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_cover[s.parent] = child_cover.get(s.parent, 0.0) + (s.end - s.start)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child_cover.get(s.span_id, 0.0)
    return out


# ---------------------------------------------------------------- Spark REST


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def exec_counters(sc, ops: list[Op], cores: int) -> dict[str, float]:
    """Spark runtime counters from the UI REST API, each a mean per op
    (jobs are matched to ops by job group, stages to jobs by stage id),
    and the core utilisation of the measured region."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    by_op = {o.op_id: o for o in ops}
    # The UI store is fed by an asynchronous listener: wait until the job
    # list stops growing.
    jobs, prev = [], -1
    for _ in range(20):
        jobs = _get(base + "/jobs")
        if len(jobs) == prev:
            break
        prev = len(jobs)
        time.sleep(0.25)
    mine = [j for j in jobs if j.get("jobGroup") in by_op]
    stage_ids = {sid for j in mine for sid in j.get("stageIds", [])}
    stages = [
        s for s in _get(base + "/stages") if s["stageId"] in stage_ids and s["status"] != "SKIPPED"
    ]
    n_ops = max(1, len(by_op))

    def per_op(key: str, scale: float = 1.0) -> float:
        return sum(s.get(key, 0) for s in stages) / scale / n_ops

    run_s = sum(s.get("executorRunTime", 0) for s in stages) / 1e3
    wall = max(1e-9, max(o.end for o in ops) - min(o.start for o in ops)) if ops else 1e-9
    return {
        "exec.jobs_per_op": len(mine) / n_ops,
        "exec.stages_per_op": len(stages) / n_ops,
        "exec.tasks_per_op": per_op("numTasks"),
        "exec.shuffle_write_bytes": per_op("shuffleWriteBytes"),
        "exec.shuffle_read_bytes": per_op("shuffleReadBytes"),
        "exec.input_bytes": per_op("inputBytes"),
        "exec.spill_bytes": per_op("memoryBytesSpilled") + per_op("diskBytesSpilled"),
        "exec.task_run_s": run_s / n_ops,
        "exec.task_cpu_s": per_op("executorCpuTime", 1e9),
        "exec.gc_s": per_op("jvmGcTime", 1e3),
        "exec.failed_tasks": per_op("numFailedTasks"),
        # busy task time over the measured region's core capacity
        "exec.core_util": run_s / (wall * cores),
    }


# ------------------------------------------------------------ host context


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU jiffies since boot, from /proc/stat: the share of
    time the hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


# ------------------------------------------------------------ process memory


def _proc_mb(pid: int, path: str, key: str) -> float:
    try:
        with open(f"/proc/{pid}/{path}") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _rss_mb(pid: int) -> float:
    return _proc_mb(pid, "status", "VmRSS:")


def _pss_mb(pid: int) -> float:
    """Proportional set size: pages shared with other processes count
    once across them (the forked Python workers share the daemon's)."""
    return _proc_mb(pid, "smaps_rollup", "Pss:")


def _parents() -> dict[int, int]:
    """pid -> ppid for every process visible in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


class RssSampler:
    """Samples the resident memory of the driver Python process and JVM
    (RSS) and of the Python workers (PSS) from /proc on a background
    thread; keeps the peaks."""

    PERIOD_S = 0.5

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_total_mb = 0.0
        self.peak_jvm_mb = 0.0
        self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        ppid = _parents()
        workers: list[int] = []
        frontier = [self.jvm_pid]
        while frontier:  # pyspark.daemon and the workers it forks
            frontier = [p for p, pp in ppid.items() if pp in frontier]
            workers += frontier
        jvm = _rss_mb(self.jvm_pid)
        total = _rss_mb(os.getpid()) + jvm + sum(_pss_mb(p) for p in workers)
        self.peak_total_mb = max(self.peak_total_mb, total)
        self.peak_jvm_mb = max(self.peak_jvm_mb, jvm)
        self.peak_workers = max(self.peak_workers, len(workers))

    def _run(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
