"""Summarise traced benchmark runs: per-layer metrics per workload, span
self times, and the tracing overhead against an untraced run.

    python3 perfbench/summarize.py [runs_dir]

Reads the run records ``perfbench/run.py`` writes to
``perfbench/_work/runs/``. For each workload with a traced record it prints
the per-layer metrics (marking those measured by the traced run's probe of
layers the workload leaves idle), the self time of every span name (span
time minus the time its child spans cover), and the tracing overhead: the
tracer's own bookkeeping and REST reads, and the difference in op latency
and throughput between the traced run and an untraced run of the same
workload (same seed when there is one).
"""

from __future__ import annotations

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _load(runs_dir: str) -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(runs_dir, "*.json"))):
        with open(path) as f:
            rec = json.load(f)
        rec["_mtime"] = os.path.getmtime(path)
        out.append(rec)
    return out


def _pick(records: list[dict], workload: str, trace: int, seed: int | None) -> dict | None:
    cands = [r for r in records if r["workload"] == workload and r["trace"] == trace]
    same = [r for r in cands if r["seed"] == seed]
    pool = same or cands
    return max(pool, key=lambda r: r["_mtime"]) if pool else None


def summarize(runs_dir: str) -> str:
    sys.path.insert(0, HERE)
    from workloads import REPORTED_LAYER, UNITS

    records = _load(runs_dir)
    lines: list[str] = []
    for workload in sorted({r["workload"] for r in records}):
        traced = _pick(records, workload, 1, None)
        if traced is None:
            continue
        plain = _pick(records, workload, 0, traced["seed"])
        probed = set(traced["detail"].get("probed_layers", []))
        lines.append(f"== {workload} (traced seed {traced['seed']}, "
                     f"{'correct' if not traced['failures'] else 'FAILED'})")
        lines.append("-- per-layer metrics (* = measured by the probe of idle layers)")
        for name in REPORTED_LAYER:
            if name in traced["layer"]:
                mark = "*" if name in probed else " "
                lines.append(f"  {mark} {name:40s} {traced['layer'][name]:14.6g} {UNITS[name]}")
        lines.append("-- self time by span, measured region (s)")
        for name, secs in sorted(traced["detail"].get("self_time_s", {}).items(), key=lambda kv: -kv[1]):
            lines.append(f"    {name:40s} {secs:10.4f}")
        lines.append("-- tracing overhead")
        lines.append(f"    tracer bookkeeping + REST reads, per op (s) {traced['layer'].get('trace.overhead_per_op_s', 0.0):10.4f}")
        if plain is not None:
            for m in ("op_p50_s", "op_p90_s", "ops_per_s"):
                t, u = traced["e2e"][m], plain["e2e"][m]
                lines.append(f"    {m:12s} traced {t:10.4f}  untraced {u:10.4f}  "
                             f"diff {t - u:+10.4f} ({(t - u) / u:+.1%}; untraced seed {plain['seed']})")
        else:
            lines.append("    no untraced run of this workload to compare with")
        lines.append(f"-- host: before {traced['calib_before']}  after {traced['calib_after']}")
    return "\n".join(lines) if lines else f"no traced run records under {runs_dir}"


if __name__ == "__main__":
    print(summarize(sys.argv[1] if len(sys.argv) > 1 else os.path.join(HERE, "_work", "runs")))
