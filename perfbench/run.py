"""The engine's benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload olap_adhoc --seed 1 --seconds 10 --trace 0

Run from the repository root. It generates the workload's inputs from the
seed under ``perfbench/_work/``, sets the engine up (session, view
registration, the workload's warm-up: ``setup_s``), drives the workload for
``--seconds``, checks every output, and prints one JSON object as the last
line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
Spark UI, records spans around every call into an engine layer and reports
the per-layer metrics instead. Each run also writes its full record (every
metric it measured, the session settings, host calibration, spans) to
``perfbench/_work/runs/``; ``python3 perfbench/summarize.py`` reads those.
See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
WORKLOADS = ("olap_adhoc", "ingest_curate")


def session_settings(traced: bool) -> tuple[dict[str, str], dict[str, str]]:
    """(environment, extra_conf) pinning ``get_session`` to this host.

    All cores, one shuffle partition per core, driver heap well below
    physical memory, no console progress bars, the UI only when traced,
    and every scratch write inside the benchmark's work directory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(next(line for line in f if line.startswith("MemTotal")).split()[1]) // 1024
    tmp = os.path.join(WORK, "tmp")
    heap_mb = min(1536, mem_mb // 4)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        # the short-lived JVM that spark-submit runs to build the driver's
        # command line: keep its scratch files in the work directory too
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if traced else "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a fixed-size heap: the JVM's resident size then depends on the
        # work, not on when the collector chose to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{heap_mb}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if traced:
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000",
                     "spark.ui.port": "0"})
    return env, conf


def setup(tables_dir: str, conf: dict, warmup):
    """Session + view registration + the workload's warm-up, each timed."""
    from hdp2_5_hive2_spark.engine import Engine
    from hdp2_5_hive2_spark.session import get_session

    t0 = time.perf_counter()
    spark = get_session(app_name="perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    eng = Engine(tables_dir, spark=spark)  # Engine() is catalog.register_views
    t2 = time.perf_counter()
    warmup(spark, eng)
    t3 = time.perf_counter()
    times = {"session.get_session_s": t1 - t0, "catalog.register_views_s": t2 - t1,
             "warmup_s": t3 - t2, "setup_s": t3 - t0}
    return spark, eng, times


def stop_jvm(spark) -> None:
    """Stop Spark, then end the driver JVM and wait for it: the JVM exits
    when its stdin pipe from this process closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)

    if not os.path.isdir(os.path.join(ROOT, "hdp2_5_hive2_spark")):
        print("perfbench: the engine package hdp2_5_hive2_spark is not in this checkout", file=sys.stderr)
        return 2
    env, conf = session_settings(traced)
    os.environ.update(env)
    for d in (WORK, env["TMPDIR"], env["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    sys.path[:0] = [ROOT, HERE]

    import workloads  # noqa: E402 — needs the paths above

    from bench import _host_calibration
    from harness import cpu_jiffies

    run_dir = os.path.join(WORK, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    calib_before = _host_calibration()
    steal0 = cpu_jiffies()
    inputs = workloads.generate(args.workload, run_dir, args.seed)

    spark, eng, setup_times = setup(inputs["tables"], conf, workloads.WARMUP[args.workload])
    record = workloads.measure(args.workload, spark, eng, inputs, args.seed, args.seconds, traced)
    stop_jvm(spark)
    shutil.rmtree(run_dir, ignore_errors=True)
    steal1 = cpu_jiffies()
    calib_after = _host_calibration()
    calib_after["cpu_steal_share"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

    e2e = dict(record["e2e"])
    e2e["setup_s"] = setup_times["setup_s"]
    layer = dict(record["layer"])
    layer["session.get_session_s"] = setup_times["session.get_session_s"]
    layer["catalog.register_views_s"] = setup_times["catalog.register_views_s"]
    failures = record["failures"]
    chosen = layer if traced else e2e
    names = workloads.REPORTED_LAYER if traced else workloads.REPORTED_E2E
    failures += [f"metric {n} was not measured" for n in names if n not in chosen]
    attempted = record["attempted"]
    failed = min(attempted, len(failures))
    e2e["failed_ratio"] = failed / attempted
    out = {
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": chosen.get(n, 0.0), "unit": workloads.UNITS[n]} for n in names},
    }

    full = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "session_env": env, "session_conf": conf, "setup": setup_times, "inputs": inputs["rows"],
        "calib_before": calib_before, "calib_after": calib_after,
        "e2e": e2e, "layer": layer, "detail": record["detail"], "failures": failures,
        "spans": record.get("spans", []),
    }
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", f"{os.path.basename(run_dir)}.json"), "w") as f:
        json.dump(full, f)
    for msg in failures[:20]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    summary = {k: v for k, v in full.items() if k not in ("spans", "detail")}
    print("# record " + json.dumps(summary, default=float))
    print(json.dumps(out))
    sys.stdout.flush()
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
