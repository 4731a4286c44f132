"""Workload inputs, the timed regions, and the metrics each run reports.

olap_adhoc exercises ``engine`` (parse, plan, Spark execution of scans,
joins and aggregates) over ``catalog``'s views; ``llm``, ``storage`` and
``streaming`` stay idle. ingest_curate exercises ``llm`` (the curation
pipeline), ``storage`` (ACID writes and snapshot reads) and ``streaming``
(micro-batch dedup); the ``engine`` SQL path stays idle. A traced run
additionally runs a small fixed probe of the layers its workload leaves
idle, after the measured region, so that every per-layer metric is
measured in every traced run (the probe's numbers are marked in the run
record).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import curation
import gen_corpus
import gen_tables
import ingest
import olap
from harness import Recorder, RssSampler, exec_counters, percentile, self_times

# Inputs. olap_adhoc: sf0.1 tables (lineitem ~600k rows, ~9.7 MB in one
# row group: the 8 MB split size cuts it into two scan tasks, one of which
# reads every row) and a small corpus that completes the catalog and feeds
# the traced run's probe. ingest_curate: the curation corpus (~5.5 MB in
# four shards), and tiny relational tables.
OLAP_SF = 0.1
INGEST_SF = 0.002
CORPUS = gen_corpus.CorpusSpec(
    n_docs=8000, dup_groups=120, near_pairs=120, control_pairs=80, boilerplates=5,
    boilerplate_docs=20, eval_docs=200, contaminated=60, shards=4, n_vecs=8000,
    clusters=40, n_queries=64,
)
PROBE_CORPUS = gen_corpus.CorpusSpec(
    n_docs=300, dup_groups=8, near_pairs=8, control_pairs=8, boilerplates=2,
    boilerplate_docs=4, eval_docs=20, contaminated=5, shards=2, n_vecs=600,
    clusters=8, n_queries=8,
)
# two ingest steps: deltas fold twice (minor), the base is rewritten once
# (major), and reads see merge-on-read fan-in grow and reset
INGEST_STEPS = 2

REPORTED_E2E = ["setup_s", "op_p50_s", "op_p90_s", "ops_per_s", "peak_rss_mb"]
# spans whose mean duration per call is a per-layer metric, "<span>_s"
LAYER_SPANS = (
    ["engine.sql", "engine.plan", "engine.run"]
    + [f"llm.{s}.{p}" for s in curation.STAGES for p in ("build", "run")]
    + [f"storage.{k}" for k in ("acid_insert", "acid_update", "acid_delete", "acid_read",
                                "acid_compact_minor", "acid_compact_major")]
)
LAYER_TIMES = [f"{n}_s" for n in LAYER_SPANS]
REPORTED_LAYER = (
    ["session.get_session_s", "catalog.register_views_s"]
    + LAYER_TIMES[:3]
    + ["exec.jobs_per_op", "exec.stages_per_op", "exec.tasks_per_op", "exec.shuffle_write_bytes",
       "exec.shuffle_read_bytes", "exec.input_bytes", "exec.spill_bytes", "exec.task_run_s",
       "exec.task_cpu_s", "exec.gc_s", "exec.failed_tasks", "exec.core_util"]
    + LAYER_TIMES[3:]
    + ["llm.docs_per_s", "llm.minhash.recall", "llm.ivf.recall_at_k",
       "storage.dirs_at_read", "storage.files_per_write", "storage.bytes_written_per_user_byte",
       "storage.space_amp", "storage.write_p50_s", "storage.write_p90_s", "storage.read_p50_s",
       "storage.read_p90_s", "streaming.batch_s", "streaming.rows_per_s", "streaming.state_rows",
       "streaming.state_bytes", "streaming.freshness_p50_s", "streaming.freshness_p90_s",
       "proc.jvm_rss_mb", "proc.python_workers", "trace.overhead_per_op_s"]
)
UNITS = {
    "setup_s": "s", "op_p50_s": "s", "op_p90_s": "s", "ops_per_s": "1/s", "peak_rss_mb": "MB",
    **{k: "s" for k in REPORTED_LAYER if k.endswith("_s")},
    "exec.jobs_per_op": "count", "exec.stages_per_op": "count", "exec.tasks_per_op": "count",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.input_bytes": "bytes", "exec.spill_bytes": "bytes", "exec.failed_tasks": "count",
    "exec.core_util": "ratio", "llm.docs_per_s": "1/s", "llm.minhash.recall": "ratio",
    "llm.ivf.recall_at_k": "ratio", "storage.dirs_at_read": "count",
    "storage.files_per_write": "count", "storage.bytes_written_per_user_byte": "ratio",
    "storage.space_amp": "ratio", "streaming.rows_per_s": "1/s", "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes", "proc.jvm_rss_mb": "MB", "proc.python_workers": "count",
}


def warm_olap(spark, eng) -> None:
    """Every template twice, on two clients: the statements' code paths are
    compiled before the timed loop, as in a long-running server (one round
    leaves the JIT still compiling during the loop)."""
    sqls = [olap.render(n, {k: v[0] for k, v in olap.TEMPLATES[n][1].items()}) for n in sorted(olap.TEMPLATES)] * 2
    with ThreadPoolExecutor(2) as pool:
        for fut in [pool.submit(lambda q: eng.sql(q).collect(), q) for q in sqls]:
            fut.result()


def warm_ingest(spark, eng) -> None:
    """One statement, and the Python worker pool the Arrow kernels use."""
    eng.sql("SELECT COUNT(*) AS n FROM region").collect()
    spark.range(64).mapInPandas(lambda it: it, "id bigint").count()


WARMUP = {"olap_adhoc": warm_olap, "ingest_curate": warm_ingest}


def _matrix(path: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(path)
    return t["vec_id"].to_numpy(), np.array(t["embedding"].to_pylist(), dtype=np.float64)


def generate(workload: str, run_dir: str, seed: int) -> dict:
    """Write the workload's inputs from ``seed`` into a fresh ``run_dir``."""
    shutil.rmtree(run_dir, ignore_errors=True)
    tables = os.path.join(run_dir, "tables")
    olap_run = workload == "olap_adhoc"
    rows = gen_tables.generate(tables, seed, sf=OLAP_SF if olap_run else INGEST_SF)
    corpus = gen_corpus.generate(tables, seed, PROBE_CORPUS if olap_run else CORPUS)
    rows["documents"] = corpus.n_docs
    return {"run_dir": run_dir, "tables": tables, "corpus": corpus, "rows": rows}


def _span_means(spans, names) -> dict[str, float]:
    """Mean duration per call of each named span, as ``<name>_s``."""
    out = {}
    for name in names:
        durs = [s.end - s.start for s in spans if s.name == name]
        if durs:
            out[f"{name}_s"] = statistics.fmean(durs)
    return out


@dataclass
class Outcome:
    """A workload's timed region: its wall time, layer metrics measured in
    it, and the gates (run after it) returning any end-of-run metrics."""

    wall: float
    detail: dict
    layer: dict = field(default_factory=dict)
    check: Callable[[], dict] = dict


def _olap(rec, spark, eng, inputs, seed, seconds) -> Outcome:
    t0 = time.perf_counter()
    results = olap.run(rec, eng, seed, seconds)
    wall = time.perf_counter() - t0

    def check() -> dict:
        olap.gate(rec, results, inputs["tables"])
        return {}

    detail = {"statements": sum(len(v) for v in results.values()), "distinct": len(results)}
    return Outcome(wall, detail, check=check)


def _ingest_curate(rec, spark, eng, inputs, seed, seconds) -> Outcome:
    """One fixed pass: the curation pipeline, then ``INGEST_STEPS`` ingest
    steps. It ignores ``seconds`` (the pass takes longer on a 4-core host):
    a faster engine must not change the op mix, or the size the ACID table
    and the streaming state reach, that the metrics are taken over. The
    streaming query starts before the timed region."""
    st = ingest.start(rec, spark, os.path.join(inputs["run_dir"], "ingest"), seed)
    t0 = time.perf_counter()
    results = curation.run(rec, spark, eng, inputs)
    cur_s = time.perf_counter() - t0
    for _ in range(INGEST_STEPS):
        ingest.step(rec, spark, st)
    wall = time.perf_counter() - t0

    def check() -> dict:
        out = ingest.finish(rec, spark, st)
        fails, recall = curation.check(
            results, inputs["corpus"],
            _matrix(inputs["corpus"].paths["embeddings"]), _matrix(inputs["corpus"].paths["queries"]))
        for f in fails:
            rec.fail(f)
        return {**out, **recall}

    writes = [o.seconds for o in rec.ops if o.kind.startswith("storage.") and o.kind != "storage.acid_read"]
    reads = [o.seconds for o in rec.ops if o.kind == "storage.acid_read"]
    layer = {
        "llm.docs_per_s": inputs["corpus"].n_docs / cur_s,
        "storage.write_p50_s": percentile(writes, 50),
        "storage.write_p90_s": percentile(writes, 90),
        "storage.read_p50_s": percentile(reads, 50),
        "storage.read_p90_s": percentile(reads, 90),
    }
    return Outcome(wall, {"ingest_steps": st.step}, layer, check)


WORKLOAD = {"olap_adhoc": _olap, "ingest_curate": _ingest_curate}


def measure(workload, spark, eng, inputs, seed, seconds, traced) -> dict:
    sc = spark.sparkContext
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    rec = Recorder(sc, traced)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with RssSampler(jvm_pid) as rss:
        run = WORKLOAD[workload](rec, spark, eng, inputs, seed, seconds)
    ops = list(rec.ops)
    lat = [o.seconds for o in ops]
    e2e = {
        "op_p50_s": percentile(lat, 50),
        "op_p90_s": percentile(lat, 90),
        "ops_per_s": len(lat) / run.wall,
        "peak_rss_mb": rss.peak_total_mb,
    }
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        by_kind.setdefault(o.kind, []).append(o.seconds)
    detail = {**run.detail, "ops": len(ops), "wall_s": run.wall, "op_seconds": by_kind}
    layer = {**run.layer, **run.check()}
    layer["proc.jvm_rss_mb"] = rss.peak_jvm_mb
    layer["proc.python_workers"] = float(rss.peak_workers)
    attempted = len(ops)
    spans = []
    if traced:
        t_rest = time.perf_counter()
        layer.update(exec_counters(sc, ops, cores))
        # what tracing itself cost per op: span bookkeeping plus the REST reads
        layer["trace.overhead_per_op_s"] = (rec.overhead_s + time.perf_counter() - t_rest) / max(1, len(ops))
        main_spans = list(rec.spans)
        layer.update(_span_means(main_spans, LAYER_SPANS))
        probe = Recorder(sc, True)
        probed = _probe(workload, probe, spark, eng, inputs, seed)
        rec.failures.extend(probe.failures)
        attempted += len(probe.ops)
        from_probe = sorted(k for k in probed if k not in layer)
        layer.update({k: probed[k] for k in from_probe})
        detail["probed_layers"] = from_probe
        detail["self_time_s"] = self_times(main_spans)
        spans = [s.__dict__ for s in main_spans]
    return {
        "e2e": e2e, "layer": layer, "detail": detail, "failures": list(rec.failures),
        "attempted": attempted, "spans": spans,
    }


def _probe(workload, probe, spark, eng, inputs, seed) -> dict:
    """Small fixed run of the layers ``workload`` leaves idle (traced runs,
    after the measured region): the other workload's ops, once, on this
    run's small inputs."""
    if workload == "olap_adhoc":
        run = _ingest_curate(probe, spark, eng, inputs, seed, 0.0)
        out = {**run.layer, **run.check()}
    else:
        out = {}
        for name in sorted(olap.TEMPLATES):
            sql = olap.render(name, {k: v[0] for k, v in olap.TEMPLATES[name][1].items()})
            with probe.op("statement"):
                olap.run_statement(probe, eng, sql)
    out.update(_span_means(probe.spans, LAYER_SPANS))
    return out
