"""The ingest half of the ingest_curate workload: streaming dedup into a
parquet sink, and ACID writes and snapshot reads beside it.

One client, closed loop. Each step lands one seeded events micro-batch file
(with in-batch duplicates, replays of the previous batch and late rows) in a
landing directory, advances one long-running streaming query
(``stream_events`` -> ``streaming_dedup`` -> ``foreachBatch(
idempotent_parquet_sink)``) with ``processAllAvailable()``, then runs
``acid_insert`` of the batch, ``acid_update`` and ``acid_delete`` on seeded
key slices and an ``acid_read`` snapshot aggregate (merge-on-read over the
step's deltas). Minor compaction follows every step and major compaction
the first step; another snapshot read follows.

In-memory models of the ACID table and of the deduplicated sink are kept
beside the loop; every snapshot read and the final state are checked
against them exactly (values are whole cents, sums are DECIMAL).
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from gen_tables import EVENT_TYPES

BATCH_ROWS = 4000
BATCH_SPAN_US = 300_000_000  # five minutes of event time per batch
EPOCH_US = 1_700_000_000_000_000
SCHEMA = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
_ACID_DIR = re.compile(r"^(base|delta|delete_delta)_")


def events_batch(rng: np.random.Generator, step: int, prev: pd.DataFrame | None) -> pd.DataFrame:
    """Batch ``step``: fresh events in its five-minute slot, ~8% late rows
    (up to five minutes before the slot, inside the 15-minute watermark),
    ~10% exact in-batch duplicates and ~5% replays of the previous batch."""
    n = BATCH_ROWS
    ids = np.arange(step * n, (step + 1) * n, dtype=np.int64) + 1_000_000
    ts = EPOCH_US + step * BATCH_SPAN_US + rng.integers(0, BATCH_SPAN_US, n)
    late = rng.random(n) < 0.08
    ts[late] -= rng.integers(1, BATCH_SPAN_US, int(late.sum()))
    fresh = pd.DataFrame({
        "event_id": ids,
        "ts": pd.to_datetime(ts, unit="us"),
        "user_id": rng.integers(0, 200, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
        "value_cents": rng.integers(0, 100_000, n).astype(np.int64),
    })
    parts = [fresh, fresh.sample(n // 10, random_state=int(rng.integers(1 << 31)))]
    if prev is not None:
        parts.append(prev.sample(n // 20, random_state=int(rng.integers(1 << 31))))
    out = pd.concat(parts, ignore_index=True)
    return out.sample(frac=1.0, random_state=int(rng.integers(1 << 31))).reset_index(drop=True)


def _to_arrow(batch: pd.DataFrame) -> pa.Table:
    return pa.table({
        "event_id": pa.array(batch.event_id, pa.int64()),
        "ts": pa.array(batch.ts.values.astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(batch.user_id, pa.int64()),
        "event_type": pa.array(batch.event_type, pa.string()),
        "value": pa.array(batch.value_cents / 100.0, pa.float64()),
    })


def aggregate(model: pd.DataFrame) -> dict[str, tuple[int, int]]:
    """event_type -> (rows, sum of value in cents) of the live ACID rows."""
    g = model.groupby("event_type").value_cents.agg(["count", "sum"])
    return {k: (int(c), int(s)) for k, (c, s) in g.iterrows()}


def snapshot_matches(rows, model: pd.DataFrame) -> bool:
    """Whether (event_type, n, total DECIMAL) rows equal the model exactly."""
    return {r[0]: (int(r[1]), int(r[2] * 100)) for r in rows} == aggregate(model)


def _tree_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) of the parquet files under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


@dataclass
class IngestState:
    land: str
    sink: str
    acid: str
    query: object
    rng: np.random.Generator
    step: int = 0
    prev: pd.DataFrame | None = None
    acid_model: pd.DataFrame = field(default_factory=pd.DataFrame)
    sink_model: set = field(default_factory=set)
    freshness: list[float] = field(default_factory=list)
    progress: list[dict] = field(default_factory=list)
    dirs_at_read: list[int] = field(default_factory=list)
    files_written: list[int] = field(default_factory=list)
    bytes_written: int = 0
    user_bytes: int = 0
    last_batch: int = -1


def start(rec, spark, work: str, seed: int) -> IngestState:
    """Start the long-running streaming query (outside the timed region)."""
    from pyspark.sql.types import _parse_datatype_string

    from hdp2_5_hive2_spark.streaming import events as ev

    land, sink, acid = (os.path.join(work, d) for d in ("landing", "sink", "acid"))
    os.makedirs(land, exist_ok=True)
    with rec.span("streaming.start"):
        stream = ev.stream_events(spark, land, _parse_datatype_string(SCHEMA))
        query = (
            ev.streaming_dedup(stream)
            .writeStream.foreachBatch(ev.idempotent_parquet_sink(sink))
            .option("checkpointLocation", os.path.join(work, "checkpoint"))
            .start()
        )
    return IngestState(land, sink, acid, query, np.random.default_rng(seed + 7919))


def _write(rec, st: IngestState, kind: str, fn) -> None:
    """An ACID write as one op, with the files and bytes it adds."""
    before = _tree_bytes(st.acid)
    with rec.op(f"storage.{kind}"):
        rec.call(f"storage.{kind}", fn)
    after = _tree_bytes(st.acid)
    st.files_written.append(max(0, after[0] - before[0]))
    st.bytes_written += max(0, after[1] - before[1])


def _read(rec, spark, st: IngestState) -> None:
    from pyspark.sql import functions as F

    from hdp2_5_hive2_spark.storage import acid

    st.dirs_at_read.append(sum(1 for d in os.listdir(st.acid) if _ACID_DIR.match(d)))
    rows = None
    with rec.op("storage.acid_read"):
        def snapshot():
            return (
                acid.acid_read(spark, st.acid)
                .groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.col("value").cast("decimal(18,2)")).alias("total"))
                .collect()
            )

        rows = rec.call("storage.acid_read", snapshot)
    if rows is None:  # the op failed and is already counted
        return
    if not snapshot_matches(rows, st.acid_model):
        rec.fail(f"acid_read after step {st.step}: snapshot aggregate differs from the model")


def step(rec, spark, st: IngestState) -> None:
    from pyspark.sql import functions as F

    from hdp2_5_hive2_spark.storage import acid

    st.step += 1
    k = st.step
    batch = events_batch(st.rng, k, st.prev)
    st.prev = batch
    tmp = os.path.join(os.path.dirname(st.land), f"_landing_{k:05d}.parquet")
    path = os.path.join(st.land, f"batch-{k:05d}.parquet")
    pq.write_table(_to_arrow(batch), tmp)
    st.user_bytes += os.path.getsize(tmp)

    with rec.op("streaming.advance"):
        t_land = time.perf_counter()
        os.rename(tmp, path)  # atomic: the file source never sees a partial file
        rec.call("streaming.process_all_available", st.query.processAllAvailable)
        st.freshness.append(time.perf_counter() - t_land)
    for p in st.query.recentProgress:
        if p["batchId"] > st.last_batch and p.get("numInputRows", 0) > 0:
            st.progress.append(p)
            st.last_batch = p["batchId"]
    st.sink_model |= set(zip(batch.event_id, batch.ts.values.astype("datetime64[us]").astype(np.int64)))

    _write(rec, st, "acid_insert", lambda: acid.acid_insert(spark.read.parquet(path), st.acid))
    model = pd.concat([st.acid_model, batch], ignore_index=True) if len(st.acid_model) else batch.copy()

    upd = (model.user_id % 7) == k % 7
    _write(rec, st, "acid_update", lambda: acid.acid_update(
        spark, st.acid, (F.col("user_id") % 7) == k % 7, {"value": F.col("value") + F.lit(1.0)}))
    model.loc[upd, "value_cents"] += 100

    dele = (model.event_type == EVENT_TYPES[k % len(EVENT_TYPES)]) & ((model.user_id % 5) == k % 5)
    _write(rec, st, "acid_delete", lambda: acid.acid_delete(
        spark, st.acid,
        (F.col("event_type") == EVENT_TYPES[k % len(EVENT_TYPES)]) & ((F.col("user_id") % 5) == k % 5)))
    st.acid_model = model[~dele].reset_index(drop=True)
    _read(rec, spark, st)

    # every step folds its deltas (minor); the first also rewrites the base
    # (major), so later reads merge deltas over a base
    _write(rec, st, "acid_compact_minor", lambda: acid.acid_compact(spark, st.acid, major=False))
    if k == 1:
        _write(rec, st, "acid_compact_major", lambda: acid.acid_compact(spark, st.acid, major=True))
    _read(rec, spark, st)


def finish(rec, spark, st: IngestState) -> dict[str, float]:
    """Stop the stream, check the final ACID table and sink against the
    models, and return the storage/streaming numbers of the run."""
    from hdp2_5_hive2_spark.storage import acid

    st.query.stop()
    live = acid.acid_read(spark, st.acid).toPandas()
    got = sorted(zip(live.event_id, (live.value * 100).round().astype(np.int64)))
    want = sorted(zip(st.acid_model.event_id, st.acid_model.value_cents))
    if got != want:
        rec.fail("acid table at run end differs from the model")
    # the sink's partition directories are named _batch_id=N, which
    # pyarrow's dataset discovery would skip as hidden: list the files
    files = [os.path.join(d, n) for d, _, ns in os.walk(st.sink) for n in ns if n.endswith(".parquet")]
    sink = pd.concat([pq.read_table(f, columns=["event_id", "ts"]).to_pandas() for f in files])
    rows = list(zip(sink.event_id, sink.ts.values.astype("datetime64[us]").astype(np.int64)))
    if len(rows) != len(set(rows)) or set(rows) != st.sink_model:
        rec.fail("streaming sink at run end differs from the deduplicated model")

    # space amplification: table bytes on disk over its live rows written once
    once = os.path.join(os.path.dirname(st.acid), "_live_once.parquet")
    pq.write_table(_to_arrow(st.acid_model), once)
    out = {
        "storage.space_amp": _tree_bytes(st.acid)[1] / os.path.getsize(once),
        "storage.dirs_at_read": float(np.mean(st.dirs_at_read)),
        "storage.files_per_write": float(np.mean(st.files_written)),
        "storage.bytes_written_per_user_byte": st.bytes_written / max(1, st.user_bytes),
        "streaming.freshness_p50_s": float(np.percentile(st.freshness, 50)),
        "streaming.freshness_p90_s": float(np.percentile(st.freshness, 90)),
    }
    prog = st.progress or [{}]
    out["streaming.batch_s"] = float(np.mean([p.get("durationMs", {}).get("triggerExecution", 0) / 1e3 for p in prog]))
    out["streaming.rows_per_s"] = float(np.mean([p.get("processedRowsPerSecond", 0.0) for p in prog]))
    state = [(p.get("stateOperators") or [{}])[0] for p in prog]
    out["streaming.state_rows"] = float(state[-1].get("numRowsTotal", 0))
    out["streaming.state_bytes"] = float(state[-1].get("memoryUsedBytes", 0))
    return out
