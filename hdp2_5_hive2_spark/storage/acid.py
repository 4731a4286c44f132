"""Hive-ACID-shaped transactional storage: delta directories, ROW__ID
merge-on-read, snapshot (write-id) reads, and compaction — in parquet.

Reference parity (all in /root/reference): Hive 2.1 rewrites UPDATE and
DELETE into inserts against *delta* directories
(parse/UpdateDeleteSemanticAnalyzer.java:52), names them
``delta_{writeid}_{writeid}`` / ``delete_delta_...`` with base
directories produced only by compaction (ql/io/AcidUtils.java:53),
stamps every row with a ROW__ID struct ``(original txn, bucket, row
id)`` (ql/io/orc/OrcRecordUpdater.java), merges base+delta−delete at
read time (ql/io/orc/OrcRawRecordMerger.java:50), and runs
minor/major compaction in the background
(ql/txn/compactor/{Initiator,Worker,Cleaner}.java). This module keeps
that exact directory/ROW__ID algebra while replacing the ORC ACID
machinery with plain parquet + Catalyst:

- ``acid_insert`` appends a ``delta_N_N`` directory whose rows carry
  ROW__ID = (write_id, bucket=spark partition id, row_id=per-bucket
  ordinal) — written executor-side, no driver collect.
- ``acid_delete`` / ``acid_update`` write ``delete_delta_N_N`` holding
  ONLY the victim ROW__IDs (updates also write the re-inserted rows as
  a new delta — Hive's exact update-as-delete+insert rewrite).
- ``acid_read`` is the merge-on-read: one scan of the base and deltas
  with write_id ≤ the snapshot bound, anti-joined against the
  delete-delta ROW__IDs.
  Passing ``up_to_write_id`` gives snapshot-isolation time travel —
  the reader sees exactly the committed state as of that write, the
  same contract AcidUtils' ValidTxnList enforces.
- ``acid_compact`` is the compactor: ``major`` folds the surviving
  rows into ``base_N`` and removes history (Cleaner); ``minor`` merges
  each kind's ``delta_x_x..delta_y_y`` into one ``delta_x_y`` without
  resolving deletes — the read-side merge fan-in shrinks to at most
  base + delta + delete_delta, and (as in Hive) time travel inside a
  merged range is no longer reconstructable.

Scale notes (100 TB): a snapshot is TWO parquet relations — one scan
of base + every delta ≤ the bound, one of every delete delta — joined by
a broadcast left-anti join on ROW__ID (delete deltas hold 3 longs per
victim, so the build side is small; plan-pinned in tests). Both scans
take their schema as given, never by inference: the table schema comes
from the Spark row-metadata key (``org.apache.spark.sql.parquet.row.
metadata``) of one data-file footer, read on the driver with pyarrow —
the same field Spark's own inference reads, minus the one-task
footer-reading job per directory — and delete deltas use the fixed
``ROWID_SCHEMA``. So building a read launches no Spark job (below
Spark's 32-path parallel-listing threshold; compaction keeps the
directory count there) and the table directory holds nothing but data. This is OrcRawRecordMerger's
contract: base and deltas merge under the ONE table schema the
metastore holds (StorageDescriptor cols). Writers keep that schema:
``acid_update`` casts every SET expression to its column's type (Hive's
assignment cast) and ``acid_insert`` into an existing table casts
same-named columns and rejects a missing or extra column, so every
delta reads under the one schema. Write-id allocation is a directory
listing (max+1) — single-writer semantics, as Hive's metastore txn
manager would otherwise arbitrate; a real deployment gates writers
through a lock service exactly like TxnHandler.java does. Compaction
preserves bucket numbers so bucketed join co-location survives,
mirroring the reference compactor.
"""

from __future__ import annotations

import json
import os
import re
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

__all__ = [
    "acid_insert",
    "acid_delete",
    "acid_update",
    "acid_read",
    "acid_compact",
    "acid_write_ids",
]

_ROWID = ["_orig_write_id", "_bucket", "_row_id"]
ROWID_SCHEMA = StructType([StructField(c, LongType()) for c in _ROWID])
# the footer key Spark's parquet writer stores its Catalyst schema under
# (ParquetReadSupport.SPARK_METADATA_KEY); schema inference reads it too
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _dirs(path: str) -> list[tuple[str, int, int, str]]:
    """(kind, min_write_id, max_write_id, dirname) for every txn dir."""
    out = []
    if not os.path.isdir(path):
        return out
    pat = re.compile(r"^(base)_(\d+)$|^(delta|delete_delta)_(\d+)_(\d+)$")
    for name in sorted(os.listdir(path)):
        m = pat.match(name)
        if not m:
            continue
        if m.group(1):
            out.append(("base", 0, int(m.group(2)), name))
        else:
            out.append((m.group(3), int(m.group(4)), int(m.group(5)), name))
    return out


def acid_write_ids(path: str) -> list[int]:
    """Committed write ids visible in the table directory."""
    return sorted({mx for _, _, mx, _ in _dirs(path)})


def _next_write_id(path: str) -> int:
    ids = acid_write_ids(path)
    return (ids[-1] + 1) if ids else 1


def _table_schema(path: str) -> StructType | None:
    """The table schema (user columns + ROW__ID), or None for a table
    with no base/delta yet. It is Spark's own row metadata in one
    data-file footer of the first base/delta, read on the driver, so no
    Spark job runs; Spark writes a schema-carrying file even for an
    empty result, so every base/delta has one."""
    live = [name for kind, _, _, name in _dirs(path) if kind != "delete_delta"]
    if not live:
        return None
    d = os.path.join(path, live[0])
    part = next(
        n for n in sorted(os.listdir(d))
        if n.endswith(".parquet") and not n.startswith(("_", "."))
    )
    meta = pq.read_metadata(os.path.join(d, part)).metadata or {}
    if _SPARK_SCHEMA_KEY not in meta:
        raise ValueError(f"ACID table {path!r}: {live[0]} was not written by Spark")
    return StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))


def _stamp_row_ids(df: DataFrame, write_id: int) -> DataFrame:
    """ROW__ID per OrcRecordUpdater: (originating write id, bucket, row
    ordinal within bucket). monotonically_increasing_id() is documented
    as partitionId·2^33 + per-partition counter, so bucket and ordinal
    decompose from it MAP-SIDE — no shuffle to stamp identities, same
    as Hive's per-bucket-file writers. ROW__ID names are reserved, as
    Hive reserves its virtual columns."""
    clash = [c for c in df.columns if c in _ROWID]
    if clash:
        raise ValueError(f"ACID tables reserve the ROW__ID columns {clash}")
    mid = F.monotonically_increasing_id()
    return (
        df.withColumn("_bucket", F.shiftright(mid, 33).cast("long"))
        .withColumn("_row_id", mid.bitwiseAND((1 << 33) - 1).cast("long"))
        .withColumn("_orig_write_id", F.lit(write_id).cast("long"))
    )


def acid_insert(df: DataFrame, path: str) -> int:
    """INSERT → a new ``delta_N_N`` directory; returns the write id.
    Into an existing table, columns match by name and cast to the table
    type; a missing or extra column raises (one schema reads every
    delta, so a mismatch would otherwise read back as NULLs)."""
    wid = _next_write_id(path)
    schema = _table_schema(path)
    if schema is not None:
        cols = [f for f in schema.fields if f.name not in _ROWID]
        names = {f.name for f in cols}
        missing = [f.name for f in cols if f.name not in df.columns]
        extra = [c for c in df.columns if c not in names]
        if missing or extra:
            raise ValueError(
                f"acid_insert into {path!r}: missing columns {missing}, "
                f"extra columns {extra}"
            )
        df = df.select([F.col(f.name).cast(f.dataType).alias(f.name) for f in cols])
    os.makedirs(path, exist_ok=True)
    _stamp_row_ids(df, wid).write.mode("errorifexists").parquet(
        os.path.join(path, f"delta_{wid:07d}_{wid:07d}")
    )
    return wid


def _read_with_rowids(
    spark: SparkSession, path: str, up_to_write_id: int | None = None
) -> DataFrame:
    """The one merge-on-read implementation: ONE scan of base+deltas ≤
    bound under the table schema, minus ONE scan of the delete-delta
    ROW__IDs (broadcast anti-join; 3 longs per victim). A ROW__ID is
    deleted at most once — a delete only selects live rows — so the
    build side needs no distinct."""
    bound = up_to_write_id if up_to_write_id is not None else float("inf")
    dirs = _dirs(path)
    live, dead = [], []
    for kind, _, mx, name in dirs:
        if mx <= bound:
            (dead if kind == "delete_delta" else live).append(name)
    if not live:
        if dirs:
            raise ValueError(
                f"ACID table {path!r}: no snapshot at write id "
                f"{up_to_write_id} — history before the first remaining "
                "base/delta was cleaned by compaction"
            )
        raise ValueError(f"ACID table {path!r} has no committed data")
    rows = spark.read.schema(_table_schema(path)).parquet(
        *[os.path.join(path, name) for name in live]
    )
    if dead:
        victims = spark.read.schema(ROWID_SCHEMA).parquet(
            *[os.path.join(path, name) for name in dead]
        )
        rows = rows.join(F.broadcast(victims), _ROWID, "left_anti")
    return rows


def acid_read(
    spark: SparkSession, path: str, up_to_write_id: int | None = None
) -> DataFrame:
    """Merge-on-read snapshot; returns user columns only."""
    return _read_with_rowids(spark, path, up_to_write_id).drop(*_ROWID)


def acid_delete(spark: SparkSession, path: str, predicate) -> int:
    """DELETE WHERE → a ``delete_delta_N_N`` of victim ROW__IDs only
    (UpdateDeleteSemanticAnalyzer's delete branch)."""
    wid = _next_write_id(path)
    victims = _read_with_rowids(spark, path).where(predicate).select(_ROWID)
    victims.write.mode("errorifexists").parquet(
        os.path.join(path, f"delete_delta_{wid:07d}_{wid:07d}")
    )
    return wid


def acid_update(spark: SparkSession, path: str, predicate, set_map: dict) -> int:
    """UPDATE WHERE → Hive's delete+insert rewrite in ONE write id: the
    victims' ROW__IDs land in ``delete_delta_N_N`` and their re-stamped
    new versions in ``delta_N_N``. SET values are Columns, cast to their
    column's table type."""
    wid = _next_write_id(path)
    snap = _read_with_rowids(spark, path).where(predicate)
    types = {f.name: f.dataType for f in snap.schema.fields if f.name not in _ROWID}
    unknown = [c for c in set_map if c not in types]
    if unknown:
        raise ValueError(f"acid_update of {path!r}: SET names no table column {unknown}")
    # one pass is read twice (ROW__IDs + new versions); keep it cheap.
    # CORRECTNESS, not optimization — deliberately NOT plan_checkpoint /
    # SPARK_GRAFT_LINEAGE-toggleable: the second read happens AFTER the
    # delete_delta write below, and an un-materialized re-scan would see
    # this statement's own delete.
    snap = snap.localCheckpoint(eager=False)
    snap.select(_ROWID).write.mode("errorifexists").parquet(
        os.path.join(path, f"delete_delta_{wid:07d}_{wid:07d}")
    )
    # withColumns = ONE projection: every SET expression evaluates
    # against the OLD row (SQL UPDATE's simultaneous assignment), so
    # {"a": lit(0), "b": col("a")} writes b = old a regardless of order.
    # Each value casts to its column's type (Hive's assignment cast): one
    # schema reads every delta, so a delta may not change a column type.
    fresh = snap.drop(*_ROWID).withColumns(
        {c: e.cast(types[c]) for c, e in set_map.items()}
    )
    _stamp_row_ids(fresh, wid).write.mode("errorifexists").parquet(
        os.path.join(path, f"delta_{wid:07d}_{wid:07d}")
    )
    return wid


def acid_compact(spark: SparkSession, path: str, major: bool = True) -> int:
    """Compactor: ``major`` resolves deletes and rewrites the survivors
    (original ROW__IDs preserved — compaction moves rows, it does not
    re-identify them) into ``base_N``, then cleans history; ``minor``
    coalesces each directory-kind's files without resolving deletes."""
    ids = acid_write_ids(path)
    if not ids:
        raise ValueError(f"ACID table {path!r} has no committed data")
    top = ids[-1]
    if major:
        survivors = _read_with_rowids(spark, path, top)
        tmp = os.path.join(path, f"_compact_tmp_{top:07d}")
        survivors.repartition("_bucket").write.mode("overwrite").parquet(tmp)
        for _, _, _, name in _dirs(path):
            shutil.rmtree(os.path.join(path, name))
        os.rename(tmp, os.path.join(path, f"base_{top:07d}"))
        return top
    # minor: merge each kind's delta_x_x..delta_y_y into ONE delta_x_y
    # (Hive's Worker without delete resolution) — the read-side merge
    # fan-in shrinks to at most base + delta + delete_delta. As in Hive,
    # time travel INSIDE a merged range is no longer reconstructable.
    schemas = {"delta": _table_schema(path), "delete_delta": ROWID_SCHEMA}
    for kind, schema in schemas.items():
        group = [d for d in _dirs(path) if d[0] == kind]
        if len(group) < 2:
            continue
        lo = min(mn for _, mn, _, _ in group)
        hi = max(mx for _, _, mx, _ in group)
        merged = spark.read.schema(schema).parquet(
            *[os.path.join(path, name) for _, _, _, name in group]
        )
        tmp = os.path.join(path, f"_compact_tmp_{kind}_{hi:07d}")
        merged.write.mode("overwrite").parquet(tmp)
        for _, _, _, name in group:
            shutil.rmtree(os.path.join(path, name))
        os.rename(tmp, os.path.join(path, f"{kind}_{lo:07d}_{hi:07d}"))
    return top
