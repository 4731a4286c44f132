"""Hive-ACID-shaped storage (storage/acid.py): delta/delete-delta
directory algebra, ROW__ID identity, update-as-delete+insert, write-id
snapshot isolation (time travel), major/minor compaction, and the
broadcast-anti-join read plan."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hdp2_5_hive2_spark.storage.acid import (
    acid_compact,
    acid_delete,
    acid_insert,
    acid_read,
    acid_update,
    acid_write_ids,
)


def _seed(spark, root, n=100):
    df = spark.createDataFrame(
        [(i, f"v{i}", i * 10) for i in range(n)], "k int, s string, v int"
    ).repartition(3)
    return acid_insert(df, root)


def test_full_lifecycle(spark, tmp_path):
    root = str(tmp_path / "t")
    w1 = _seed(spark, root)
    w2 = acid_insert(
        spark.createDataFrame(
            [(100 + i, f"n{i}", 0) for i in range(10)], "k int, s string, v int"
        ),
        root,
    )
    assert acid_write_ids(root) == [w1, w2] == [1, 2]
    assert acid_read(spark, root, up_to_write_id=w1).count() == 100
    acid_delete(spark, root, F.col("k") % 10 == 0)  # 11 victims (0..100)
    acid_update(spark, root, F.col("k") < 5, {"v": F.lit(-1)})  # 1..4 live
    cur = acid_read(spark, root)
    assert cur.count() == 110 - 11
    assert cur.where(F.col("v") == -1).count() == 4
    assert cur.where(F.col("k") == 0).count() == 0  # deleted, not updated
    # snapshot isolation: earlier write ids see pre-delete/update state
    assert acid_read(spark, root, w2).count() == 110
    assert acid_read(spark, root, w2).where(F.col("v") == -1).count() == 0
    # directory grammar matches AcidUtils naming
    names = sorted(os.listdir(root))
    assert "delta_0000001_0000001" in names
    assert "delete_delta_0000003_0000003" in names
    assert "delete_delta_0000004_0000004" in names and "delta_0000004_0000004" in names


def test_major_compaction_preserves_snapshot(spark, tmp_path):
    root = str(tmp_path / "t")
    _seed(spark, root)
    acid_delete(spark, root, F.col("k") >= 90)
    acid_update(spark, root, F.col("k") == 1, {"s": F.lit("patched")})
    before = sorted(map(tuple, acid_read(spark, root).collect()))
    top = acid_compact(spark, root, major=True)
    names = sorted(os.listdir(root))
    assert names == [f"base_{top:07d}"]
    after = sorted(map(tuple, acid_read(spark, root).collect()))
    assert before == after
    # ROW__IDs survive compaction: a later delete still resolves
    acid_delete(spark, root, F.col("k") == 1)
    assert acid_read(spark, root).where(F.col("k") == 1).count() == 0


def test_minor_compaction_merges_deltas(spark, tmp_path):
    root = str(tmp_path / "t")
    w1 = _seed(spark, root)
    acid_insert(
        spark.createDataFrame([(500, "x", 1)], "k int, s string, v int"), root
    )
    acid_insert(
        spark.createDataFrame([(501, "y", 2)], "k int, s string, v int"), root
    )
    acid_delete(spark, root, F.col("k") < 10)
    before = sorted(map(tuple, acid_read(spark, root).collect()))
    acid_compact(spark, root, major=False)
    # three delta_N_N dirs merged into ONE delta_1_3; deletes unresolved
    names = sorted(os.listdir(root))
    assert names == ["delete_delta_0000004_0000004", "delta_0000001_0000003"]
    assert sorted(map(tuple, acid_read(spark, root).collect())) == before
    # time travel INSIDE the merged range is gone (Hive semantics): the
    # merged delta's max write id exceeds the bound, so w1 is unreachable
    with pytest.raises(ValueError, match="history"):
        acid_read(spark, root, w1).count()


def test_update_simultaneous_assignment(spark, tmp_path):
    """SET a = 0, b = a must write b = OLD a (one projection), not the
    freshly assigned a — and must not depend on dict order."""
    root = str(tmp_path / "t")
    _seed(spark, root, n=5)
    acid_update(
        spark, root, F.col("k") == 2, {"v": F.lit(0), "s": F.col("v").cast("string")}
    )
    row = acid_read(spark, root).where("k = 2").head()
    assert row["v"] == 0 and row["s"] == "20"  # old v was 20


def test_rowid_column_collision_raises(spark, tmp_path):
    df = spark.createDataFrame([(1, 2)], "k int, _bucket int")
    with pytest.raises(ValueError, match="reserve"):
        acid_insert(df, str(tmp_path / "t"))


def test_update_is_delete_plus_insert_one_write_id(spark, tmp_path):
    root = str(tmp_path / "t")
    _seed(spark, root, n=20)
    wid = acid_update(spark, root, F.col("k") == 3, {"v": F.lit(999)})
    names = os.listdir(root)
    assert f"delta_{wid:07d}_{wid:07d}" in names
    assert f"delete_delta_{wid:07d}_{wid:07d}" in names
    cur = acid_read(spark, root)
    assert cur.count() == 20
    assert cur.where("k = 3").select("v").head()[0] == 999


def test_read_plan_broadcasts_delete_deltas(spark, tmp_path):
    root = str(tmp_path / "t")
    _seed(spark, root)
    acid_delete(spark, root, F.col("k") < 5)
    plan = acid_read(spark, root)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_empty_table_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="no committed data"):
        acid_read(spark, str(tmp_path / "missing"))


def _many_dirs(spark, root):
    """base + 3 deltas + 2 delete deltas (one of them empty)."""
    _seed(spark, root)
    acid_compact(spark, root, major=True)
    for j in range(3):
        acid_insert(
            spark.createDataFrame(
                [(200 + 10 * j + i, f"d{j}", i) for i in range(10)],
                "k int, s string, v int",
            ),
            root,
        )
    acid_delete(spark, root, F.col("k") < 20)
    acid_delete(spark, root, F.col("k") < 0)  # matches nothing


def test_read_builds_without_spark_jobs(spark, tmp_path):
    """Building a snapshot over base + 3 deltas + 2 delete deltas takes
    every schema from metadata: no schema-inference job per directory."""
    root = str(tmp_path / "t")
    _many_dirs(spark, root)
    assert len([n for n in os.listdir(root) if n.startswith("delta_")]) == 3
    assert len([n for n in os.listdir(root) if n.startswith("delete_delta_")]) == 2
    sc = spark.sparkContext
    group = f"acid-read-build-{tmp_path.name}"
    sc.setJobGroup(group, "acid_read build")
    try:
        df = acid_read(spark, root)
        built = list(sc.statusTracker().getJobIdsForGroup(group))
        assert df.count() == 100 - 20 + 30
        ran = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert built == [], built
    assert ran, "the job group saw no job: the counter itself is broken"


def test_read_plan_one_scan_per_side(spark, tmp_path):
    """One parquet relation for base + deltas, one for every delete
    delta: no per-directory scans and no Union."""
    root = str(tmp_path / "t")
    _many_dirs(spark, root)
    plan = acid_read(spark, root)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 2, plan
    assert "Union" not in plan, plan
    assert "InMemoryFileIndex(4 paths)" in plan, plan  # base + 3 deltas
    assert "InMemoryFileIndex(2 paths)" in plan, plan  # 2 delete deltas
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_zero_row_statements_leave_table_readable(spark, tmp_path):
    root = str(tmp_path / "t")
    _seed(spark, root, n=10)
    acid_delete(spark, root, F.col("k") < 0)
    acid_update(spark, root, F.col("k") > 1000, {"v": F.lit(0)})
    assert acid_read(spark, root).count() == 10
    acid_compact(spark, root, major=False)
    assert acid_read(spark, root).count() == 10
    # every row deleted, then compacted into an empty base
    acid_delete(spark, root, F.lit(True))
    acid_compact(spark, root, major=True)
    assert acid_read(spark, root).count() == 0
    acid_insert(spark.createDataFrame([(1, "a", 2)], "k int, s string, v int"), root)
    assert acid_read(spark, root).count() == 1


def test_update_casts_to_table_type(spark, tmp_path):
    """Hive's assignment cast: SET v = 2.5 on an int column writes int."""
    root = str(tmp_path / "t")
    _seed(spark, root, n=5)
    acid_update(spark, root, F.col("k") == 2, {"v": F.lit(2.5)})
    cur = acid_read(spark, root)
    assert dict(cur.dtypes)["v"] == "int"
    assert cur.where("k = 2").head()["v"] == 2
    with pytest.raises(ValueError, match="nope"):
        acid_update(spark, root, F.col("k") == 2, {"nope": F.lit(1)})


def test_insert_casts_and_rejects_mismatch(spark, tmp_path):
    root = str(tmp_path / "t")
    _seed(spark, root, n=5)
    # same names, other types and order: cast to the table's types
    acid_insert(
        spark.createDataFrame([(7.0, 50, "x")], "v double, k bigint, s string"), root
    )
    cur = acid_read(spark, root)
    assert cur.dtypes == [("k", "int"), ("s", "string"), ("v", "int")]
    assert cur.where("k = 50").head()["v"] == 7
    with pytest.raises(ValueError, match="'v'"):  # missing column
        acid_insert(spark.createDataFrame([(1, "a")], "k int, s string"), root)
    with pytest.raises(ValueError, match="'w'"):  # extra column
        acid_insert(
            spark.createDataFrame([(1, "a", 1, 1)], "k int, s string, v int, w int"),
            root,
        )
    assert acid_write_ids(root) == [1, 2]
