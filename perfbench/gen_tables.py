"""Seeded TPC-H-shaped tables in the engine catalog's layout.

``catalog.register_views`` expects the ten tables of ``catalog.TABLES`` as
``<dir>/<table>.parquet``. This writes the seven relational ones plus a small
``events`` table with the same schemas as the engine's reference test data.
Like that data, every table is ONE parquet row group: with the session's
8 MB split size the whole of ``lineitem`` is scanned by a single task, and
every dimension table fits under the 64 MB broadcast threshold.
``documents`` and ``embeddings`` come from ``gen_corpus``.

Values with two decimals are generated as integer cents, so DECIMAL(18,2)
sums are exact in both Spark and DuckDB.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
COLORS = ["almond", "blue", "chocolate", "green", "ivory", "khaki", "lime", "navy", "red", "tan"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "view", "purchase", "signup"]
DAY_US = 86_400_000_000
START_US = 694_224_000_000_000  # 1992-01-01
ORDER_DAYS = 2405  # orders span 1992-01-01 .. 1998-08-02
CURRENT_DAY = 1263  # 1995-06-17: before it lines are shipped/returned
N_EVENTS = 2000


def _write(out_dir: str, name: str, cols: dict) -> None:
    t = pa.table(cols)
    pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=max(1, t.num_rows))


def _cents(rng, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo, hi, size=n) / 100.0


def _names(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(START_US + days.astype(np.int64) * DAY_US, pa.timestamp("us"))


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the relational tables and ``events``; return row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([n for n, _ in NATIONS]),
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32())})

    ck = np.arange(1, n_cust + 1, dtype=np.int64)
    _write(out_dir, "customer", {
        "c_custkey": ck, "c_name": _names("Customer", ck),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -99_999, 999_999, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    sk = np.arange(1, n_supp + 1, dtype=np.int64)
    supp_nation = rng.integers(0, 25, n_supp).astype(np.int32)
    _write(out_dir, "supplier", {
        "s_suppkey": sk, "s_name": _names("Supplier", sk), "s_nationkey": supp_nation,
        "s_acctbal": _cents(rng, -99_999, 999_999, n_supp)})
    pk = np.arange(1, n_part + 1, dtype=np.int64)
    retail_cents = 90_000 + (pk % 20_001) + rng.integers(0, 100, n_part)
    c1, c2 = rng.integers(0, len(COLORS), n_part), rng.integers(0, len(COLORS), n_part)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": pa.array([f"{COLORS[a]} {COLORS[b]}" for a, b in zip(c1.tolist(), c2.tolist())]),
        "p_brand": pa.array([f"Brand#{m}{n}" for m, n in rng.integers(1, 6, (n_part, 2)).tolist()]),
        "p_type": np.array(TYPES)[rng.integers(0, len(TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail_cents / 100.0})

    # Sparse order keys as in TPC-H (8 of every 32 used); 1-7 lines per order.
    ok = (np.arange(n_ord, dtype=np.int64) // 8) * 32 + (np.arange(n_ord) % 8) + 1
    o_cust = rng.integers(1, n_cust + 1, n_ord).astype(np.int64)
    o_day = rng.integers(0, ORDER_DAYS, n_ord)
    n_lines = rng.integers(1, 8, n_ord)
    li_order = np.repeat(np.arange(n_ord), n_lines)
    n_li = len(li_order)
    l_part = rng.integers(1, n_part + 1, n_li).astype(np.int64)
    l_qty = rng.integers(1, 51, n_li)
    l_price_cents = l_qty * retail_cents[l_part - 1]
    l_disc = rng.integers(0, 11, n_li)
    l_tax = rng.integers(0, 9, n_li)
    l_day = o_day[li_order] + rng.integers(1, 122, n_li)
    shipped = l_day <= CURRENT_DAY
    flag = np.where(shipped, np.where(rng.random(n_li) < 0.5, "R", "A"), "N")
    first = np.r_[0, np.cumsum(n_lines)[:-1]]
    linenumber = np.arange(n_li) - np.repeat(first, n_lines) + 1
    total_cents = np.bincount(li_order, weights=l_price_cents * (100 - l_disc) * (100 + l_tax) / 10_000,
                              minlength=n_ord)
    all_shipped = np.bincount(li_order, weights=~shipped, minlength=n_ord) == 0
    none_shipped = np.bincount(li_order, weights=shipped, minlength=n_ord) == 0
    status = np.where(all_shipped, "F", np.where(none_shipped, "O", "P"))
    _write(out_dir, "orders", {
        "o_orderkey": ok, "o_custkey": o_cust, "o_orderstatus": status,
        "o_totalprice": np.round(total_cents) / 100.0, "o_orderdate": _ts(o_day),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": ok[li_order], "l_partkey": l_part,
        "l_suppkey": rng.integers(1, n_supp + 1, n_li).astype(np.int64),
        "l_linenumber": linenumber.astype(np.int32), "l_quantity": l_qty.astype(np.float64),
        "l_extendedprice": l_price_cents / 100.0, "l_discount": l_disc / 100.0,
        "l_tax": l_tax / 100.0, "l_returnflag": flag,
        "l_linestatus": np.where(shipped, "F", "O"), "l_shipdate": _ts(l_day)})

    ev_ts = START_US + 5 * 365 * DAY_US + np.sort(rng.integers(0, 7 * DAY_US, N_EVENTS))
    _write(out_dir, "events", {
        "event_id": np.arange(N_EVENTS, dtype=np.int64), "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 500, N_EVENTS).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 4, N_EVENTS)],
        "value": _cents(rng, 0, 100_000, N_EVENTS), "props": pa.array(["{}"] * N_EVENTS)})
    return {"customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
            "lineitem": n_li, "events": N_EVENTS}
