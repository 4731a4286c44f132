"""olap_adhoc: a closed loop of parametrised HiveQL over TPC-H-shaped tables.

Two client threads share one ``Engine``; each sends its next statement as
soon as the previous one returns. Statements come from a seeded stream over
ten templates (TPC-H Q1/Q3/Q5/Q6/Q9/Q10/Q18, GROUP BY CUBE, a top-N-per-group
window, NOT EXISTS). Every statement is parsed and analysed by
``Engine.sql``, planned (``executedPlan``) and collected. The correctness
gate runs each distinct statement on DuckDB over the same parquet files,
after the timed loop.
"""

from __future__ import annotations

import datetime as dt
import math
import threading
import time
from collections.abc import Iterator

import numpy as np

from gen_tables import COLORS, REGIONS, SEGMENTS

CLIENTS = 2
_REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"


def _d(s: str, days: int = 0) -> str:
    return (dt.date.fromisoformat(s) + dt.timedelta(days=days)).isoformat()


# name -> (SQL with {params}, parameter choices). Every statement is valid in
# both Spark SQL and DuckDB, returns a deterministic row set (LIMITs are
# tie-broken on keys) and casts decimals to DOUBLE at the end.
TEMPLATES: dict[str, tuple[str, dict[str, list]]] = {
    "q1_pricing": (
        f"""SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM({_REV}) AS DOUBLE) AS sum_disc_price,
  CAST(SUM({_REV} * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
  COUNT(*) AS count_order
FROM lineitem WHERE l_shipdate <= DATE '{{cutoff}}'
GROUP BY l_returnflag, l_linestatus""",
        {"cutoff": [_d("1998-12-01", -d) for d in (60, 75, 90, 105, 120)]},
    ),
    "q3_shipping": (
        f"""SELECT l_orderkey, CAST(SUM({_REV}) AS DOUBLE) AS revenue, o_orderdate
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{{segment}}' AND o_orderdate < DATE '{{day}}' AND l_shipdate > DATE '{{day}}'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey LIMIT 10""",
        {"segment": SEGMENTS, "day": [_d("1995-03-01", d) for d in (0, 7, 14, 21)]},
    ),
    "q5_local_supplier": (
        f"""SELECT n_name, CAST(SUM({_REV}) AS DOUBLE) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{{region}}' AND o_orderdate >= DATE '{{year}}-01-01' AND o_orderdate < DATE '{{next_year}}-01-01'
GROUP BY n_name""",
        {"region": REGIONS, "year": [1993, 1994, 1995, 1996, 1997]},
    ),
    "q6_forecast": (
        """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= DATE '{year}-01-01' AND l_shipdate < DATE '{next_year}-01-01'
  AND l_discount BETWEEN {disc_lo} AND {disc_hi} AND l_quantity < {qty}""",
        {"year": [1993, 1994, 1995, 1996, 1997], "disc": [0.03, 0.05, 0.07], "qty": [24, 25]},
    ),
    "q9_product_profit": (
        f"""SELECT n_name AS nation, EXTRACT(YEAR FROM o_orderdate) AS o_year,
  CAST(SUM({_REV}) AS DOUBLE) AS sum_profit
FROM part JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON o_orderkey = l_orderkey
WHERE p_name LIKE '%{{color}}%'
GROUP BY n_name, EXTRACT(YEAR FROM o_orderdate)""",
        {"color": COLORS},
    ),
    "q10_returned": (
        f"""SELECT c_custkey, c_name, CAST(SUM({_REV}) AS DOUBLE) AS revenue, c_acctbal, n_name
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= DATE '{{day}}' AND o_orderdate < DATE '{{day_end}}' AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20""",
        {"day": ["1993-10-01", "1994-01-01", "1994-04-01", "1994-07-01"]},
    ),
    "q18_large_volume": (
        """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > {qty})
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100""",
        {"qty": [250, 260, 270, 280]},
    ),
    "groupby_cube": (
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
FROM lineitem WHERE l_shipdate >= DATE '{year}-01-01' AND l_shipdate < DATE '{next_year}-01-01'
GROUP BY CUBE (l_returnflag, l_linestatus)""",
        {"year": [1993, 1994, 1995, 1996, 1997]},
    ),
    "topn_per_group": (
        f"""SELECT n_name, s_suppkey, revenue, rk FROM (
  SELECT n_name, s_suppkey, revenue,
    ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY revenue DESC, s_suppkey) AS rk
  FROM (SELECT n_name, s_suppkey, CAST(SUM({_REV}) AS DOUBLE) AS revenue
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE l_shipdate >= DATE '{{year}}-01-01' AND l_shipdate < DATE '{{next_year}}-01-01'
        GROUP BY n_name, s_suppkey) t) r
WHERE rk <= {{top}}""",
        {"year": [1993, 1994, 1995, 1996, 1997], "top": [3, 5]},
    ),
    "not_exists": (
        """SELECT n_name, COUNT(*) AS idle_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_mktsegment = '{segment}' AND NOT EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey
    AND o_orderdate >= DATE '{day}' AND o_orderdate < DATE '{day_end}')
GROUP BY n_name""",
        {"segment": SEGMENTS, "day": ["1994-01-01", "1995-01-01", "1996-01-01"]},
    ),
}


def render(name: str, params: dict) -> str:
    p = dict(params)
    if "year" in p:
        p["next_year"] = p["year"] + 1
    if "disc" in p:
        p["disc_lo"], p["disc_hi"] = round(p["disc"] - 0.01, 2), round(p["disc"] + 0.01, 2)
    if "day" in p and "day_end" not in p:
        p["day_end"] = _d(p["day"], 90)
    return TEMPLATES[name][0].format(**p)


def statement_stream(seed: int) -> Iterator[tuple[str, str]]:
    """Endless seeded (template, sql) pairs: consecutive blocks hold every
    template once in a seeded order, so any whole number of blocks has the
    same statement mix whatever the seed; parameters are drawn per use."""
    rng = np.random.default_rng(seed)
    names = sorted(TEMPLATES)
    while True:
        for i in rng.permutation(len(names)):
            name = names[int(i)]
            choices = TEMPLATES[name][1]
            params = {k: v[int(rng.integers(len(v)))] for k, v in choices.items()}
            yield name, render(name, params)


# ------------------------------------------------------------------- gate


def _cell(v):
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if hasattr(v, "is_finite"):  # Decimal
        return float(v)
    return v


def _key(row):
    return tuple(round(c, 2) if isinstance(c, float) else (c if c is not None else "") for c in row)


def rowsets_match(got: list[tuple], want: list[tuple]) -> bool:
    """Order-insensitive equality of two row lists; doubles compared to a
    relative 1e-9 (sums are exact decimals cast to double on both sides)."""
    if len(got) != len(want):
        return False
    a = sorted(([_cell(c) for c in r] for r in got), key=lambda r: repr(_key(r)))
    b = sorted(([_cell(c) for c in r] for r in want), key=lambda r: repr(_key(r)))
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True


def duckdb_oracle(tables_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET autoinstall_known_extensions = false")
    con.execute("SET TimeZone = 'UTC'")
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    return con


# ------------------------------------------------------------------- loop


def run_statement(rec, eng, sql: str) -> list[tuple]:
    """Parse + analyse, plan, execute + collect: the three engine spans."""
    df = rec.call("engine.sql", eng.sql, sql)
    rec.call("engine.plan", lambda: df._jdf.queryExecution().executedPlan())
    rows = rec.call("engine.run", df.collect)
    return [tuple(r) for r in rows]


def run(rec, eng, seed: int, seconds: float) -> dict:
    """Closed loop for at least ``seconds``, ending on a block boundary so
    every run executes whole blocks (the same template mix); returns
    {sql: [result rows of each execution]}."""
    stream = statement_stream(seed)
    lock = threading.Lock()
    results: dict[str, list[list[tuple]]] = {}
    cursor = 0
    deadline = time.perf_counter() + seconds

    def client() -> None:
        nonlocal cursor
        while True:
            with lock:
                if cursor % len(TEMPLATES) == 0 and time.perf_counter() >= deadline:
                    return
                name, sql = next(stream)
                cursor += 1
            with rec.op(f"statement.{name}"):
                rows = run_statement(rec, eng, sql)
                with lock:
                    results.setdefault(sql, []).append(rows)

    threads = [threading.Thread(target=client, name=f"olap-client-{i}") for i in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results


def gate(rec, results: dict, tables_dir: str) -> int:
    """Check every result against DuckDB; returns the number of checks."""
    con = duckdb_oracle(tables_dir)
    checks = 0
    for sql, runs in results.items():
        want = con.execute(sql).fetchall()
        for rows in runs:
            checks += 1
            if not rowsets_match(rows, want):
                rec.fail(f"olap result differs from DuckDB for: {' '.join(sql.split())[:200]}")
    con.close()
    return checks
