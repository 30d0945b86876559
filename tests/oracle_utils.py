"""Local replica of the driver's DuckDB-oracle comparison.

Runs a Spark query and its oracle SQL side-by-side, compares row count,
column names, and order-insensitive values (sorted by all columns, with a
small float tolerance fallback so we can distinguish "wrong" from
"last-ulp float noise" while iterating).
"""

from __future__ import annotations

import math
from datetime import date, datetime

import duckdb

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # DuckDB defaults to ALL cores per process, on top of the cores the
    # suite's Spark JVM already uses. Oracle SQL at sf0.01 is sub-second
    # either way — cap it.
    con.execute("SET threads = 4")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _sort_key(row):
    return tuple((x is None, str(x)) for x in row)


def compare(spark_df, con, sql, float_rel_tol=1e-9) -> list[str]:
    """Return a list of mismatch descriptions (empty == match)."""
    problems: list[str] = []
    spark_cols = sorted(spark_df.columns)
    spark_rows = [
        tuple(_norm(r[c]) for c in spark_cols) for r in spark_df.collect()
    ]
    res = con.execute(sql)
    duck_cols_raw = [d[0] for d in res.description]
    duck_sorted_idx = sorted(range(len(duck_cols_raw)), key=lambda i: duck_cols_raw[i])
    duck_cols = [duck_cols_raw[i] for i in duck_sorted_idx]
    duck_rows = [
        tuple(_norm(row[i]) for i in duck_sorted_idx) for row in res.fetchall()
    ]
    if spark_cols != duck_cols:
        problems.append(f"columns differ: spark={spark_cols} duck={duck_cols}")
        return problems
    if len(spark_rows) != len(duck_rows):
        problems.append(f"row count differs: spark={len(spark_rows)} duck={len(duck_rows)}")
    spark_rows.sort(key=_sort_key)
    duck_rows.sort(key=_sort_key)
    n_exact = n_tol = n_bad = 0
    first_bad = None
    for s, d in zip(spark_rows, duck_rows):
        if s == d:
            n_exact += 1
            continue
        ok = len(s) == len(d)
        if ok:
            for a, b in zip(s, d):
                if a == b:
                    continue
                if (
                    isinstance(a, float)
                    and isinstance(b, float)
                    and math.isclose(a, b, rel_tol=float_rel_tol, abs_tol=1e-12)
                ):
                    continue
                ok = False
                break
        if ok:
            n_tol += 1
        else:
            n_bad += 1
            if first_bad is None:
                first_bad = (s, d)
    if n_bad:
        problems.append(
            f"{n_bad} rows mismatch beyond tolerance (exact={n_exact}, tol={n_tol}); "
            f"first: spark={first_bad[0]} duck={first_bad[1]}"
        )
    elif n_tol:
        problems.append(
            f"HASH-RISK: {n_tol} rows differ only within float tolerance (exact={n_exact})"
        )
    return problems
