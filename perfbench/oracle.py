"""Hash-exact comparison of a Spark result against the catalog's DuckDB
oracle, on the benchmark's fixture tables."""

from __future__ import annotations

import math

import duckdb


def _norm(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _same(a, b) -> bool:
    a_null = a is None or (isinstance(a, float) and math.isnan(a))
    b_null = b is None or (isinstance(b, float) and math.isnan(b))
    if a_null or b_null:
        return a_null == b_null
    if isinstance(a, float) or isinstance(b, float):
        return float(a) == float(b)
    return a == b


def compare_to_duckdb(got, oracle_sql: str, tables_dir: str, tables: list[str]) -> tuple[bool, str]:
    """``got`` (a pandas frame of the Spark result) has the oracle's
    columns, row count and cells (order-insensitive, exact)."""
    got = _norm(got)
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
        want = _norm(con.execute(oracle_sql).fetchdf())
    finally:
        con.close()
    if list(got.columns) != list(want.columns):
        return False, f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return False, f"{len(got)} rows != oracle {len(want)}"
    for c in got.columns:
        for x, y in zip(got[c].tolist(), want[c].tolist()):
            if not _same(x, y):
                return False, f"column {c}: {x!r} != oracle {y!r}"
    return True, ""
