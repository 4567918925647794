"""Drive the driver contract end-to-end, the way the verify/correctness
driver does: a plain SparkSession (none of the engine's session confs),
entry() smoke check, then every queries() entry compared against its
oracle_sql() via DuckDB with the registry's rule
(``plans.registry.oracle_mismatches``: column set, row count and
order-insensitive exact values). An entry without an oracle must
return at least one row.

``--names`` checks only the named entries, in the given order, and
skips the entry() smoke check — the fast inner loop while building or
changing an entry.

Usage: python scripts/drive_entry.py [--names a,b[,c]] [sf_dir ...]
(default sf_dir: /root/testdata/sf0.01)
"""

from __future__ import annotations

import argparse
import sys
import time

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, ".")
import __spark_entry__ as E  # noqa: E402
from pyspark_airflow_weather_etl_spark.plans.registry import (  # noqa: E402
    oracle_mismatches,
)

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def check(spark, sf_dir: str, names: list[str]) -> list[str]:
    """Run each of ``names`` at ``sf_dir`` against its oracle; return
    the names that failed."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs, oracles = E.queries(), E.oracle_sql()
    failures = []
    for name in names:
        t0 = time.time()
        try:
            got = qs[name](spark, sf_dir).toPandas()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL  {name}: raised {ex}")
            continue
        dt = time.time() - t0
        if name in oracles:
            bad = oracle_mismatches(got, con.execute(oracles[name]).fetchdf())
            kind = ""
        else:
            bad = [] if len(got) else ["no rows"]
            kind = " [rows-only]"
        if bad:
            failures.append(name)
        print(
            f"{'FAIL ' if bad else 'OK   '}{name}: {len(got)} rows{kind} "
            f"({dt:.1f}s){' ' + str(bad[:3]) if bad else ''}"
        )
    print(f"\n{len(names) - len(failures)}/{len(names)} queries OK at {sf_dir}")
    return failures


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--names", help="comma-separated catalog entries")
    ap.add_argument("sf_dirs", nargs="*", default=["/root/testdata/sf0.01"])
    args = ap.parse_args()

    # Deliberately vanilla: the driver's session, not the engine's.
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("drive-entry")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    if args.names:
        names = args.names.split(",")
        unknown = [n for n in names if n not in E.queries()]
        if unknown:
            ap.error(f"unknown catalog entries: {unknown}")
    else:
        rows = E.entry(spark).collect()
        print(f"entry(): {len(rows)} rows, first={rows[0] if rows else None}")
        if not rows:
            return 1
        names = sorted(E.queries())

    failed = [f for sf in args.sf_dirs for f in check(spark, sf, names)]
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
