"""Query catalog: named (Spark plan, DuckDB oracle) pairs.

Each entry is one operator/query from SURVEY.md §2 (or a north-star
extension). Keeping the Spark callable and its ANSI-SQL oracle in one
``@register`` site is what keeps column names and semantics in sync —
the correctness driver hash-compares them at sf0.01.

Oracle-less entries (``oracle=None``) are genuinely non-SQL-expressible
ops (MinHash-LSH banding, streaming state); the driver records a
rows-only check for those and pytest adds self-consistency assertions.
"""

from __future__ import annotations

import json
import math
import re
from collections.abc import Callable, Iterable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QueryDef(name, fn, oracle, (fn.__doc__ or "").strip())
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in REGISTRY.items()}


def oracles() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}


def oracle_mismatches(got, want) -> list[str]:
    """Every way the pandas frame ``got`` differs from the oracle's
    ``want``, the correctness driver's rule; empty when they match.

    Both frames are normalized by sorted columns and sorted rows, so
    the check is order-insensitive. Columns and row count must match,
    then every cell must be exactly equal (the driver hash-compares,
    so no tolerance), with None and NaN equal only to each other."""

    def same(a, b) -> bool:
        an = a is None or (isinstance(a, float) and math.isnan(a))
        bn = b is None or (isinstance(b, float) and math.isnan(b))
        if an or bn:
            return an == bn
        if isinstance(a, float) or isinstance(b, float):
            return float(a) == float(b)
        return a == b

    got, want = (
        df[sorted(df.columns)].sort_values(
            by=sorted(df.columns), ignore_index=True
        )
        for df in (got, want)
    )
    if list(got.columns) != list(want.columns):
        return [f"columns {list(got.columns)} != {list(want.columns)}"]
    if len(got) != len(want):
        return [f"{len(got)} rows != {len(want)}"]
    return [
        f"{c}[{i}]: {x!r} != {y!r}"
        for c in got.columns
        for i, (x, y) in enumerate(zip(got[c].tolist(), want[c].tolist()))
        if not same(x, y)
    ]


def schedule(names: Iterable[str], records_dir: str | Path) -> list[str]:
    """``names`` in the order the correctness driver should sample
    them, worked out from the ``CORRECTNESS_r<N>.json`` records in
    ``records_dir``.

    A name's state is its row in the newest round (by the integer N)
    that has one; the row is green when ``hash_match`` is true or the
    entry has no oracle (``err == "no_oracle"``). Names with no row, or
    whose newest row is not green, come first; then the rest by the
    round of their newest row, oldest round first, so stale green is
    re-checked before fresh green. Each group keeps the order of
    ``names``, which is also the whole order when there are no
    records."""
    rounds = sorted(
        (int(m.group(1)), p)
        for p in Path(records_dir).glob("CORRECTNESS_r*.json")
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name))
    )
    last_green: dict[str, int | None] = {}
    for n, path in rounds:
        for name, row in json.loads(path.read_text()).items():
            green = (
                row.get("hash_match") is True or row.get("err") == "no_oracle"
            )
            last_green[name] = n if green else None

    def key(name: str) -> tuple[int, int]:
        n = last_green.get(name)
        return (0, 0) if n is None else (1, n)

    return sorted(names, key=key)
