"""The batch-keyed lifecycle kernel (operators/lifecycle.py) on a tiny
untrained family: ``rows`` of (id, v, d) under ``batch=``, one
``rows_manifest`` row per batch, a one-row ``meta``. Seconds to run,
so the append → fold → compact protocol every vector family shares is
exercised by the default selection."""

from __future__ import annotations

import threading
import warnings

import pytest
from pyspark.sql import functions as F

from pyspark_airflow_weather_etl_spark.operators.lifecycle import (
    _batches_disjoint,
    _literal_frame,
    append_batch,
    compact_rows,
    fold_latest,
    frozen_meta,
    id_range,
    rows_disjoint,
    rows_manifest,
    write_literal,
)
from pyspark_airflow_weather_etl_spark.sources.writers import (
    resolve_serving_version,
)


def _append(spark, path, batch_id, rows, id_type="bigint"):
    df = _literal_frame(spark, rows, f"id {id_type}, v string, d double")
    st = df.agg(*id_range("id")).collect()[0]
    append_batch(
        spark,
        path,
        batch_id,
        {
            "rows": (
                df.withColumn("batch", F.lit(batch_id).cast("bigint")),
                ("batch",),
            )
        },
        rows_manifest(df, "id", batch_id, st),
    )


def _serve(spark, path):
    rows = spark.read.parquet(f"{path}/rows")
    return fold_latest(rows, "id", ["v", "d"], rows_disjoint(spark, path))


def _served(df):
    return sorted((r["id"], r["v"]) for r in df.collect())


def _plan(df):
    return df._jdf.queryExecution().analyzed().toString()


@pytest.fixture
def overlapping(spark, tmp_path):
    path = str(tmp_path / "idx")
    write_literal(spark, f"{path}/meta", [(2.0,)], "fit_mean_d double")
    _append(spark, path, 0, [(1, "a0", 1.0), (2, "b0", 1.0)])
    _append(spark, path, 1, [(2, "b1", 3.0), (3, "c1", 5.0)])
    return path


def test_fold_latest_serves_newest_row(spark, overlapping):
    df = _serve(spark, overlapping)
    assert "max_by" in _plan(df)
    assert _served(df) == [(1, "a0"), (2, "b1"), (3, "c1")]


@pytest.mark.parametrize("id_type", ["int", "bigint", "string"])
def test_disjoint_batches_skip_fold(spark, tmp_path, id_type):
    """The manifest keeps the id range in the id column's own type."""
    cast = str if id_type == "string" else int
    path = str(tmp_path / "idx")
    rows = [(cast(i), f"v{i}", 1.0) for i in range(1, 5)]
    _append(spark, path, 0, rows[:2], id_type)
    _append(spark, path, 1, rows[2:], id_type)
    man = spark.read.parquet(f"{path}/rows_manifest")
    assert man.schema["min_id"].dataType.simpleString() == id_type
    df = _serve(spark, path)
    assert "max_by" not in _plan(df)
    assert _served(df) == [r[:2] for r in rows]


def test_compact_rows_folds_to_batch_zero(spark, overlapping, tmp_path):
    dst = str(tmp_path / "dst")
    vname = compact_rows(spark, overlapping, dst, ("batch",), drift="d")
    assert vname == resolve_serving_version(spark, dst)
    cur = f"{dst}/{vname}"
    rows = spark.read.parquet(f"{cur}/rows")
    assert {r["batch"] for r in rows.collect()} == {0}
    assert _served(rows) == [(1, "a0"), (2, "b1"), (3, "c1")]
    man = spark.read.parquet(f"{cur}/rows_manifest").collect()
    assert [
        (m["batch"], m["min_id"], m["max_id"], m["n_rows"]) for m in man
    ] == [(0, 1, 3, 3)]
    drift = spark.read.parquet(f"{cur}/drift").collect()
    assert [
        (r["batch"], r["n_rows"], r["mean_d"], r["drift_ratio"]) for r in drift
    ] == [(0, 3, 3.0, 1.5)]
    assert spark.read.parquet(f"{cur}/meta").first()["fit_mean_d"] == 2.0
    # the batch-0 manifest proves a following disjoint append disjoint
    _append(spark, cur, 5, [(7, "x5", 1.0)])
    df = _serve(spark, cur)
    assert "max_by" not in _plan(df)
    assert _served(df) == [(1, "a0"), (2, "b1"), (3, "c1"), (7, "x5")]


def test_frozen_meta_guards(spark, tmp_path):
    path = str(tmp_path / "idx")
    def check(p, k):
        return frozen_meta(spark, p, "rows", "toy index", "encode", {"k": k})

    assert check(path, 4) is None
    write_literal(spark, f"{path}/meta", [(4,)], "k int")
    assert check(path, 4)["k"] == 4
    with pytest.raises(ValueError, match="would encode incompatibly"):
        check(path, 5)
    other = str(tmp_path / "no_meta")
    _append(spark, other, 0, [(1, "a0", 1.0)])
    with pytest.raises(ValueError, match="has rows but no meta"):
        check(other, 4)


def _last_job_id(sc, group):
    """Run one tiny job under ``group`` and return its id: job ids
    grow by one per submitted job, so two such markers bracket every
    job submitted between them."""
    sc.setJobGroup(group, group)
    try:
        sc._jsc.sc().range(0, 1, 1, 1).count()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(group))


def test_concurrent_tree_writes_inherit_job_group(spark, tmp_path):
    """Every job a three-tree append submits — from the writer threads
    too — is in the caller's job group, so a tracer grouping jobs by
    span and ``cancelJobGroup`` both reach every concurrent write."""
    sc = spark.sparkContext
    path = str(tmp_path / "idx")
    df = _literal_frame(
        spark, [(1, "a", 1.0), (2, "b", 2.0)], "id bigint, v string, d double"
    )
    keyed = df.withColumn("batch", F.lit(0).cast("bigint"))
    st = df.agg(*id_range("id")).collect()[0]
    first = _last_job_id(sc, "lifecycle-before")
    sc.setJobGroup("lifecycle-append", "three-tree append")
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            append_batch(
                spark,
                path,
                0,
                {t: (keyed, ("batch",)) for t in ("rows", "drift", "extra")},
                rows_manifest(df, "id", 0, st),
            )
    finally:
        sc._jsc.clearJobGroup()
    last = _last_job_id(sc, "lifecycle-after")
    assert not [w for w in caught if "session is not provided" in str(w.message)]
    grouped = set(sc.statusTracker().getJobIdsForGroup("lifecycle-append"))
    assert len(grouped) >= 4  # three trees and the manifest
    assert grouped == set(range(first + 1, last))


def test_failed_tree_write_leaves_no_manifest_row(spark, tmp_path):
    """A tree whose frame fails at execution time fails the append:
    the error surfaces, the replayed batch has no manifest row (so the
    tree no longer proves its batches disjoint), and no writer thread
    outlives the call."""
    path = str(tmp_path / "idx")
    _append(spark, path, 0, [(1, "a0", 1.0)])
    _append(spark, path, 1, [(5, "b1", 1.0)])
    assert _batches_disjoint(
        spark, f"{path}/rows", f"{path}/rows_manifest", "min_id", "max_id",
        "n_rows",
    )
    df = _literal_frame(spark, [(6, "c1", 1.0)], "id bigint, v string, d double")
    keyed = df.withColumn("batch", F.lit(1).cast("bigint"))
    bad = keyed.withColumn(
        "v",
        F.when(
            F.col("id") > 0, F.raise_error(F.lit("tree write failed"))
        ).otherwise(F.col("v")),
    )
    st = df.agg(*id_range("id")).collect()[0]
    threads = threading.active_count()
    with pytest.raises(Exception, match="tree write failed"):
        append_batch(
            spark,
            path,
            1,
            {"rows": (keyed, ("batch",)), "bad": (bad, ("batch",))},
            rows_manifest(df, "id", 1, st),
        )
    assert threading.active_count() == threads
    man = spark.read.parquet(f"{path}/rows_manifest").collect()
    assert [m["batch"] for m in man] == [0]
    assert not _batches_disjoint(
        spark, f"{path}/rows", f"{path}/rows_manifest", "min_id", "max_id",
        "n_rows",
    )
