"""Crash-safety of the serving-table publish protocol.

The reference's serving atomicity comes from Postgres ON CONFLICT in
one statement (weather_daily_etl.py:197-206). The parquet stand-in
must give readers the same guarantee: at every instant — including a
writer crash mid-publish — a reader resolves a COMPLETE table version,
never a partial or missing one.
"""

from __future__ import annotations

import os

import pytest

from pyspark_airflow_weather_etl_spark.sources.writers import (
    overwrite_parquet_swap,
    publish_version,
    read_serving_table,
    resolve_serving_version,
    write_serving_version,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k string, v long")


def test_versioned_write_read_roundtrip(spark, tmp_path):
    path = str(tmp_path / "serving")
    write_serving_version(_mk(spark, [("a", 1)]), path)
    assert [(r.k, r.v) for r in read_serving_table(spark, path).collect()] == [
        ("a", 1)
    ]

    # self-referencing rewrite: next version derives from the current
    merged = read_serving_table(spark, path).unionByName(
        _mk(spark, [("b", 2)])
    )
    write_serving_version(merged, path)
    got = sorted(
        (r.k, r.v) for r in read_serving_table(spark, path).collect()
    )
    assert got == [("a", 1), ("b", 2)]


def test_retention_keeps_current_plus_previous(spark, tmp_path):
    path = str(tmp_path / "serving")
    for i in range(4):
        write_serving_version(_mk(spark, [("a", i)]), path)
    vdirs = sorted(d for d in os.listdir(path) if d.startswith("v-"))
    assert vdirs == ["v-000003", "v-000004"]
    assert read_serving_table(spark, path).first().v == 3


def test_crashed_pointer_flip_recovers_newest_version(spark, tmp_path):
    """Simulate the writer dying between pointer delete and rename
    (the exact window where the old flat swap silently truncated):
    the reader must fall back to the newest complete version."""
    path = str(tmp_path / "serving")
    write_serving_version(_mk(spark, [("a", 1)]), path)
    write_serving_version(_mk(spark, [("a", 2)]), path)
    os.remove(os.path.join(path, "_current"))  # crash mid-flip

    assert resolve_serving_version(spark, path) == "v-000002"
    assert read_serving_table(spark, path).first().v == 2

    # the next publish repairs the pointer
    write_serving_version(_mk(spark, [("a", 3)]), path)
    with open(os.path.join(path, "_current")) as fh:
        assert fh.read().strip() == "v-000003"


def test_partial_version_dir_is_ignored(spark, tmp_path):
    """A version directory without _SUCCESS (writer died mid-write)
    must be invisible to readers even when it sorts newest."""
    path = str(tmp_path / "serving")
    write_serving_version(_mk(spark, [("a", 1)]), path)
    partial = tmp_path / "serving" / "v-000099"
    partial.mkdir()
    (partial / "part-00000.parquet").write_bytes(b"not parquet")

    assert resolve_serving_version(spark, path) == "v-000001"
    assert read_serving_table(spark, path).first().v == 1

    # ...and with the pointer also gone, the fallback scan still
    # refuses the partial dir
    os.remove(os.path.join(path, "_current"))
    assert resolve_serving_version(spark, path) == "v-000001"


def test_publish_starts_from_empty_version_dir(spark, tmp_path):
    """A build that crashed under the next version's name left leaves
    behind; the next publish reuses the name and must not keep them —
    index builds write with dynamic overwrite, which replaces only the
    leaves present in the new data."""
    path = str(tmp_path / "index")
    stale = tmp_path / "index" / "v-000001" / "postings" / "pfx=zz"
    stale.mkdir(parents=True)
    (stale / "part-00000.parquet").write_bytes(b"stale")
    assert publish_version(spark, path, lambda vdir: None) == "v-000001"
    assert not stale.exists()
    assert resolve_serving_version(spark, path) == "v-000001"


def test_never_written_raises_filenotfound(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        read_serving_table(spark, str(tmp_path / "nope"))


def test_flat_swap_self_reference_and_no_delete_window(spark, tmp_path):
    """overwrite_parquet_swap: rewrite a table from itself; the old
    table is renamed aside (never deleted first), so no crash point
    destroys the only copy."""
    path = str(tmp_path / "flat")
    _mk(spark, [("a", 1)]).write.parquet(path)
    grown = spark.read.parquet(path).unionByName(_mk(spark, [("b", 2)]))
    overwrite_parquet_swap(grown, path)
    assert sorted(
        (r.k, r.v) for r in spark.read.parquet(path).collect()
    ) == [("a", 1), ("b", 2)]
    assert not os.path.exists(path + ".__swap_old__")
    assert not os.path.exists(path + ".__swap_tmp__")
