"""Tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen  # noqa: E402
from perfbench.core import (  # noqa: E402
    Ledger,
    Span,
    Tracer,
    all_pass,
    descendants,
    result_line,
    samples_beyond,
    seconds_total,
    self_time,
    tail_percentile,
    wall_seconds,
)

# ------------------------------------------------------- percentile rule


def test_p90_needs_ten_samples_beyond():
    assert samples_beyond(100, 90) == 10
    assert samples_beyond(99, 90) == 9
    assert tail_percentile(list(range(99)), 90) is None
    assert tail_percentile([float(i) for i in range(1, 101)], 90) == 90.0


def test_p99_needs_a_thousand_samples():
    assert tail_percentile(list(range(999)), 99) is None
    assert tail_percentile(list(range(1000)), 99) == 989


def test_no_samples_no_percentile():
    assert tail_percentile([], 90) is None


# ------------------------------------------------------------- self time


def _span(sid, start, end, parent=None):
    return Span(sid, f"s{sid}", "x", 1, parent, start, end)


def test_self_time_subtracts_children():
    parent = _span(1, 0.0, 10.0)
    kids = [_span(2, 1.0, 3.0, 1), _span(3, 5.0, 6.0, 1)]
    assert self_time(parent, kids) == pytest.approx(7.0)


def test_self_time_counts_overlap_once_and_clips():
    parent = _span(1, 0.0, 10.0)
    kids = [_span(2, 1.0, 4.0, 1), _span(3, 3.0, 5.0, 1), _span(4, 9.0, 12.0, 1)]
    # covered: [1, 5] and [9, 10] -> 5 s
    assert self_time(parent, kids) == pytest.approx(5.0)


def test_tracer_nests_and_shares_op_id():
    tr = Tracer()
    with tr.op("probe"):
        with tr.span("build", "plans"):
            pass
        with tr.span("exec", "operators"):
            pass
    root = [s for s in tr.spans if s.parent is None]
    assert len(root) == 1
    assert {s.op_id for s in tr.spans} == {root[0].span_id}
    st = tr.self_times()
    kids = [s for s in tr.spans if s.parent is not None]
    assert st[root[0].span_id] == pytest.approx(
        root[0].duration - sum(k.duration for k in kids), abs=1e-6)


def test_disabled_tracer_records_nothing():
    calls = []
    tr = Tracer(enabled=False, on_enter=calls.append)
    with tr.op("x") as s:
        assert s is None
    assert tr.spans == [] and calls == []


# ---------------------------------------------------- error_ratio counting


def test_error_ratio_counts_failures_and_wrong_results():
    led = Ledger()
    led.record("ok", True)
    led.check("wrong", lambda: (False, "mismatch"))
    led.check("raises", lambda: 1 / 0)
    led.record("ok2", True)
    assert (led.attempted, led.failed) == (4, 2)
    assert led.error_ratio == 0.5
    line = result_line(led, {})
    assert line["correct"] is False
    assert (line["attempted"], line["failed"]) == (4, 2)
    assert [op for op, _ in led.failures] == ["wrong", "raises"]


def test_checks_stop_at_the_first_miss():
    seen = []

    def ok(r):
        seen.append("ok")
        return True, ""

    def miss(r):
        seen.append("miss")
        return False, f"bad {r}"

    assert all_pass([], 1) == (True, "")
    assert all_pass([ok, miss, ok], 7) == (False, "bad 7")
    assert seen == ["ok", "miss"]


def test_no_attempts_is_not_a_clean_run():
    assert Ledger().error_ratio == 1.0


# ------------------------------------------------ counts are not seconds


def test_counts_never_summed_into_seconds():
    assert seconds_total([(1.0, "s"), (2.5, "s")]) == 3.5
    with pytest.raises(ValueError):
        seconds_total([(1.0, "s"), (64.0, "count")])


def test_wall_seconds_is_sum_of_op_medians():
    assert wall_seconds({"a": [1.0, 3.0, 2.0], "b": [0.5]}) == pytest.approx(2.5)


# --------------------------------------------------- generator determinism


def _generate(seed, root):
    days = gen.bronze_days(seed, gen.SIZES["etl_batch"])
    for day, d in days.items():
        gen.write_bronze_day(day, d, f"{root}/b")
    batches = gen.stream_batches(seed, f"{root}/s", gen.SIZES["ingest_stream"])
    frames = json.dumps(
        [{k: v for k, v in b.items() if not k.endswith("_file")} for b in batches])
    return gen.tree_digest(root), frames


def test_same_seed_same_bytes(tmp_path):
    a = _generate(7, str(tmp_path / "a"))
    b = _generate(7, str(tmp_path / "b"))
    assert a == b


def test_other_seed_other_bytes(tmp_path):
    a = _generate(7, str(tmp_path / "a"))
    b = _generate(8, str(tmp_path / "b"))
    assert a[0] != b[0] and a[1] != b[1]


def test_bronze_has_duplicates_and_missing_metrics():
    days = gen.bronze_days(3, {**gen.SIZES["etl_batch"], "locations": 100})
    docs = [doc for d in days.values() for doc in d]
    assert len(docs) > len({json.dumps(d, sort_keys=True) for d in docs})
    assert any(len(d["hourly"]) < 4 for d in docs)


def test_stream_marker_is_unique_to_its_batch(tmp_path):
    import pyarrow.parquet as pq

    batches = gen.stream_batches(5, str(tmp_path), gen.SIZES["ingest_stream"])
    for b in batches:
        ids = [
            r["doc_id"] for r in pq.read_table(b["doc_file"]).to_pylist()
            if b["marker"] in r["text"].split(" ")
        ]
        assert ids == [b["marker_doc"]]


def test_stream_ids_are_fresh_and_distinct(tmp_path):
    import pyarrow.parquet as pq

    batches = gen.stream_batches(5, str(tmp_path), gen.SIZES["ingest_stream"])
    docs = [i for b in batches for i in pq.read_table(b["doc_file"]).column("doc_id").to_pylist()]
    vecs = [i for b in batches for i in pq.read_table(b["vec_file"]).column("vec_id").to_pylist()]
    for ids in (docs, vecs):
        assert len(ids) == len(set(ids)) and min(ids) >= gen.ID_BASE


def test_fixtures_match_their_digests(tmp_path):
    assert gen.fixtures_intact() == (True, "")
    assert gen.fixtures_intact(str(tmp_path))[0] is False


# ------------------------------------------------------- process tree


def _fake_stat(proc, pid, ppid, comm="java (x)"):
    os.makedirs(proc / str(pid))
    (proc / str(pid) / "stat").write_text(f"{pid} ({comm}) S {ppid} 0 0\n")


def test_descendants_are_the_tree_below_the_root(tmp_path):
    _fake_stat(tmp_path, 1, 0)
    _fake_stat(tmp_path, 10, 1)   # the root
    _fake_stat(tmp_path, 11, 10)  # JVM
    _fake_stat(tmp_path, 12, 11)  # worker daemon
    _fake_stat(tmp_path, 20, 1)   # unrelated process
    (tmp_path / "self").mkdir()
    assert descendants(10, str(tmp_path)) == {10, 11, 12}
