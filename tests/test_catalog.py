"""Catalog hygiene: the driver contract must stay internally
consistent as entries are added."""

from __future__ import annotations

import json
import math
from pathlib import Path

import pandas as pd

import __spark_entry__ as E
from pyspark_airflow_weather_etl_spark.plans import REGISTRY
from pyspark_airflow_weather_etl_spark.plans.registry import (
    oracle_mismatches,
    schedule,
)

REPO_ROOT = Path(__file__).resolve().parents[1]


def test_every_entry_documented():
    for name, q in REGISTRY.items():
        assert q.doc, f"{name} has no docstring"


def test_contract_exports_match_registry():
    qs, oracles = E.queries(), E.oracle_sql()
    assert set(qs) == set(REGISTRY)
    assert set(oracles) <= set(qs)
    # every oracle references only pre-registered fixture views
    fixtures = {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }
    import re

    for name, sql in oracles.items():
        # string literals can contain SQL keywords (the BM25 query
        # text 'hash join table scan' made `JOIN table` look like a
        # table reference) — blank them before scanning
        sql = re.sub(r"'[^']*'", "''", sql)
        # negative lookbehind: SQL's `IS [NOT] DISTINCT FROM x`
        # comparisons are not table references
        tables = set(re.findall(
            r"(?:(?<!DISTINCT )FROM|JOIN)\s+([a-z_][a-z0-9_]*)", sql,
            re.IGNORECASE))
        cte_names = set(re.findall(r"(?:WITH(?:\s+RECURSIVE)?\s+|,\s*)"
                                   r"([a-z_][a-z0-9_]*)\s*(?:\([^)]*\))?"
                                   r"\s+AS\s+(?:MATERIALIZED\s*)?\(", sql,
                                   re.IGNORECASE))
        aliases = {"t", "n", "c", "s", "o", "l", "a", "b", "e", "q", "j",
                   "n1", "n2", "sa", "sb", "v", "p", "r", "u", "w"}
        tables = {t.lower() for t in tables}
        cte_names = {t.lower() for t in cte_names}
        unknown = tables - fixtures - cte_names - aliases - {
            "unnest", "lateral", "read_parquet",
            "read_json",  # committed bronze fixture (weatherplans)
            "null",  # 'IS NOT DISTINCT FROM NULL' matches the regex
        }
        assert not unknown, f"{name} references non-fixture tables: {unknown}"


def test_rows_only_entries_are_the_documented_sketches():
    rows_only = {n for n, q in REGISTRY.items() if not q.oracle}
    assert rows_only == {
        "minhash_near_dup_pairs",
        "simhash_documents",
        "srp_ann_topk",
        "srp_ann_topk_at_rest",
        "embedding_near_dup_blocked",
        "ivf_ann_topk",
        "ivf_ann_topk_at_rest",
        # round-14 lifecycle edition: float-trained frozen centroids,
        # probe==in-memory equality pytest in tests/test_similarity.py
        # (its fixed-quantizer twin ivf_ann_topk_incremental_fixed,
        # round 15, IS oracle-bearing — append+fold+probe replayed in
        # one DuckDB statement)
        "ivf_ann_topk_incremental",
        # round-15 SRP lifecycle: LSH probe set like every srp entry;
        # equality with one-shot srp_topk_at_rest + replay idempotency
        # pinned in tests/test_similarity.py
        "srp_ann_topk_incremental",
        "approx_distinct_users",
        "approx_percentile_prices",
        # SRP sub-blocked hot-label path: approximate by design, recall
        # bounded in tests/test_similarity.py::TestHotLabelSubBlocking
        "pairwise_topk_per_label_hot",
        # SRP-blocked cross-corpus leakage check: approximate, recall
        # bounded vs the oracle-checked cross_corpus_near_dup_exact
        "cross_corpus_near_dup_blocked",
        # SemDeDup: the k-means quantizer is not SQL-expressible;
        # bounds in tests/test_similarity.py::TestSemanticDedup
        "semantic_dedup_embeddings",
        # forced hot-cell SRP sub-blocking scale path of the above
        "semantic_dedup_embeddings_hot",
        # nprobe=4 multi-probe edition (k-means): leakage + coverage
        # bounds in tests/test_similarity.py (r9)
        "semantic_dedup_embeddings_nprobe",
        # k-means incremental loop: batch-restriction equality in
        # tests/test_similarity.py::TestIncrementalSemanticDedup (its
        # fixed-quantizer twin semantic_dedup_incremental_cells is
        # hash-exact against the one-shot oracle)
        "semantic_dedup_incremental_embeddings",
        # (BPE merges/encode moved OUT of this set in round 11: the
        # training loop and encode are now round-unrolled
        # recursive-CTE oracles — hash-exact)
        # PQ with trained codebooks: quantized ranking is approximate
        # by design; encode/LUT exactness + recall bounds in
        # tests/test_pq.py (the fixed-codebook twins
        # pq_encode_fixed_embeddings / pq_adc_topk_fixed ARE
        # oracle-bearing — the hash-exact proof of the same pipeline)
        "pq_ann_topk_adc",
        "ivfpq_ann_topk_at_rest",
        # IVF-PQ lifecycle: same trained quantizers, frozen in the
        # tree; lifecycle equality/recall/plan shape in
        # tests/test_pq.py::TestIvfpqLifecycle (the hash-exact twin is
        # ivfpq_ann_topk_fixed — oracle-bearing)
        "ivfpq_ann_topk_incremental",
        # streaming twin of the same lifecycle: streamed == incremental
        # batch build == compacted, pinned in tests/test_pq.py
        "streaming_ivfpq_index_topk",
        # OPQ edition of the lifecycle (learned rotation frozen in the
        # tree); one-batch == at-rest equality + flavor guard pinned
        # in tests/test_pq.py
        "opq_ann_topk_incremental",
        # OPQ at-rest serving shape (codes quantize rotated vectors at
        # write time); plan contract shared with ivfpq_ann_topk_at_rest
        "opq_ann_topk_at_rest",
        # OPQ: learned rotation (SVD Procrustes) + trained codebooks;
        # orthogonality, error-reduction vs plain PQ, and encode
        # parity pinned in tests/test_pq.py::TestOpq
        "opq_ann_topk_adc",
        # (unigram hard-EM vocab/encode moved OUT of this set in
        # round 11: the Viterbi trainer and encode replay as
        # recursive-CTE oracles — hash-exact)
        # full-EM edition: forward-backward expected counts quantized
        # to integer micro-counts before aggregation; exact equality
        # with an independent Python reference in
        # tests/test_unigram.py::TestFullEm
        "unigram_vocab_em_documents",
        # trained quality classifier: iterative full-batch logistic GD
        # is not one SQL query; training+scoring are bit-exact against
        # an independent numpy reference in tests/test_classifier.py,
        # and the streaming twin is batch-parity + replay pinned in
        # tests/test_streaming.py
        "quality_classifier_scores",
        "quality_classifier_select",
        "streaming_classifier_scores",
        # distributed exact PCA: driver-side eigh over exact integer
        # moments; bit-exact numpy parity in tests/test_pca.py
        "pca_project_embeddings",
        "pca_reduced_ann_topk",
        # streaming twin: bit-identical artifact from the streamed
        # moment store (integer additivity) — pinned in
        # tests/test_streaming.py
        "streaming_pca_project_embeddings",
    }, f"unexpected rows-only set: {rows_only}"


GREEN = {"hash_match": True, "err": None}
RED = {"hash_match": False, "err": None}
NO_ORACLE = {"hash_match": None, "err": "no_oracle"}


def _records(tmp_path, rounds: dict[int, dict[str, dict]]) -> Path:
    for n, rows in rounds.items():
        (tmp_path / f"CORRECTNESS_r{n:02d}.json").write_text(json.dumps(rows))
    return tmp_path


def test_schedule_puts_never_sampled_names_first(tmp_path):
    d = _records(tmp_path, {1: {"a": GREEN, "c": NO_ORACLE}})
    assert schedule(["a", "b", "c", "d"], d) == ["b", "d", "a", "c"]


def test_schedule_puts_a_red_newest_row_in_the_head(tmp_path):
    d = _records(
        tmp_path,
        {1: {"a": GREEN, "b": GREEN, "c": GREEN}, 2: {"a": GREEN, "c": RED}},
    )
    # c was green in r1 but red in r2: it joins the never-sampled d
    assert schedule(["a", "b", "c", "d"], d) == ["c", "d", "b", "a"]


def test_schedule_uses_the_newest_row(tmp_path):
    d = _records(
        tmp_path,
        {2: {"a": GREEN, "b": RED}, 5: {"b": GREEN, "c": GREEN},
         10: {"a": GREEN}},
    )
    # a sampled in r2 and r10 is scheduled as r10; b's red r2 row is
    # superseded by its green r5 row
    assert schedule(["a", "b", "c"], d) == ["b", "c", "a"]


def test_schedule_sorts_rounds_by_number_not_file_name(tmp_path):
    (tmp_path / "CORRECTNESS_r9.json").write_text(
        json.dumps({"a": GREEN, "b": GREEN})
    )
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps({"a": RED}))
    # by file name r10 sorts before r9 and a's newest row would be r9's
    # green one; by round it is r10's red one
    assert schedule(["b", "a"], tmp_path) == ["a", "b"]


def test_schedule_without_records_keeps_registration_order(tmp_path):
    assert schedule(["c", "a", "b"], tmp_path) == ["c", "a", "b"]


def test_registry_sample_rotates_past_the_newest_record():
    """The driver samples the first ~50 names; with the committed
    records none of them may repeat the newest round's sample."""
    records = sorted(
        REPO_ROOT.glob("CORRECTNESS_r*.json"),
        key=lambda p: int(p.stem.split("_r")[1]),
    )
    assert records
    newest = json.loads(records[-1].read_text())
    assert not set(list(E.queries())[:50]) & set(newest)


def test_oracle_mismatches_rule():
    want = pd.DataFrame({"b": [2.0, None], "a": [1, 3]})
    # row order and column order do not matter
    got = pd.DataFrame({"a": [3, 1], "b": [None, 2.0]})
    assert oracle_mismatches(got, want) == []
    # NaN equals None, and only None or NaN
    nan = pd.DataFrame({"a": [1, 3], "b": [2.0, math.nan]})
    assert oracle_mismatches(nan, want) == []
    zero = pd.DataFrame({"a": [1, 3], "b": [2.0, 0.0]})
    assert oracle_mismatches(zero, want)
    # exact: no tolerance on floats
    off = pd.DataFrame({"a": [1, 3], "b": [2.0 + 1e-12, None]})
    assert len(oracle_mismatches(off, want)) == 1
    assert oracle_mismatches(want[["a"]], want)
    assert oracle_mismatches(want.iloc[:1], want)
