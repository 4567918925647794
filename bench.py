"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints exactly ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <float>}

Each query executes through the noop sink (full plan runs, nothing
is written, no driver-side collect skew). Times are end-to-end per
query including planning, measured after a small session warm-up.
"""

from __future__ import annotations

import json
import os
import shutil
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark_airflow_weather_etl_spark.caching import release_cached  # noqa: E402
from pyspark_airflow_weather_etl_spark.plans import REGISTRY  # noqa: E402
from pyspark_airflow_weather_etl_spark.session import get_spark  # noqa: E402

#: Repeats per measured query; the published number is the MEDIAN, so
#: one contended run on a shared box can't silently distort a round's
#: record (r5 published a 2.8x blowout on byte-identical code).
BENCH_RUNS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))


def _median(samples: list[float]) -> float:
    s = sorted(samples)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


#: Headline set: one per operator family, weighted toward the plans
#: whose scaling behaviour matters (fact-fact joins, windows,
#: inverted-index self-joins, streaming).
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_unshipped_orders",
    "q5_nation_revenue",
    "q7_volume_shipping",
    "q10_returned_revenue",
    "q19_disjunctive_predicates",
    "sql_q4_late_orders",
    "q21_waiting_suppliers",
    "window_top_orders_per_customer",
    "window_running_customer_total",
    "sessionize_user_events",
    "asof_purchase_prior_view",
    "range_join_views_before_purchase",
    "scd2_event_state_history",
    "scd2_point_in_time_lookup",
    "events_daily_rollup",
    "topk_orders_by_price",
    "cube_orders_status_priority",
    "json_props_extract",
    "token_frequency",
    "pack_sequences_documents",
    "global_shuffle_documents",
    "token_budget_select_documents",
    "dsir_select_documents",
    "quality_classifier_scores",
    "classifier_score_fixed_weights",
    "pca_project_embeddings",
    "semantic_dedup_embeddings",
    "semantic_dedup_embeddings_hot",
    "semantic_dedup_embeddings_nprobe",
    "lm_bigram_score_documents",
    "lm_reference_score_documents",
    "perplexity_buckets_documents",
    "remove_frequent_passages",
    "unigram_seed_vocab_documents",
    "unigram_encode_documents",
    "bloom_decontaminate_documents",
    "cms_heavy_hitter_tokens",
    "corpus_split_documents",
    "exact_quantiles_orders",
    "pca_reduced_ann_topk",
    "dedup_exact_documents",
    "dedup_passages_documents",
    "dedup_substrings_documents",
    "feature_hash_embed_documents",
    "ngram_jaccard_pairs",
    "ngram_jaccard_pairs_capped",
    "minhash_near_dup_pairs",
    "cosine_topk_bruteforce",
    "srp_ann_topk",
    "srp_ann_topk_at_rest",
    "ivf_ann_topk",
    "ivf_ann_topk_at_rest",
    "pq_ann_topk_adc",
    "opq_ann_topk_adc",
    "opq_ann_topk_fixed",
    "opq_ann_topk_at_rest",
    "ivfpq_ann_topk_at_rest",
    "ivfpq_ann_topk_fixed",
    "embedding_near_dup_blocked",
    "pairwise_topk_per_label",
    "pairwise_topk_per_label_hot",
    "multimodal_features",
    "streaming_daily_rollup",
    "streaming_dedup_rollup",
    "bm25_topk_documents",
    "bm25_topk_at_rest",
    "phrase_match_documents",
    "phrase_match_at_rest",
    "proximity_match_at_rest",
    "sq8_ann_topk",
    "sq8_ann_topk_at_rest",
    "ivf_ann_topk_incremental",
    "ivf_ann_topk_incremental_fixed",
    "srp_ann_topk_incremental",
    "srp_ann_topk_incremental_fixed",
    "sq8_ann_topk_incremental",
    "sq8_ann_topk_incremental_disjoint",
    "ivfpq_ann_topk_incremental",
    "opq_ann_topk_incremental",
    "streaming_sq8_index_topk",
    "streaming_ivfpq_index_topk",
    "multimodal_audio_features",
    "multimodal_audio_features_24bit",
    "multimodal_audio_resample",
    "pca_reduced_ann_topk_fixed",
    "corpus_datasheet_by_source",
    "bm25_hard_negatives",
    "bm25_prf_expanded_topk",
    "bm25_prf_expanded_at_rest",
    "hybrid_rrf_dense_sparse",
    "ngram_containment_pairs",
    "token_entropy_documents",
    "cdc_chunks_documents",
    "funnel_view_click_purchase",
    "retention_cohorts_events",
    "curate_corpus_documents",
]


def _scaled_facts(spark, sf_dir: str, factor: int = 4):
    """Deterministically replicate (orders, lineitem) ``factor``× with
    shifted keys. The sf0.1 fixtures are small enough that a layout
    probe's effect (exchange cost, file skipping) drowns in fixed
    per-query overhead; the probes need probe-sized DATA, not
    different semantics — replication keeps every distribution and
    join-fanout property of the fixture while scaling row count.
    Factor 4 keeps the layout deltas unambiguous (≥3×) while bounding
    the probe's share of total bench wall-clock."""
    from pyspark.sql import functions as F

    from pyspark_airflow_weather_etl_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    shift = orders.agg(F.max("o_orderkey")).first()[0] + 1
    rep = spark.range(factor).select(F.col("id").alias("__rep"))
    orders_big = (
        orders.crossJoin(F.broadcast(rep))
        .withColumn("o_orderkey", F.col("o_orderkey") + F.col("__rep") * shift)
        .drop("__rep")
    )
    li_big = (
        li.crossJoin(F.broadcast(rep))
        .withColumn("l_orderkey", F.col("l_orderkey") + F.col("__rep") * shift)
        .drop("__rep")
    )
    return orders_big, li_big


def _layout_comparison(spark, sf_dir: str) -> dict[str, float]:
    """Measure the amortized-layout story: the same three-query
    orders⨝lineitem aggregation mix against (a) plain parquet
    (shuffle both sides per query) and (b) pre-bucketed tables (zero
    exchange, every query). Writes are setup, not measurement — at
    scale the bucketed layout is paid once at ingest and amortized
    over every downstream join on the key, which is exactly what a
    multi-query mix shows and a single query understates."""
    import tempfile

    from pyspark.sql import functions as F

    from pyspark_airflow_weather_etl_spark.functions.exact import dsum
    from pyspark_airflow_weather_etl_spark.operators.scale import (
        bucketed_tables_join,
        write_bucketed,
    )

    orders_big, li_big = _scaled_facts(spark, sf_dir)
    li_big = li_big.withColumnRenamed("l_orderkey", "o_orderkey")
    tmp = tempfile.mkdtemp(prefix="bench_buckets_")
    # plain-parquet copies of the SAME scaled data, so both layouts
    # read comparable files from disk
    orders_big.write.parquet(f"{tmp}/orders_plain")
    li_big.write.parquet(f"{tmp}/li_plain")
    orders_p = spark.read.parquet(f"{tmp}/orders_plain")
    li_p = spark.read.parquet(f"{tmp}/li_plain")
    write_bucketed(orders_p, "bench_orders_b", ["o_orderkey"], 32,
                   f"{tmp}/orders", sort_cols=["o_orderkey"])
    write_bucketed(li_p, "bench_lineitem_b", ["o_orderkey"], 32,
                   f"{tmp}/lineitem", sort_cols=["o_orderkey"])

    # Three aggregations on the join key — the repeated-join query mix
    # the bucketed layout amortizes over.
    def mix(j):
        return [
            j.groupBy("o_orderstatus").agg(
                F.count("*").alias("n"), dsum("l_quantity", "q")
            ),
            j.groupBy("o_orderpriority").agg(
                dsum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")),
                    "revenue",
                )
            ),
            j.groupBy(
                "o_orderstatus", F.year("o_orderdate").alias("y")
            ).agg(F.count("*").alias("n"), dsum("l_extendedprice", "s")),
        ]

    out: dict[str, float] = {}
    # Force the conditions where the exchange matters: no broadcast
    # fallback, high shuffle partitions (a large cluster's setting).
    # The bucketed path's plan has zero exchanges either way (asserted
    # in tests/test_plan_shapes.py); this makes the shuffled path pay
    # what it would pay at scale.
    forced = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "400",
    }
    old_confs = {k: spark.conf.get(k) for k in forced}
    for k, v in forced.items():
        spark.conf.set(k, v)
    try:
        results: dict[str, list] = {}
        # "badpath" = the DELIBERATE bad-path comparator (broadcast
        # disabled, 400 forced shuffle partitions) — renamed from
        # r1-r6's "join_shuffled", whose name collision with the
        # differently-designed r1 probe caused two rounds of false
        # regression reads (BASELINE.md round-7 note maps old→new).
        variants = (
            ("join_shuffled_badpath", orders_p.join(li_p, "o_orderkey")),
            (
                "join_bucketed",
                bucketed_tables_join(
                    spark, "bench_orders_b", "bench_lineitem_b",
                    ["o_orderkey"],
                ),
            ),
        )
        # Repeats INTERLEAVE across the variants (pass loop outside),
        # same as the headline loop: back-to-back samples all land in
        # one of this box's contention windows and the median can't
        # reject the outlier (r5's join_bucketed blowout was exactly
        # this probe sampled back-to-back).
        samples: dict[str, list[float]] = {lbl: [] for lbl, _ in variants}
        for _ in range(BENCH_RUNS):
            for label, j in variants:
                t0 = time.perf_counter()
                results[label] = [
                    sorted(map(tuple, q.collect())) for q in mix(j)
                ]
                samples[label].append(time.perf_counter() - t0)
        for label, _ in variants:
            out[label] = round(_median(samples[label]), 3)
        # decimal sums: exact — layouts must not change any answer
        assert (
            results["join_shuffled_badpath"] == results["join_bucketed"]
        ), "bucketed layout changed the answer"
    finally:
        for k, v in old_confs.items():
            spark.conf.set(k, v)
        spark.sql("DROP TABLE IF EXISTS bench_orders_b")
        spark.sql("DROP TABLE IF EXISTS bench_lineitem_b")
    return out


def _pq_pressure(spark, sf_dir: str) -> dict[str, float]:
    """PQ memory-compression evidence at ×512 the vectors (~1M rows —
    probe-sized data, the _scaled_facts rationale): the same top-k
    question answered by (a) a full exact-L2 scan of the at-rest
    vectors (reads every 256 B vector, folds 64 dims per row) and (b)
    the two-stage IVF-PQ probe (reads nprobe/16 partitions of 8-byte
    codes + re-ranks 64 survivors). Smaller factors are misleading:
    at ×8 the probe's fixed 3-job overhead exceeds the 16k-row scan
    it saves and brute wins (measured 0.5 s vs 1.2 s) — the crossover
    needs scan-bound data, and at ×512 the pruned ADC path wins ~7×
    (measured 7.0 s vs 0.7-1.6 s). Replication uses UNCHANGED vectors
    with shifted ids, so the answer is fully predictable and the run
    is asserted, not sampled: every returned row must be one of the
    query's identical copies at distance exactly 0, in BOTH paths.
    Index build and corpus write are untimed setup — at scale they're
    ingest cost, amortized over every query."""
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from pyspark_airflow_weather_etl_spark.operators.pq import (
        ivfpq_index_write,
        ivfpq_topk_at_rest,
        pq_train_codebooks,
    )
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        ivf_train_centroids,
    )
    from pyspark_airflow_weather_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    shift = emb.agg(F.max("vec_id")).first()[0] + 1
    rep = spark.range(512).select(F.col("id").alias("__rep"))
    big = (
        emb.crossJoin(F.broadcast(rep))
        .withColumn("vec_id", F.col("vec_id") + F.col("__rep") * shift)
        .drop("__rep", "label")
    )
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    tmp = tempfile.mkdtemp(prefix="bench_pq_")
    timings: dict[str, float] = {}
    try:
        big.write.parquet(f"{tmp}/plain")
        plain = spark.read.parquet(f"{tmp}/plain")
        cents = ivf_train_centroids(plain, n_cells=16)
        books = pq_train_codebooks(plain, m=8, n_codes=16)
        ivfpq_index_write(plain, cents, books, f"{tmp}/ivfpq")

        qlit = F.array(*[F.lit(float(x)) for x in q])
        l2 = F.aggregate(
            F.zip_with(
                F.col("embedding"),
                qlit,
                lambda x, y: (x.cast("double") - y)
                * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        copies = {k * shift for k in range(512)}
        brute_rows = ivf_rows = None
        samples_b, samples_i = [], []
        for _ in range(BENCH_RUNS):
            t0 = time.perf_counter()
            brute_rows = (
                plain.select("vec_id", F.round(l2, 6).alias("l2_d2"))
                .orderBy(F.col("l2_d2").asc_nulls_last(), "vec_id")
                .limit(10)
                .collect()
            )
            samples_b.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            ivf_rows = ivfpq_topk_at_rest(
                spark, f"{tmp}/ivfpq", q, cents, books,
                k=10, nprobe=4, rerank=64,
            ).collect()
            samples_i.append(time.perf_counter() - t0)
        for rows, tag in ((brute_rows, "brute"), (ivf_rows, "ivfpq")):
            assert {r.vec_id for r in rows} <= copies, tag
            assert all(r.l2_d2 == 0.0 for r in rows), tag
            assert len(rows) == 10, tag
        timings["pq_bruteforce_l2_512x"] = round(_median(samples_b), 3)
        timings["ivfpq_at_rest_512x"] = round(_median(samples_i), 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return timings


def _layout_skipping(spark, sf_dir: str) -> dict[str, float]:
    """Sorted-layout data skipping: the same narrow o_orderdate range
    scan against (a) an unsorted round-robin layout (every file spans
    the full date range — min/max stats prune nothing) and (b) a
    range-partitioned + sorted layout (tight per-file stats — the
    scan touches ~1/64 of the files). Write cost is ingest-time,
    amortized over every range query.

    Both layouts hold the SAME ×8-scaled data in the SAME file count:
    at raw sf0.1 the whole table is a handful of files and fixed
    per-query overhead inverts the comparison (the round-2 bench
    published sorted>unsorted — an artifact of probe size, not of the
    layout; the footer-stats pytest proves the mechanism). The probe
    also hard-asserts the sorted scan actually read fewer bytes, so a
    future regression fails loudly instead of publishing nonsense."""
    import glob
    import os as _os
    import tempfile

    from pyspark.sql import functions as F

    from pyspark_airflow_weather_etl_spark.operators.scale import write_sorted

    orders_big, _ = _scaled_facts(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="bench_sorted_")
    unsorted_p = f"{tmp}/orders_unsorted"
    sorted_p = f"{tmp}/orders_sorted"
    orders_big.repartition(64).write.parquet(unsorted_p)  # round-robin
    write_sorted(orders_big, sorted_p, ["o_orderdate"], files_per_write=64)

    pred = (
        (F.col("o_orderdate") >= F.lit("1998-03-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-03-08").cast("timestamp"))
    )

    def probe(df):
        return df.where(pred).agg(
            F.count("*").alias("n"), F.sum("o_totalprice").alias("s")
        )

    out: dict[str, float] = {}
    n_plain = n_sorted = None
    # Interleaved repeats (see _layout_comparison) — one contention
    # window can't own all of a variant's samples.
    samples: dict[str, list[float]] = {
        "range_scan_unsorted": [],
        "range_scan_sorted": [],
    }
    for _ in range(BENCH_RUNS):
        t0 = time.perf_counter()
        n_plain = probe(spark.read.parquet(unsorted_p)).collect()[0]["n"]
        samples["range_scan_unsorted"].append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        n_sorted = probe(spark.read.parquet(sorted_p)).collect()[0]["n"]
        samples["range_scan_sorted"].append(time.perf_counter() - t0)
    for label, s in samples.items():
        out[label] = round(_median(s), 3)
    assert n_plain == n_sorted, "layout changed the answer"

    # Skipping evidence from the parquet footers themselves: files
    # whose [min,max] o_orderdate overlaps the probed week. This is
    # the units-skipped truth the timing rides on.
    from datetime import datetime, timezone

    import pyarrow.parquet as pq

    def _dt(s: str):
        return datetime.strptime(s, "%Y-%m-%d")

    def _naive_utc(d):
        # stats may come back tz-aware (TIMESTAMP_MICROS adjusted to
        # UTC); normalize for comparison — session tz is UTC
        if getattr(d, "tzinfo", None) is not None:
            return d.astimezone(timezone.utc).replace(tzinfo=None)
        return d

    def matching_files(path: str) -> tuple[int, int]:
        lo = _dt("1998-03-01")
        hi = _dt("1998-03-08")
        total = match = 0
        for f in glob.glob(_os.path.join(path, "*.parquet")):
            md = pq.ParquetFile(f).metadata
            idx = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }["o_orderdate"]
            fmin = fmax = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    fmin = None
                    break
                smin, smax = _naive_utc(st.min), _naive_utc(st.max)
                fmin = smin if fmin is None else min(fmin, smin)
                fmax = smax if fmax is None else max(fmax, smax)
            total += 1
            if fmin is None or (fmin < hi and fmax >= lo):
                match += 1
        return match, total

    m_sorted, t_sorted = matching_files(sorted_p)
    m_unsorted, t_unsorted = matching_files(unsorted_p)
    assert m_sorted < m_unsorted, (
        f"sorted layout skipped nothing: {m_sorted}/{t_sorted} vs "
        f"unsorted {m_unsorted}/{t_unsorted}"
    )
    return out


def _bm25_scale_probe(spark, sf_dir: str, factor: int = 32) -> dict[str, float]:
    """The serving-index scale story, measured: documents replicated
    ×``factor`` (shifted ids — same vocabulary, same df shape per
    copy), then the SAME query set answered (a) ad-hoc from the corpus
    and (b) from the postings index built once at ingest. Ad-hoc pays
    a corpus re-scan per query and grows with the corpus; the probe
    reads only the query terms' partitions and stays ~flat — the
    at-100-TB difference, visible at fixture scale because ×32 puts
    the scan term well above the fixed floor. Result equality
    asserted (same replicated corpus on both paths)."""
    import tempfile

    from pyspark.sql import functions as F

    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_index_write,
        bm25_prf_expand,
        bm25_prf_expand_at_rest,
        bm25_topk,
        bm25_topk_at_rest,
    )
    from pyspark_airflow_weather_etl_spark.plans.retrievalplans import (
        BM25_QUERIES,
    )
    from pyspark_airflow_weather_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    shift = docs.agg(F.max("doc_id")).first()[0] + 1
    rep = spark.range(factor).select(F.col("id").alias("__rep"))
    big = (
        docs.crossJoin(F.broadcast(rep))
        .withColumn("doc_id", F.col("doc_id") + F.col("__rep") * shift)
        .drop("__rep")
    )
    tmp = tempfile.mkdtemp(prefix="bench_bm25_scale_")
    big.write.parquet(f"{tmp}/docs")  # both paths read the same files
    big_p = spark.read.parquet(f"{tmp}/docs")
    # ingest-time cost, setup; forward index included so the PRF twin
    # probes the same layout
    bm25_index_write(big_p, f"{tmp}/index", forward_index=True)

    out: dict[str, float] = {}
    answers: dict[str, list] = {}
    samples: dict[str, list[float]] = {
        f"bm25_adhoc_{factor}x": [],
        f"bm25_at_rest_{factor}x": [],
        f"bm25_prf_adhoc_{factor}x": [],
        f"bm25_prf_at_rest_{factor}x": [],
    }
    for _ in range(BENCH_RUNS):
        t0 = time.perf_counter()
        r = sorted(map(tuple, bm25_topk(big_p, BM25_QUERIES, k=10).collect()))
        samples[f"bm25_adhoc_{factor}x"].append(time.perf_counter() - t0)
        answers.setdefault("adhoc", r)
        release_cached()
        t0 = time.perf_counter()
        r = sorted(
            map(
                tuple,
                bm25_topk_at_rest(
                    spark, f"{tmp}/index", BM25_QUERIES, k=10
                ).collect(),
            )
        )
        samples[f"bm25_at_rest_{factor}x"].append(time.perf_counter() - t0)
        answers.setdefault("at_rest", r)
        # PRF: BOTH ranking passes re-scan the corpus ad-hoc vs both
        # probing the index + dpfx-pruned forward-index expansion —
        # the r10 perf-weak item, priced at scale
        t0 = time.perf_counter()
        r = sorted(
            map(
                tuple,
                bm25_prf_expand(
                    big_p, BM25_QUERIES, k_feedback=10, n_expansion=3, k=10
                ).collect(),
            )
        )
        samples[f"bm25_prf_adhoc_{factor}x"].append(time.perf_counter() - t0)
        answers.setdefault("prf_adhoc", r)
        release_cached()
        t0 = time.perf_counter()
        r = sorted(
            map(
                tuple,
                bm25_prf_expand_at_rest(
                    spark,
                    f"{tmp}/index",
                    BM25_QUERIES,
                    k_feedback=10,
                    n_expansion=3,
                    k=10,
                ).collect(),
            )
        )
        samples[f"bm25_prf_at_rest_{factor}x"].append(
            time.perf_counter() - t0
        )
        answers.setdefault("prf_at_rest", r)
    assert answers["adhoc"] == answers["at_rest"], "index diverged from ad-hoc"
    assert answers["prf_adhoc"] == answers["prf_at_rest"], (
        "PRF index path diverged from ad-hoc"
    )
    for label, s in samples.items():
        out[label] = round(_median(s), 3)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def _bm25_compaction_probe(spark, sf_dir: str) -> dict[str, float]:
    """The index-lifecycle economics, measured: the SAME corpus
    indexed as 16 crawl-batch deltas (the O(batch) append contract's
    accumulated state) vs compacted into one published version — the
    probe over the delta tree opens every batch's files per pfx
    partition and re-sums 16 stats deltas per term; the compacted
    probe reads one well-sized file set. Result equality asserted;
    compaction itself is untimed setup (it runs at maintenance
    cadence, off the serving path)."""
    import tempfile

    from pyspark.sql import functions as F

    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_index_append,
        bm25_index_compact,
        bm25_index_current,
        bm25_topk_at_rest,
    )
    from pyspark_airflow_weather_etl_spark.plans.retrievalplans import (
        BM25_QUERIES,
    )
    from pyspark_airflow_weather_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="bench_bm25_compact_")
    for b in range(16):
        bm25_index_append(
            docs.where(F.col("doc_id") % 16 == b), f"{tmp}/src", b
        )
    bm25_index_compact(spark, f"{tmp}/src", f"{tmp}/dst")
    live = bm25_index_current(spark, f"{tmp}/dst")
    samples = {"bm25_at_rest_16deltas": [], "bm25_at_rest_compacted": []}
    answers = {}
    for _ in range(BENCH_RUNS):
        for label, path in (
            ("bm25_at_rest_16deltas", f"{tmp}/src"),
            ("bm25_at_rest_compacted", live),
        ):
            t0 = time.perf_counter()
            r = sorted(
                map(
                    tuple,
                    bm25_topk_at_rest(
                        spark, path, BM25_QUERIES, k=10
                    ).collect(),
                )
            )
            samples[label].append(time.perf_counter() - t0)
            answers.setdefault(label, r)
    assert (
        answers["bm25_at_rest_16deltas"] == answers["bm25_at_rest_compacted"]
    ), "compaction changed probe results"
    out = {k: round(_median(v), 3) for k, v in samples.items()}
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def _phrase_compaction_probe(spark, sf_dir: str) -> dict[str, float]:
    """The POSITIONAL index's lifecycle economics, measured — the
    phrase twin of _bm25_compaction_probe: the same corpus indexed as
    16 positional crawl-batch deltas vs compacted into one published
    version. The delta-tree phrase probe opens every batch's files
    per token pfx partition (m posting-list self-joins multiply the
    file-open cost); the compacted probe reads one well-sized file
    set per pfx. Result equality asserted; compaction itself is
    untimed setup (maintenance cadence, off the serving path)."""
    import tempfile

    from pyspark.sql import functions as F

    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_index_current,
        phrase_match_at_rest,
        positional_index_append,
        positional_index_compact,
    )
    from pyspark_airflow_weather_etl_spark.plans.retrievalplans import (
        PHRASES,
    )
    from pyspark_airflow_weather_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="bench_phrase_compact_")
    # contiguous doc-id ranges per batch — the append-only crawl
    # shape: each append's manifest proves the batches pairwise
    # disjoint, so the probe skips the duplicate-posting distinct
    # (round-14 manifest fast path; overlapping trees keep it, priced
    # by the r13 tail)
    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    width = int(max_id) // 16 + 1
    for b in range(16):
        positional_index_append(
            docs.where(
                (F.col("doc_id") >= b * width)
                & (F.col("doc_id") < (b + 1) * width)
            ),
            f"{tmp}/src",
            b,
        )
    positional_index_compact(spark, f"{tmp}/src", f"{tmp}/dst")
    live = bm25_index_current(spark, f"{tmp}/dst")
    samples = {"phrase_at_rest_16deltas": [], "phrase_at_rest_compacted": []}
    answers = {}
    for _ in range(BENCH_RUNS):
        for label, path in (
            ("phrase_at_rest_16deltas", f"{tmp}/src"),
            ("phrase_at_rest_compacted", live),
        ):
            t0 = time.perf_counter()
            r = sorted(
                map(
                    tuple,
                    phrase_match_at_rest(spark, path, PHRASES).collect(),
                )
            )
            samples[label].append(time.perf_counter() - t0)
            answers.setdefault(label, r)
    assert (
        answers["phrase_at_rest_16deltas"]
        == answers["phrase_at_rest_compacted"]
    ), "positional compaction changed probe results"
    out = {k: round(_median(v), 3) for k, v in samples.items()}
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def _phrase_scale_probe(spark, sf_dir: str, factor: int = 32) -> dict[str, float]:
    """The positional index's scale story, measured — the phrase /
    proximity twin of _bm25_scale_probe: documents replicated
    ×``factor`` (shifted ids), then the SAME phrase and NEAR query
    sets answered (a) ad-hoc (a broadcast-HOF scan of the full
    corpus per query batch) and (b) from positional postings built
    once at ingest (pfx-pruned posting-list joins). Ad-hoc grows with
    the corpus; the probe reads only the query tokens' partitions and
    stays ~flat — the at-100-TB difference. Result equality
    asserted."""
    import tempfile

    from pyspark.sql import functions as F

    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        phrase_counts,
        phrase_match_at_rest,
        positional_index_write,
        proximity_counts,
        proximity_match_at_rest,
    )
    from pyspark_airflow_weather_etl_spark.plans.retrievalplans import (
        PHRASES,
        PROX_PAIRS,
    )
    from pyspark_airflow_weather_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    shift = docs.agg(F.max("doc_id")).first()[0] + 1
    rep = spark.range(factor).select(F.col("id").alias("__rep"))
    big = (
        docs.crossJoin(F.broadcast(rep))
        .withColumn("doc_id", F.col("doc_id") + F.col("__rep") * shift)
        .drop("__rep")
    )
    tmp = tempfile.mkdtemp(prefix="bench_phrase_scale_")
    big.write.parquet(f"{tmp}/docs")  # both paths read the same files
    big_p = spark.read.parquet(f"{tmp}/docs")
    positional_index_write(big_p, f"{tmp}/index")  # ingest-time setup

    out: dict[str, float] = {}
    answers: dict[str, list] = {}
    samples: dict[str, list[float]] = {
        f"phrase_adhoc_{factor}x": [],
        f"phrase_at_rest_{factor}x": [],
        f"prox_adhoc_{factor}x": [],
        f"prox_at_rest_{factor}x": [],
    }
    for _ in range(BENCH_RUNS):
        t0 = time.perf_counter()
        r = sorted(map(tuple, phrase_counts(big_p, PHRASES).collect()))
        samples[f"phrase_adhoc_{factor}x"].append(time.perf_counter() - t0)
        answers.setdefault("phrase_adhoc", r)
        release_cached()
        t0 = time.perf_counter()
        r = sorted(
            map(
                tuple,
                phrase_match_at_rest(spark, f"{tmp}/index", PHRASES).collect(),
            )
        )
        samples[f"phrase_at_rest_{factor}x"].append(time.perf_counter() - t0)
        answers.setdefault("phrase_at_rest", r)
        release_cached()
        t0 = time.perf_counter()
        r = sorted(
            map(tuple, proximity_counts(big_p, PROX_PAIRS, window=3).collect())
        )
        samples[f"prox_adhoc_{factor}x"].append(time.perf_counter() - t0)
        answers.setdefault("prox_adhoc", r)
        release_cached()
        t0 = time.perf_counter()
        r = sorted(
            map(
                tuple,
                proximity_match_at_rest(
                    spark, f"{tmp}/index", PROX_PAIRS, window=3
                ).collect(),
            )
        )
        samples[f"prox_at_rest_{factor}x"].append(time.perf_counter() - t0)
        answers.setdefault("prox_at_rest", r)
        release_cached()
    assert answers["phrase_adhoc"] == answers["phrase_at_rest"], (
        "positional index diverged from ad-hoc phrase"
    )
    assert answers["prox_adhoc"] == answers["prox_at_rest"], (
        "positional index diverged from ad-hoc proximity"
    )
    for label, s in samples.items():
        out[label] = round(_median(s), 3)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def _zorder_comparison(spark, sf_dir: str) -> dict[str, float]:
    """Two-dimensional skipping evidence: the ×4 lineitem written (a)
    linearly sorted by l_partkey and (b) Z-ordered on
    (l_partkey, l_suppkey). Probes: a 2-D box, and a narrow predicate
    on the NON-leading dimension (l_suppkey) — the query a linear sort
    cannot serve (every file spans the full suppkey range). Result
    equality asserted. HONEST SCALE NOTE: at fixture scale the timings
    measure alike (a full 2.4 M-row × 3-int-column scan on 32 cores is
    ~0.2 s, under the fixed per-query floor — verified at ×16 too), so
    the published evidence is the FOOTER COUNT keys: files whose
    min/max overlap the probed suppkey range, the unit the reader
    prunes on. At 100 TB that count is the scan."""
    import glob
    import os as _os
    import tempfile

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from pyspark_airflow_weather_etl_spark.operators.scale import (
        write_sorted,
        write_zorder,
    )

    _, li_big = _scaled_facts(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="bench_zorder_")
    lin_p, zor_p = f"{tmp}/li_linear", f"{tmp}/li_zorder"
    write_sorted(li_big, lin_p, ["l_partkey"], files_per_write=64)
    write_zorder(li_big, zor_p, "l_partkey", "l_suppkey", bits=16,
                 files_per_write=64)

    lo_p, hi_p, lo_s, hi_s = li_big.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey"),
    ).first()
    # ~2% slice of each dimension
    p0 = lo_p + (hi_p - lo_p) * 40 // 100
    p1 = lo_p + (hi_p - lo_p) * 42 // 100
    s0 = lo_s + (hi_s - lo_s) * 40 // 100
    s1 = lo_s + (hi_s - lo_s) * 42 // 100
    box = (
        (F.col("l_partkey") >= p0) & (F.col("l_partkey") < p1)
        & (F.col("l_suppkey") >= s0) & (F.col("l_suppkey") < s1)
    )
    bdim = (F.col("l_suppkey") >= s0) & (F.col("l_suppkey") < s1)

    def probe(path, pred):
        return (
            spark.read.parquet(path)
            .where(pred)
            .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q"))
            .collect()[0]
        )

    out: dict[str, float] = {}
    answers: dict[str, tuple] = {}
    samples: dict[str, list[float]] = {
        "box2d_scan_linear": [], "box2d_scan_zorder": [],
        "seconddim_scan_linear": [], "seconddim_scan_zorder": [],
    }
    plan = [
        ("box2d_scan_linear", lin_p, box),
        ("box2d_scan_zorder", zor_p, box),
        ("seconddim_scan_linear", lin_p, bdim),
        ("seconddim_scan_zorder", zor_p, bdim),
    ]
    for _ in range(BENCH_RUNS):
        for key, path, pred in plan:
            t0 = time.perf_counter()
            r = probe(path, pred)
            samples[key].append(time.perf_counter() - t0)
            answers.setdefault(key, (r["n"], r["q"]))
    assert answers["box2d_scan_linear"] == answers["box2d_scan_zorder"]
    assert (
        answers["seconddim_scan_linear"] == answers["seconddim_scan_zorder"]
    ), "layout changed the answer"
    for label, s in samples.items():
        out[label] = round(_median(s), 3)

    # footer truth: on the non-leading dimension the zorder layout's
    # files must actually exclude the probed range more often
    def matching_files(path: str) -> tuple[int, int]:
        total = match = 0
        for f in glob.glob(_os.path.join(path, "*.parquet")):
            md = pq.ParquetFile(f).metadata
            idx = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }["l_suppkey"]
            fmin = fmax = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    fmin = None
                    break
                fmin = st.min if fmin is None else min(fmin, st.min)
                fmax = st.max if fmax is None else max(fmax, st.max)
            total += 1
            if fmin is None or (fmin < s1 and fmax >= s0):
                match += 1
        return match, total

    m_zor, t_zor = matching_files(zor_p)
    m_lin, t_lin = matching_files(lin_p)
    assert m_zor < m_lin, (
        f"zorder skipped nothing on the 2nd dim: {m_zor}/{t_zor} vs "
        f"linear {m_lin}/{t_lin}"
    )
    out["seconddim_files_matched_linear"] = float(m_lin)
    out["seconddim_files_matched_zorder"] = float(m_zor)
    out["seconddim_files_total"] = float(t_lin)
    shutil.rmtree(tmp, ignore_errors=True)
    return out


def _skew_comparison(
    spark, sf_dir: str, factor: int = 1, suffix: str = ""
) -> dict[str, float]:
    """Hot-key join three ways at the same result hash: plain SMJ
    (one straggler task owns the hot key), AQE skew-join (runtime
    splits the oversized partition), and explicit salting
    (operators.scale.salted_join — deterministic pre-spread for skew
    AQE can't fix, e.g. when the hot partition's *build* lookups, not
    its size, dominate). Skew is synthesized deterministically: half
    of lineitem maps to one key, the rest spread over 999.

    ``factor`` > 1 replicates the skewed fact WITHOUT shifting its
    keys (the hot key must stay hot — contrast ``_scaled_facts``,
    where shifted keys preserve join fanout): at ×32 the hot key owns
    ~10M rows, so the plain variant's single hot task actually hits
    executor-memory pressure and the AQE/salted rewrites are measured
    doing the work they exist for — spill/skew evidence the raw
    17 MB fixture cannot produce. The replicated input is
    materialized to parquet ONCE as setup (untimed, like the layout
    probes' writes): timing the crossJoin build inside every sample
    would put the identical ~8 s of input construction in all three
    variants and dilute the join-strategy delta the probe exists to
    measure."""
    import tempfile

    from pyspark.sql import functions as F

    from pyspark_airflow_weather_etl_spark.functions.exact import dsum
    from pyspark_airflow_weather_etl_spark.operators.scale import salted_join
    from pyspark_airflow_weather_etl_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    skewed = li.select(
        F.when(F.col("l_orderkey") % 2 == 0, F.lit(0))
        .otherwise(F.pmod("l_orderkey", F.lit(1000)))
        .cast("long")
        .alias("k"),
        F.col("l_quantity").alias("v"),
    )
    tmp = None
    if factor > 1:
        rep = spark.range(factor).select(F.col("id").alias("__rep"))
        big = skewed.crossJoin(F.broadcast(rep)).drop("__rep")
        tmp = tempfile.mkdtemp(prefix=f"bench_skew{factor}_")
        big.repartition(64).write.parquet(f"{tmp}/skewed")
        skewed = spark.read.parquet(f"{tmp}/skewed")
    try:
        return _skew_variants_timed(spark, skewed, factor, suffix)
    finally:
        # The replicated input is hundreds of MB per run; orphaned
        # temp trees from repeated bench runs add up fast.
        if tmp is not None:
            shutil.rmtree(tmp, ignore_errors=True)


def _skew_variants_timed(
    spark, skewed, factor: int, suffix: str
) -> dict[str, float]:
    from pyspark.sql import functions as F

    from pyspark_airflow_weather_etl_spark.functions.exact import dsum
    from pyspark_airflow_weather_etl_spark.operators.scale import salted_join

    dim = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("w")
    )

    def agg(j):
        return j.groupBy("w").agg(
            F.count("*").alias("n"), dsum("v", "sv")
        )

    out: dict[str, float] = {}
    forced = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.shuffle.partitions": "64",
    }
    #: AQE thresholds aggressively lowered — the knob a real
    #: deployment would turn first. Measured finding (round 7, ×32):
    #: it barely helps (6.4 s vs default-AQE 6.8 s vs salted 3.3 s),
    #: and the executed plan confirms why — no ``skew=true`` appears
    #: even with a 1 MB threshold + forceOptimizeSkewedJoin, because
    #: AQE's skew detection is COMPRESSED-BYTE-based and this hot
    #: partition (one constant key, low-cardinality values) compresses
    #: to almost nothing while still costing ~10M rows of single-task
    #: sort/join CPU. That byte-light CPU-heavy class is exactly the
    #: skew ``salted_join``'s docstring claims AQE can't fix; this
    #: variant keeps the measured evidence in the bench record.
    aqe_tuned = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    variants = [
        ("plain", f"join_skew_plain{suffix}",
         {"spark.sql.adaptive.enabled": "false"},
         lambda: agg(skewed.join(dim, "k"))),
        ("aqe", f"join_skew_aqe{suffix}",
         {"spark.sql.adaptive.enabled": "true"},
         lambda: agg(skewed.join(dim, "k"))),
        ("salted", f"join_skew_salted{suffix}",
         {"spark.sql.adaptive.enabled": "false"},
         lambda: agg(salted_join(skewed, dim, ["k"]))),
    ]
    if factor > 1:
        variants.insert(
            2,
            ("aqe_tuned", f"join_skew_aqe_tuned{suffix}",
             {"spark.sql.adaptive.enabled": "true", **aqe_tuned},
             lambda: agg(skewed.join(dim, "k"))),
        )
    toggled = sorted({k for _, _, confs, _ in variants for k in confs})
    old = {k: spark.conf.get(k) for k in [*forced, *toggled]}
    for k, v in forced.items():
        spark.conf.set(k, v)
    results = {}
    try:
        # Interleaved repeats (see _layout_comparison); per-variant
        # confs are re-set per sample — cheap session-conf writes.
        samples: dict[str, list[float]] = {lbl: [] for _, lbl, _, _ in variants}
        for _ in range(BENCH_RUNS):
            for key, label, confs, build in variants:
                for k, v in confs.items():
                    spark.conf.set(k, v)
                t0 = time.perf_counter()
                results[key] = sorted(map(tuple, build().collect()))
                samples[label].append(time.perf_counter() - t0)
                for k in confs:
                    spark.conf.set(k, old[k])
        for _, label, _, _ in variants:
            out[label] = round(_median(samples[label]), 3)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    # same result hash on every path (decimal sums: exact)
    baseline_res = results["plain"]
    assert all(r == baseline_res for r in results.values()), (
        "skew rewrites changed the answer"
    )
    return out


def _streaming_state_pressure(spark, sf_dir: str) -> dict[str, float]:
    """Stateful-streaming edition of the memory-pressure evidence
    (the skew triad's ×32 sibling): the dedup+rollup pipeline over
    ×8 key-shifted events, so ``dropDuplicatesWithinWatermark``
    holds 8× the per-watermark key state and the windowed agg 8× the
    group state — the knob that turns a 17 MB streaming probe into
    one that actually exercises state-store growth. Setup (the
    replicated write) is untimed, like every layout probe; the timed
    run must produce EXACTLY the batch rollup of the same replicated
    table (every injected re-delivery dropped, nothing else), so the
    pressure run is correctness-asserted, not just timed. Single
    variant — nothing to interleave with; the median of
    ``BENCH_RUNS`` back-to-back samples is the published number."""
    import tempfile

    from pyspark.sql import functions as F

    from pyspark_airflow_weather_etl_spark.functions.exact import DEC
    from pyspark_airflow_weather_etl_spark.sources.tables import load_table
    from pyspark_airflow_weather_etl_spark.streaming.dedup import (
        run_streaming_dedup_rollup,
    )

    ev = load_table(spark, sf_dir, "events")
    shift = ev.agg(F.max("event_id")).first()[0] + 1
    rep = spark.range(8).select(F.col("id").alias("__rep"))
    big = (
        ev.crossJoin(F.broadcast(rep))
        .withColumn("event_id", F.col("event_id") + F.col("__rep") * shift)
        .drop("__rep")
    )
    tmp = tempfile.mkdtemp(prefix="bench_stream8_")
    try:
        big.repartition(16).write.parquet(f"{tmp}/events.parquet")

        batch = (
            load_table(spark, tmp, "events")
            .groupBy(
                F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                    "day"
                ),
                "event_type",
            )
            .agg(
                F.sum(F.col("value").cast(DEC))
                .cast("double")
                .alias("sum_value"),
                F.count("*").alias("n_events"),
            )
        )
        expect = sorted(map(tuple, batch.collect()))
        samples: list[float] = []
        for _ in range(BENCH_RUNS):
            t0 = time.perf_counter()
            got = run_streaming_dedup_rollup(spark, tmp)
            rows = sorted(map(tuple, got.collect()))
            samples.append(time.perf_counter() - t0)
            assert rows == expect, (
                "streaming dedup under 8x state pressure changed the answer"
            )
        return {"streaming_dedup_rollup_8x": round(_median(samples), 3)}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _incremental_dedup_probe(spark, sf_dir: str) -> dict[str, float]:
    """Per-batch incremental-dedup cost against an ×8-replicated
    at-rest index, flat layout vs bucketed layout (builds untimed —
    they are ingest-time cost, amortized over every future batch).
    The bucketed form's candidate join reads the index into the SMJ
    with no exchange/sort (plan-asserted in tests/test_dedup.py);
    the flat form re-shuffles the index every batch. Measured honest
    finding at this fixture scale: ~equal wall-clock (4.4 vs 4.3 s)
    — HERE index and batch are the same size and the ×64-dense
    verify join dominates, so the eliminated exchange is small. The
    layout pays off under the production asymmetry (corpus-sized
    index ≫ batch), where the flat form's per-batch index shuffle is
    the term that grows with corpus size and the bucketed form's
    doesn't — that asymmetry is exactly what a fixture cannot
    produce, which is why the exchange-count plan assertion, not
    this timing, is the scale evidence. Result equality asserted
    each run."""
    import tempfile

    from pyspark.sql import functions as F

    from pyspark_airflow_weather_etl_spark.operators.dedup import (
        portable_minhash_dedup_incremental,
        portable_minhash_dedup_incremental_bucketed,
        portable_minhash_index_write,
        portable_minhash_index_write_bucketed,
    )
    from pyspark_airflow_weather_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    shift = docs.agg(F.max("doc_id")).first()[0] + 1
    rep = spark.range(8).select(F.col("id").alias("__rep"))
    docs8 = (
        docs.crossJoin(F.broadcast(rep))
        .withColumn("doc_id", F.col("doc_id") + F.col("__rep") * shift)
        .drop("__rep")
    )
    old = docs8.where(F.col("doc_id") % 2 == 0)
    new = docs8.where(F.col("doc_id") % 2 == 1)
    tmp = tempfile.mkdtemp(prefix="bench_incdedup_")
    table = "mh_bench_idx"
    spark.sql(f"DROP TABLE IF EXISTS {table}_bands")
    try:
        portable_minhash_index_write(old, f"{tmp}/flat", "doc_id", "text")
        portable_minhash_index_write_bucketed(
            old, table, f"{tmp}/bkt", "doc_id", "text"
        )
        out: dict[str, float] = {}
        flat_samples: list[float] = []
        bkt_samples: list[float] = []
        base = None
        for _ in range(BENCH_RUNS):
            t0 = time.perf_counter()
            fa = sorted(
                map(
                    tuple,
                    portable_minhash_dedup_incremental(
                        new, f"{tmp}/flat", "doc_id", "text", threshold=0.5
                    ).collect(),
                )
            )
            flat_samples.append(time.perf_counter() - t0)
            release_cached()
            t0 = time.perf_counter()
            fb = sorted(
                map(
                    tuple,
                    portable_minhash_dedup_incremental_bucketed(
                        new, table, f"{tmp}/bkt", "doc_id", "text",
                        threshold=0.5,
                    ).collect(),
                )
            )
            bkt_samples.append(time.perf_counter() - t0)
            release_cached()
            assert fa == fb, "bucketed incremental diverged from flat"
            if base is None:
                base = fa
            assert fa == base, "incremental result unstable across runs"
        out["incremental_dedup_flat_8x"] = round(_median(flat_samples), 3)
        out["incremental_dedup_bucketed_8x"] = round(
            _median(bkt_samples), 3
        )
        return out
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}_bands")
        shutil.rmtree(tmp, ignore_errors=True)


def _rawstore_pressure(spark, sf_dir: str) -> dict[str, float]:
    """File-count economics of raw-store sealing
    (sources.rawstore): a streaming writer accretes one ``batch=``
    directory per trigger forever, and every downstream read pays
    listing + footer-parse + task-scheduling per file. Build TWO
    byte-identical 96-batch kb-bucketed stores of the sf events
    (~770 part-files each; setup untimed — it is the stream's ingest
    cost), seal ONE down to its compacted prefix, then time the same
    aggregate over ``read_raw_store`` on each, interleaved. The delta
    is pure layout — the seal pass neither drops nor duplicates a row
    (aggregate equality asserted every sample, and the sealing
    semantics are oracle-checked in the catalog). At a month of 30 s
    triggers (~86 k dirs) the unsealed term dominates scans; the
    probe shows the same effect at 96 batches."""
    import tempfile

    from pyspark.sql import functions as F

    from pyspark_airflow_weather_etl_spark.sources import rawstore
    from pyspark_airflow_weather_etl_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    n_batches = 96
    tmp = tempfile.mkdtemp(prefix="bench_rawstore_")
    try:
        staged = ev.withColumn(
            "batch", (F.col("event_id") % n_batches).cast("int")
        ).withColumn(
            "kb", F.pmod(F.hash("user_id"), F.lit(8)).cast("int")
        ).repartition("batch", "kb").persist()
        for store in ("plain", "sealed"):
            # one write per batch id — the streaming accretion
            # pattern (a single partitionBy write would produce one
            # commit, which is not how the files arrive); dynamic
            # overwrite is a writer option, so the session conf is
            # never touched
            for b in range(n_batches):
                (
                    staged.where(F.col("batch") == b)
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("kb", "batch")
                    .parquet(f"{tmp}/{store}")
                )
        staged.unpersist()
        t0 = time.perf_counter()
        st = rawstore.seal_batches(
            spark, f"{tmp}/sealed", keep_last=1
        )
        seal_secs = time.perf_counter() - t0
        assert st["sealed_now"] and st["live_files_after"] < 16, st

        def probe(store: str):
            row = (
                rawstore.read_raw_store(spark, f"{tmp}/{store}")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("event_id").alias("s"),
                )
                .first()
            )
            return (row.n, row.s)

        out: dict[str, float] = {}
        plain_s: list[float] = []
        sealed_s: list[float] = []
        base = None
        for _ in range(BENCH_RUNS):
            t0 = time.perf_counter()
            a = probe("plain")
            plain_s.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            b = probe("sealed")
            sealed_s.append(time.perf_counter() - t0)
            assert a == b, "sealing changed the store contents"
            if base is None:
                base = a
            assert a == base
        out["rawstore_read_unsealed_96b"] = round(_median(plain_s), 3)
        out["rawstore_read_sealed_96b"] = round(_median(sealed_s), 3)
        # one-time maintenance cost, amortized over every later read
        out["rawstore_seal_pass_96b"] = round(seal_secs, 3)
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _substring_pressure(spark, sf_dir: str) -> dict[str, float]:
    """×8-duplication pressure probe for the strided-window substring
    dedup (the passage-dedup probe's sibling): documents replicated
    with shifted ids and UNCHANGED content, so every full window of a
    replica duplicates its rep-0 original — the keep-first rank's
    fingerprint groups get 8× deeper and the dropped-position explode
    carries 7 replicas' worth of ranges. Replication makes the answer
    fully predictable, so the run is TOTALLY asserted, not sampled:
    (a) rep-0 rows must equal the base-scale result exactly (rep-0
    occurrences precede every replica in (doc, start) order); (b)
    every replica doc keeps exactly its uncovered tail — for n ≥ 32
    tokens the strided windows cover positions 1..(last_start+31),
    last_start = 1 + 16·⌊(n−32)/16⌋, so n_kept must equal
    n − last_start − 31 (docs with nothing uncovered vanish)."""
    import time

    from pyspark.sql import functions as F

    from pyspark_airflow_weather_etl_spark.operators.text import (
        dedup_substrings,
        token_count,
    )
    from pyspark_airflow_weather_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    shift = docs.agg(F.max("doc_id")).first()[0] + 1
    rep = spark.range(8).select(F.col("id").alias("__rep"))
    big = (
        docs.crossJoin(F.broadcast(rep))
        .withColumn("doc_id", F.col("doc_id") + F.col("__rep") * shift)
        .drop("__rep")
    )
    base = {
        r.doc_id: (r.n_kept_tokens, r.n_dropped_tokens)
        for r in dedup_substrings(docs).collect()
    }
    samples = []
    for _ in range(BENCH_RUNS):
        t0 = time.perf_counter()
        rows = dedup_substrings(big).collect()
        samples.append(time.perf_counter() - t0)
    got0 = {
        r.doc_id: (r.n_kept_tokens, r.n_dropped_tokens)
        for r in rows
        if r.doc_id < shift
    }
    assert got0 == base, "rep-0 diverged from base-scale result"
    # replica docs: exactly the uncovered tail survives
    n_tok = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", token_count("text").alias("n")
        ).collect()
    }
    kept_rep = {r.doc_id: r.n_kept_tokens for r in rows if r.doc_id >= shift}
    for doc_id, n in n_tok.items():
        for k in range(1, 8):
            rid = doc_id + k * shift
            if n < 32:
                expect = n  # no full window: replica passes through
            else:
                last_start = 1 + 16 * ((n - 32) // 16)
                expect = n - last_start - 31
            if expect == 0:
                assert rid not in kept_rep, rid
            else:
                assert kept_rep.get(rid) == expect, (rid, n, expect)
    return {"dedup_substrings_8x": round(_median(samples), 3)}


def _bpe_probe(spark, sf_dir: str) -> dict[str, float]:
    """BPE trainer/encoder timings (operators/bpe.py). Training is a
    driver-bounded iteration (k argmax rounds over the vocab-sized
    frame after the ONE corpus-sized word groupBy), so the plans-layer
    merge cache must be cleared per sample — otherwise every pass
    after the first times a dict lookup. Encode is timed with the
    just-trained rules (the production shape: train once, encode the
    corpus). Correctness-asserted: the rule sequence must be identical
    across passes (deterministic argmax tiebreak) and the encode must
    be a lossless round-trip in piece counts (Σ n_pieces ≥ Σ n_words,
    equality only if no merge ever fired)."""
    import time

    from pyspark.sql import functions as F

    from pyspark_airflow_weather_etl_spark.plans import bpeplans

    out: dict[str, float] = {}
    t_samples: list[float] = []
    e_samples: list[float] = []
    rules_seen: set[tuple] = set()
    for _ in range(BENCH_RUNS):
        bpeplans._MERGE_CACHE.clear()
        t0 = time.perf_counter()
        merges = bpeplans.bpe_merges_documents(spark, sf_dir).collect()
        t_samples.append(time.perf_counter() - t0)
        rules_seen.add(
            tuple((r.merge_rank, r.left, r.right, r.pair_freq) for r in merges)
        )
        t0 = time.perf_counter()
        enc = (
            bpeplans.bpe_encode_documents(spark, sf_dir)
            .agg(
                F.sum("n_words").alias("w"), F.sum("n_pieces").alias("p"),
                F.count(F.lit(1)).alias("n"),
            )
            .first()
        )
        e_samples.append(time.perf_counter() - t0)
        assert enc.n > 0 and enc.p >= enc.w > 0, enc
        release_cached()
    assert len(rules_seen) == 1, "BPE training nondeterministic across passes"
    out["bpe_train_24_merges"] = round(_median(t_samples), 3)
    out["bpe_encode_documents"] = round(_median(e_samples), 3)
    # batched-rounds variant: same 24 rules PROVEN identical per run
    # (the _safe_batch_prefix contract), fewer driver round-trips —
    # the mitigation for the 32k-merge production latency wall.
    from pyspark_airflow_weather_etl_spark.operators.bpe import bpe_train
    from pyspark_airflow_weather_etl_spark.sources.tables import load_table

    seq_rules = next(iter(rules_seen))
    b_samples: list[float] = []
    for _ in range(BENCH_RUNS):
        docs = load_table(spark, sf_dir, "documents")
        t0 = time.perf_counter()
        # recount pinned to the DISTRIBUTED trainer: since round 14
        # 'auto' routes driver-fitting vocabs to the driver-resident
        # loop, so this key prices the distributed batched path the
        # default no longer takes at this scale (beyond-driver vocabs
        # still do) against the driver default above.
        got = bpe_train(
            docs, num_merges=24, min_freq=2, batch_rounds=8,
            recount="full",
        )
        b_samples.append(time.perf_counter() - t0)
        assert (
            tuple((m.rank, m.left, m.right, m.freq) for m in got)
            == seq_rules
        ), "batched BPE diverged from sequential"
        release_cached()
    out["bpe_train_24_merges_batch8"] = round(_median(b_samples), 3)
    return out


def _shuffle_pressure(spark, sf_dir: str) -> dict[str, float]:
    """Wide-frame pressure probe for the single-exchange global rank:
    ``global_shuffle`` over ×32-replicated documents — FULL text rows,
    the frame class whose second ``hashpartitioning(__pid)`` exchange
    the ``monotonically_increasing_id`` decode eliminates (a
    window-by-pid formulation would shuffle all ~50 MB of text twice;
    operators/prefix.py). The run is correctness-asserted, not just
    timed: ``pos`` must be a TRUE permutation (countDistinct == count,
    bounds 1..n) and a position-weighted checksum must be identical
    across the repeated runs (the determinism the persisted ranged
    frame guarantees)."""
    import tempfile

    from pyspark.sql import functions as F

    from pyspark_airflow_weather_etl_spark.operators.curation import (
        global_shuffle,
    )
    from pyspark_airflow_weather_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    shift = docs.agg(F.max("doc_id")).first()[0] + 1
    rep = spark.range(32).select(F.col("id").alias("__rep"))
    tmp = tempfile.mkdtemp(prefix="bench_shuf32_")
    try:
        (
            docs.crossJoin(F.broadcast(rep))
            .withColumn("doc_id", F.col("doc_id") + F.col("__rep") * shift)
            .drop("__rep")
            .repartition(32)
            .write.parquet(f"{tmp}/documents.parquet")
        )
        docs32 = load_table(spark, tmp, "documents")
        n = docs32.count()
        samples: list[float] = []
        checksums: set[int] = set()
        for _ in range(BENCH_RUNS):
            t0 = time.perf_counter()
            res = (
                global_shuffle(docs32, "doc_id", seed=7)
                .agg(
                    F.count(F.lit(1)).alias("c"),
                    F.countDistinct("pos").alias("d"),
                    F.min("pos").alias("lo"),
                    F.max("pos").alias("hi"),
                    F.sum(F.col("pos") * F.col("doc_id")).alias("chk"),
                )
                .first()
            )
            samples.append(time.perf_counter() - t0)
            release_cached()
            assert res.c == n and res.d == n, "pos is not a permutation"
            assert res.lo == 1 and res.hi == n, "pos bounds off"
            checksums.add(res.chk)
        assert len(checksums) == 1, "shuffle nondeterministic across runs"
        return {"global_shuffle_32x": round(_median(samples), 3)}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _llm_dedup_pressure(spark, sf_dir: str) -> dict[str, float]:
    """Memory-pressure edition of the two blocked LLM-dedup pipelines
    (the skew triad's LSH sibling): MinHash-LSH near-dup over ×8
    documents and SRP-blocked embedding near-dup over ×8 embeddings,
    each replicated with shifted ids and UNCHANGED content. Identical
    content means every bucket gets 8× denser — exactly what a near-
    dup pass over a crawl full of mirrored pages sees, and the
    worst case for the candidate equi-join's shuffle and the persisted
    shingle/signature state the operators cache.

    Replication with unchanged content also makes the result fully
    predictable, so the pressure run is correctness-asserted, not just
    timed: signatures/buckets depend only on content, so (a) the
    pairs among rep-0 ids must equal the base-scale result exactly,
    and (b) for MinHash the total is exactly ``64·|base| + 28·n_nz``
    (64 cross-replica orientations per base pair; C(8,2) identical-
    replica pairs per doc with a nonempty shingle set). Setup writes
    are untimed, like every layout probe."""
    import tempfile

    from pyspark.sql import functions as F

    from pyspark_airflow_weather_etl_spark.operators.dedup import (
        add_hashed_shingles,
        minhash_near_duplicates,
    )
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        embedding_near_duplicates_blocked,
    )
    from pyspark_airflow_weather_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    d_shift = docs.agg(F.max("doc_id")).first()[0] + 1
    e_shift = emb.agg(F.max("vec_id")).first()[0] + 1
    rep = spark.range(8).select(F.col("id").alias("__rep"))
    tmp = tempfile.mkdtemp(prefix="bench_llm8_")
    try:
        (
            docs.crossJoin(F.broadcast(rep))
            .withColumn("doc_id", F.col("doc_id") + F.col("__rep") * d_shift)
            .drop("__rep")
            .repartition(32)
            .write.parquet(f"{tmp}/documents.parquet")
        )
        (
            emb.crossJoin(F.broadcast(rep))
            .withColumn("vec_id", F.col("vec_id") + F.col("__rep") * e_shift)
            .drop("__rep")
            .repartition(32)
            .write.parquet(f"{tmp}/embeddings.parquet")
        )
        docs8 = load_table(spark, tmp, "documents")
        emb8 = load_table(spark, tmp, "embeddings")

        def pairs(df, id_a="id_a", id_b="id_b"):
            return sorted(map(tuple, df.select(id_a, id_b).collect()))

        mh_base = pairs(
            minhash_near_duplicates(docs, "doc_id", "text", threshold=0.5)
        )
        release_cached()
        n_nz = (
            add_hashed_shingles(docs, "text", 3, out_col="sh")
            .where(F.array_size("sh") > 0)
            .count()
        )
        # The ×8 runs use a density-scaled SRP width (10 bits × 6
        # tables vs the catalog entry's 4 × 16): with every vector
        # 8-fold duplicated, fixture-width buckets go 8× denser and
        # candidate volume grows with the SQUARE of density —
        # measured 86 s vs 3.4 s at sf0.1 — so the width must scale
        # with duplication density, exactly the "more bits per
        # table, fewer tables" rule the operator docstring gives for
        # a 100 TB pass. The base answer for the equality assert is
        # computed at the SAME width (bucketing depends only on
        # content, so rep-0 equality holds per-parameterization).
        srp_w = {"bits_per_table": 10, "n_tables": 6}
        emb_base = pairs(
            embedding_near_duplicates_blocked(
                emb, threshold=0.4, dim=64, **srp_w
            )
        )
        release_cached()

        out: dict[str, float] = {}
        mh_samples: list[float] = []
        emb_samples: list[float] = []
        for _ in range(BENCH_RUNS):
            t0 = time.perf_counter()
            mh8 = pairs(
                minhash_near_duplicates(docs8, "doc_id", "text", threshold=0.5)
            )
            mh_samples.append(time.perf_counter() - t0)
            release_cached()
            rep0 = [
                p for p in mh8 if p[0] < d_shift and p[1] < d_shift
            ]
            assert rep0 == mh_base, "minhash 8x changed the base answer"
            assert len(mh8) == 64 * len(mh_base) + 28 * n_nz, (
                "minhash 8x pair count off the replication arithmetic"
            )

            t0 = time.perf_counter()
            eb8 = pairs(
                embedding_near_duplicates_blocked(
                    emb8, threshold=0.4, dim=64, **srp_w
                )
            )
            emb_samples.append(time.perf_counter() - t0)
            release_cached()
            rep0 = [
                p for p in eb8 if p[0] < e_shift and p[1] < e_shift
            ]
            assert rep0 == emb_base, "embedding 8x changed the base answer"
            assert len(eb8) >= 64 * len(emb_base), (
                "embedding 8x lost cross-replica pairs"
            )
        # Passage dedup at ×8 duplication density: every replica>0
        # document is passage-for-passage identical to its rep-0
        # original (shifted ids only), so keep-first MUST erase it
        # entirely — the result is exactly the base-corpus result.
        # Every fingerprint window group is 8× deeper; the assert is
        # total, not statistical.
        from pyspark_airflow_weather_etl_spark.operators.text import (
            dedup_passages,
        )

        pd_base = sorted(
            map(tuple, dedup_passages(docs, "doc_id", "text", 32).collect())
        )
        pd_samples: list[float] = []
        for _ in range(BENCH_RUNS):
            t0 = time.perf_counter()
            pd8 = sorted(
                map(
                    tuple,
                    dedup_passages(docs8, "doc_id", "text", 32).collect(),
                )
            )
            pd_samples.append(time.perf_counter() - t0)
            assert pd8 == pd_base, (
                "passage dedup at 8x density must erase every replica "
                "and leave the base answer untouched"
            )
        out["minhash_near_dup_pairs_8x"] = round(_median(mh_samples), 3)
        out["embedding_near_dup_blocked_8x"] = round(_median(emb_samples), 3)
        out["dedup_passages_8x"] = round(_median(pd_samples), 3)
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _cc_algorithm_probe(spark, sf_dir: str) -> dict[str, float]:
    """Star-contraction vs label-propagation connected components on
    the sf-scale near-dup pair graph (the dedup_clusters_jaccard
    input) — tracks the measured constant the diameter-robust default
    pays on SHALLOW graphs (label propagation's best case), so a
    drift in the trade-off shows up round-over-round instead of
    living in one round's VERDICT note. Equality-asserted per pass:
    both algorithms must return the identical labeling."""
    import time

    from pyspark_airflow_weather_etl_spark.operators.dedup import (
        jaccard_pairs,
    )
    from pyspark_airflow_weather_etl_spark.operators.graph import (
        connected_components,
    )
    from pyspark_airflow_weather_etl_spark.sources.tables import load_table

    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    pairs = jaccard_pairs(
        docs, "doc_id", "text", threshold=0.5, n=3
    ).localCheckpoint()  # graph build priced out: the probe times CC
    ckpt_root = tempfile.mkdtemp(prefix="bench_cc_ckpt_")
    out: dict[str, list[float]] = {"star": [], "label": [], "star_ckpt": []}
    labelings: set[tuple] = set()
    for i in range(BENCH_RUNS):
        for algo, kw in (
            ("star", {}),
            ("label", {}),
            # the reliable-checkpoint durability premium, priced
            # (VERDICT r13 #6): same algorithm, round state written to
            # a filesystem path instead of executor-pinned blocks —
            # what a multi-hour training on preemptible executors pays
            ("star_ckpt", {"checkpoint_dir": f"{ckpt_root}/run{i}"}),
        ):
            t0 = time.perf_counter()
            got = connected_components(
                pairs, max_iter=50, algorithm=algo.split("_")[0], **kw
            ).collect()
            out[algo].append(time.perf_counter() - t0)
            labelings.add(tuple(sorted((r.node, r.component) for r in got)))
        release_cached()
    assert len(labelings) == 1, "star/label/ckpt components diverged"
    pairs.unpersist(blocking=False)
    shutil.rmtree(ckpt_root, ignore_errors=True)
    return {
        "dedup_clusters_star": round(_median(out["star"]), 3),
        "dedup_clusters_label": round(_median(out["label"]), 3),
        "dedup_clusters_star_ckpt": round(_median(out["star_ckpt"]), 3),
    }


def _curate_pipeline_probe(spark, sf_dir: str) -> dict[str, float]:
    """The END-TO-END curate_corpus pipeline cost, measured honestly
    (round 16): the ``curate_corpus_documents`` HEADLINE key prices
    the at-rest contract — reading the already-written release — the
    same way index keys price probes against prebuilt trees. This
    probe prices the RELEASE BUILD itself (gate → dedup →
    decontaminate → prune → cap → budget → shard write, a fresh
    output dir per sample, median of 3) — the per-release cost a
    training-data team actually pays."""
    import tempfile

    from pyspark_airflow_weather_etl_spark.operators.curation import (
        curate_corpus,
    )
    from pyspark_airflow_weather_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    samples = []
    for i in range(BENCH_RUNS):
        release_cached()
        out = tempfile.mkdtemp(prefix=f"bench_curate_{i}_") + "/release"
        t0 = time.time()
        counts = curate_corpus(
            docs,
            out,
            benchmark_phrases=["key agg row", "batch window spark"],
            gopher_rules={"min_words": 20, "min_stopwords": 1},
            drop_worst_numer=1,
            drop_worst_denom=10,
            per_source_cap=10,
            budget_numer=3,
            budget_denom=10,
            shard_rows=64,
        )
        samples.append(time.time() - t0)
        assert counts["sharded"] > 0
        shutil.rmtree(os.path.dirname(out), ignore_errors=True)
    return {"curate_corpus_pipeline": round(_median(samples), 3)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark(app_name="bench")

    # Warm up the JVM codegen + Hadoop FS/parquet reader paths so the
    # first measured query doesn't pay one-time session init.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    # Build the at-rest LSH index before timing: signature-at-write is
    # ingest-time cost, amortized over every probe (same treatment as
    # the bucketed-table write in _layout_comparison).
    from pyspark_airflow_weather_etl_spark.plans.pqplans import (
        ivfpq_index_path,
        opq_ann_topk_at_rest as _opq_at_rest_prebuild,
    )
    from pyspark_airflow_weather_etl_spark.plans.simplans import (
        ivf_index_path,
        srp_index_path,
    )

    srp_index_path(spark, sf_dir)
    ivf_index_path(spark, sf_dir)
    ivfpq_index_path(spark, sf_dir)
    _opq_at_rest_prebuild(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    # Prebuild the incremental-lifecycle trees the same way (VERDICT
    # r14 #6): each entry caches its built index per sf_dir, so one
    # untimed call here pays the append-time cost (ingest-time at
    # scale) and every timed sample measures the steady-state probe —
    # BENCH_r14's ivf_ann_topk_incremental first sample carried the
    # 22 s build; the quiet steady probe is ~0.9 s.
    from pyspark_airflow_weather_etl_spark.plans.curationplans import (
        curate_corpus_documents,
    )
    from pyspark_airflow_weather_etl_spark.plans.pqplans import (
        ivfpq_ann_topk_incremental,
        opq_ann_topk_incremental,
    )
    from pyspark_airflow_weather_etl_spark.plans.streamplans import (
        streaming_ivfpq_index_topk,
    )
    from pyspark_airflow_weather_etl_spark.plans.simplans import (
        ivf_ann_topk_incremental,
        ivf_ann_topk_incremental_fixed,
        sq8_ann_topk_incremental,
        sq8_ann_topk_incremental_disjoint,
        srp_ann_topk_incremental,
        srp_ann_topk_incremental_fixed,
    )

    for _prebuild in (
        ivf_ann_topk_incremental,
        ivf_ann_topk_incremental_fixed,
        sq8_ann_topk_incremental,
        sq8_ann_topk_incremental_disjoint,
        srp_ann_topk_incremental,
        srp_ann_topk_incremental_fixed,
        ivfpq_ann_topk_incremental,
        opq_ann_topk_incremental,
        streaming_ivfpq_index_topk,
        curate_corpus_documents,
    ):
        _prebuild(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    # Warm the shingle-HOF codegen/JIT path on a 200-doc slice: the
    # generated shingle-eval methods take several seconds of C2
    # compilation on first use (measured 15 s cold vs 2 s steady for
    # ngram_jaccard_pairs); per-query numbers should reflect steady
    # state, not whichever dedup query happens to run first.
    from pyspark_airflow_weather_etl_spark.operators.dedup import jaccard_pairs
    from pyspark_airflow_weather_etl_spark.sources.tables import load_table

    jaccard_pairs(
        load_table(spark, sf_dir, "documents").limit(200), "doc_id", "text"
    ).write.format("noop").mode("overwrite").save()

    # Warm the Structured Streaming machinery: the session's FIRST
    # streaming query pays ~3-4 s of one-time init (micro-batch
    # planner, state store, checkpoint FS) that would otherwise land
    # on whichever streaming entry runs first — it made
    # streaming_daily_rollup drift 2.7→3.5 s between rounds on
    # unchanged code. Warm at the smallest fixture so the measured
    # number is steady-state streaming execution.
    from pyspark_airflow_weather_etl_spark.streaming.rollup import (
        run_streaming_daily_rollup,
    )

    warm_sf = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    run_streaming_daily_rollup(
        spark, warm_sf if os.path.isdir(warm_sf) else sf_dir
    )

    timings: dict[str, float] = {}
    import gc

    # Repeats are INTERLEAVED (whole-list passes, median per query
    # across passes), not back-to-back: this box shows multi-minute
    # contention windows, and back-to-back samples all land inside
    # the same window — r5 published join_bucketed at 10× on
    # byte-identical code that way. Spreading a query's samples
    # across the session also averages out position-dependent
    # pressure (late-list queries measured ~2× their fresh-session
    # cost in a back-to-back variant of this loop).
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _pass in range(BENCH_RUNS):
        for name in HEADLINE:
            fn = REGISTRY[name].fn
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples[name].append(time.perf_counter() - t0)
            # Release the finished query's operator-tracked persisted
            # blocks (blocking unpersist): without this, cached stages
            # from dedup/ANN queries accumulate in executor storage
            # for the rest of the run and pressure later queries into
            # spilling (pairwise_topk measured 2.9 s early-run vs
            # ~8 s late-run on identical code).
            del df
            release_cached()
            gc.collect()
    for name in HEADLINE:
        timings[name] = round(_median(samples[name]), 3)

    gc.collect()
    timings.update(_layout_comparison(spark, sf_dir))
    gc.collect()
    timings.update(_skew_comparison(spark, sf_dir))
    gc.collect()
    # Memory-pressure edition: same triad at ×32 the rows so the hot
    # key's single task actually pressures executor memory (the 100 TB
    # skew story needs spill-scale evidence, not 17 MB timings).
    timings.update(_skew_comparison(spark, sf_dir, factor=32, suffix="_32x"))
    gc.collect()
    timings.update(_streaming_state_pressure(spark, sf_dir))
    gc.collect()
    # LSH edition of the ×-scale pressure evidence: the two blocked
    # dedup pipelines on ×8-dense buckets, correctness-asserted
    # against the base-scale answer (VERDICT r7 item 5).
    timings.update(_llm_dedup_pressure(spark, sf_dir))
    gc.collect()
    # Wide-frame single-exchange evidence for the curation shuffle.
    timings.update(_shuffle_pressure(spark, sf_dir))
    gc.collect()
    # Flat vs bucketed at-rest index: the per-batch incremental cost.
    timings.update(_incremental_dedup_probe(spark, sf_dir))
    gc.collect()
    # BPE trainer/encoder (cache cleared per sample — bench honesty).
    timings.update(_bpe_probe(spark, sf_dir))
    gc.collect()
    # ×8-duplication substring-dedup probe, totally asserted.
    timings.update(_substring_pressure(spark, sf_dir))
    gc.collect()
    # Raw-store sealing: file-count economics, equality-asserted.
    timings.update(_rawstore_pressure(spark, sf_dir))
    gc.collect()
    # PQ compression evidence: exact scan vs two-stage IVF-PQ probe.
    timings.update(_pq_pressure(spark, sf_dir))
    gc.collect()
    timings.update(_layout_skipping(spark, sf_dir))
    gc.collect()
    timings.update(_zorder_comparison(spark, sf_dir))
    gc.collect()
    timings.update(_bm25_scale_probe(spark, sf_dir))
    timings.update(_bm25_compaction_probe(spark, sf_dir))
    timings.update(_phrase_compaction_probe(spark, sf_dir))
    gc.collect()
    timings.update(_phrase_scale_probe(spark, sf_dir))
    gc.collect()
    timings.update(_cc_algorithm_probe(spark, sf_dir))
    gc.collect()
    # End-to-end curation release build (fresh output dir per sample).
    timings.update(_curate_pipeline_probe(spark, sf_dir))

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
