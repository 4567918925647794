"""Product quantization (PQ) ANN: train → encode → ADC scan → IVF-PQ.

North-star extension beyond the reference's surface (the reference has
no vector search at all — SURVEY.md §2.9 similarity family): the
memory-scale path for embedding retrieval. A 64-dim float32 vector is
256 B at rest; its PQ code at m=8 sub-vectors × 1-byte codes is 8 B —
a 32× compression that is what makes billion-vector (100 TB corpus)
scans feasible at all. The design follows the public FAISS/Jégou
IVFADC recipe (Jégou, Douze, Schmid, "Product Quantization for
Nearest Neighbor Search", TPAMI 2011):

- **Train** (:func:`pq_train_codebooks`): per-sub-vector k-means on a
  deterministic driver-side sample — the same bounded-sample recipe as
  :func:`..operators.similarity.ivf_train_centroids` (the sample is
  ``limit(sample_rows)``-bounded by design; training is O(sample), not
  O(corpus), and the distributed part is the encode below).
- **Encode** (:func:`pq_encode`): one Arrow-batched numpy matmul per
  sub-vector per batch — the documented exception to the built-ins-
  first rule (dense matmul is what Catalyst expression eval is worst
  at, same shape as ``srp_signature``). Runs ONCE at index-build time,
  never per query.
- **Scan** (:func:`pq_topk_adc`): asymmetric distance computation —
  the query builds an (m × n_codes) lookup table of exact sub-vector
  squared distances driver-side (O(n_codes·dim) — microseconds), and
  every row's approximate distance is m integer array lookups summed
  in a PURE-JVM codegen expression over the 8-byte codes. No Python,
  no vector column read, in the per-query hot path.
- **IVF-PQ at rest** (:func:`ivfpq_index_write` /
  :func:`ivfpq_topk_at_rest`): codes laid out under the coarse
  quantizer's ``ivf_cell=<n>`` partitions; a probe reads nprobe of
  n_cells partitions via partition pruning, ADC-ranks the codes
  JVM-side, and exact-re-ranks only the top ``rerank`` survivors on
  their stored raw vectors — the standard two-stage IVFADC search.

Approximation contract: ADC ranks by quantized distance, so the
catalog entries are rows-only (like the SRP/IVF family) with recall
bounds pinned in tests/test_pq.py. The hash-exact cross-engine proof
of the encode→LUT→ADC pipeline is the fixed-codebook twin
(:func:`pq_encode_fixed` / :func:`pq_adc_topk_fixed`): codebooks taken
from the corpus itself, floor-quantized integer arithmetic end to end,
replayed bit-for-bit by a DuckDB oracle — the same role
``semantic_dedup_fixed_cells`` plays for the k-means dedup family.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .lifecycle import (
    _write_batch_keyed,
    append_batch,
    as_stored,
    compact_rows,
    drift_log,
    drift_ratio,
    drift_row,
    fold_latest,
    frozen_meta,
    id_range,
    path_exists,
    refit,
    rows_disjoint,
    rows_manifest,
    write_literal,
)
from .similarity import (
    _ivf_centroids,
    _probe_cells,
    ivf_assign,
    ivf_train_centroids,
)

SEED = 42


def pq_train_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    sample_rows: int = 512,
    iters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train PQ codebooks: independent k-means (Lloyd, fixed seed) per
    sub-vector on a deterministic sample. Returns (m, n_codes, dim/m).

    Driver-side on a bounded sample by design (the FAISS recipe — a
    quantizer trained on ~10⁵ rows generalizes; the corpus-sized work
    is the encode). Empty clusters keep their previous centroid, so
    the codebook shape is always (m, n_codes, dsub) and encode's
    argmin is total."""
    sample = np.asarray(
        [
            [float(x) for x in r[0]]
            for r in embeddings.select(vec_col)
            .orderBy(id_col)
            .limit(sample_rows)
            .collect()
        ],
        dtype=np.float64,
    )
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(SEED)
    books = np.empty((m, n_codes, dsub), dtype=np.float64)
    for j in range(m):
        sub = sample[:, j * dsub : (j + 1) * dsub]
        cents = sub[rng.choice(len(sub), n_codes, replace=False)].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(n_codes):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books[j] = cents
    return books


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
    err_col: str | None = None,
) -> DataFrame:
    """Encode vectors to their PQ codes: ``out_col`` is an
    ``array<int>`` of length m (code j = nearest codebook-j centroid
    of sub-vector j; exact ties break to the lowest code, matching
    numpy argmin). One Arrow batch does all m sub-vector argmins as m
    small matmuls — this is the index-build step, run once per corpus,
    and the only Python in the PQ family.

    ``err_col`` (optional) additionally emits the row's total squared
    quantization residual ``Σ_j |sub_j − books[j][code_j]|²`` — free
    in the same pass (it is the argmin's own minimum statistic plus
    ``|sub|²``), and the drift signal the frozen-codebook lifecycle
    monitors (:func:`ivfpq_drift_report`): a shifted corpus encodes
    to ever-farther codes, degrading ADC recall while the exact
    re-rank keeps answers correct."""
    books = np.asarray(codebooks, dtype=np.float64)
    m, n_codes, dsub = books.shape
    b_sq = (books**2).sum(axis=2)  # (m, n_codes)
    from pyspark.sql.functions import pandas_udf

    def _compute(v: pd.Series, with_err: bool):
        mask = v.notna().to_numpy()
        codes_out = [None] * len(v)
        err_out = [None] * len(v)
        if mask.any():
            x = np.vstack(v[mask].to_numpy()).astype(np.float64)
            codes = np.empty((x.shape[0], m), dtype=np.int64)
            err = np.zeros(x.shape[0])
            for j in range(m):
                sub = x[:, j * dsub : (j + 1) * dsub]
                # same decision statistic as ivf_assign: −2·x@cᵀ+|c|²
                stat = -2.0 * (sub @ books[j].T) + b_sq[j][None, :]
                codes[:, j] = stat.argmin(axis=1)
                if with_err:
                    err += stat.min(axis=1) + (sub**2).sum(axis=1)
            for row, i in enumerate(np.flatnonzero(mask)):
                codes_out[i] = [int(z) for z in codes[row]]
                if with_err:
                    # clamp: −2x·cᵀ+|c|²+|x|² is |x−c|² in exact math
                    # but can round a hair below zero in floats
                    err_out[i] = float(max(err[row], 0.0))
        return codes_out, err_out

    if err_col is None:

        @pandas_udf("array<int>")
        def _codes(v: pd.Series) -> pd.Series:
            codes_out, _ = _compute(v, False)
            return pd.Series(codes_out, dtype=object)

        return df.withColumn(out_col, _codes(F.col(vec_col)))

    @pandas_udf("struct<code: array<int>, err: double>")
    def _codes_err(v: pd.Series) -> pd.DataFrame:
        codes_out, err_out = _compute(v, True)
        return pd.DataFrame({"code": codes_out, "err": err_out})

    enc = df.withColumn("__enc", _codes_err(F.col(vec_col)))
    return (
        enc.withColumn(out_col, F.col("__enc.code"))
        .withColumn(err_col, F.col("__enc.err"))
        .drop("__enc")
    )


def adc_lut(query_vec: list[float], codebooks: np.ndarray) -> np.ndarray:
    """The ADC lookup table: (m × n_codes) exact squared distances
    from each query sub-vector to each code. O(n_codes·dim) — built
    per query on the driver, enters the plan as a literal (~m·n_codes
    doubles, broadcast-trivial)."""
    books = np.asarray(codebooks, dtype=np.float64)
    m, n_codes, dsub = books.shape
    q = np.asarray(query_vec, dtype=np.float64)
    if q.shape[0] != m * dsub:
        raise ValueError(f"query dim {q.shape[0]} != {m * dsub}")
    lut = np.empty((m, n_codes), dtype=np.float64)
    for j in range(m):
        lut[j] = ((books[j] - q[j * dsub : (j + 1) * dsub][None, :]) ** 2).sum(
            axis=1
        )
    return lut


def _adc_score(lut: np.ndarray, code_col: str) -> F.Column:
    """Σ_j lut[j][code_j] as a pure-JVM codegen expression: m literal
    array lookups and a sum — the per-row ADC cost is independent of
    the vector dimension, which is the entire point of PQ.

    The explicit isNotNull guard is load-bearing, not defensive
    paranoia: measured on this Spark build (ANSI codegen),
    ``element_at(lit_array, element_at(null_code, j) + 1)`` returns a
    garbage element instead of NULL — the inner null index fails to
    propagate through the arithmetic into the outer lookup. A null
    code row would otherwise score a plausible-looking finite distance
    and could silently claim a top-k slot (regression:
    tests/test_pq.py::test_null_embedding_sinks_not_ranks_first)."""
    m = lut.shape[0]
    terms = [
        F.element_at(
            F.array(*[F.lit(float(x)) for x in lut[j]]),
            F.element_at(F.col(code_col), j + 1) + F.lit(1),
        )
        for j in range(m)
    ]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return F.when(F.col(code_col).isNotNull(), total)


def pq_topk_adc(
    embeddings: DataFrame,
    query_vec: list[float],
    codebooks: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate L2 top-k by ADC over freshly-encoded vectors:
    (id, adc_d2) for the k smallest quantized distances, ties to the
    lowest id. The at-rest form (:func:`ivfpq_topk_at_rest`) skips the
    encode — this full-scan form exists as the layout-free baseline,
    exactly as ``srp_ann_topk`` does for the SRP index."""
    lut = adc_lut(query_vec, codebooks)
    coded = pq_encode(embeddings, codebooks, vec_col)
    scored = coded.select(
        F.col(id_col), F.round(_adc_score(lut, "pq_code"), 6).alias("adc_d2")
    )
    # asc_nulls_last: a null embedding encodes to a null score and must
    # sink, not float to rank 1 (Spark's asc default is NULLS FIRST)
    return scored.orderBy(
        F.col("adc_d2").asc_nulls_last(), F.col(id_col)
    ).limit(k)


def ivfpq_index_write(
    embeddings: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation: np.ndarray | None = None,
) -> None:
    """Persist the IVF-PQ layout: rows partitioned by coarse cell
    (``ivf_cell=<n>`` directories), carrying (id, pq_code, vector).
    Cell assignment and PQ encode both happen ONCE here; probes then
    read nprobe partitions of codes and touch raw vectors only for the
    re-rank survivors. Keeping the raw vector beside the code costs
    storage but buys exact re-ranking without a second table — at
    scale, parquet column pruning means ADC scans never read it.

    Pass ``rotation`` (an :func:`opq_train` R, trained together with
    ``codebooks``) for the OPQ layout: codes quantize the ROTATED
    vectors while the stored raw vector — and therefore the re-rank —
    stays in the original space (R is orthogonal, so L2 is identical
    in both). The coarse quantizer also stays in the original space:
    cell geometry and rotation are independent concerns."""
    assigned = ivf_assign(embeddings, centroids, vec_col)
    coded = (
        pq_encode(assigned, codebooks, vec_col)
        if rotation is None
        else opq_encode(assigned, rotation, codebooks, vec_col)
    )
    _write_batch_keyed(
        coded.select(id_col, "pq_code", vec_col, "ivf_cell"),
        path,
        ("ivf_cell",),
    )


def ivfpq_topk_at_rest(
    spark,
    index_path: str,
    query_vec: list[float],
    centroids: np.ndarray,
    codebooks: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rotation: np.ndarray | None = None,
) -> DataFrame:
    """Two-stage IVFADC search against a persisted
    :func:`ivfpq_index_write` layout (pass the index's ``rotation``
    for an OPQ layout — the LUT is then built from the ROTATED query,
    while coarse-cell ranking and the exact re-rank stay in the
    original space, where L2 is identical under the orthogonal R):

    1. rank the query's ``nprobe`` nearest coarse cells driver-side
       (O(n_cells)); scan ONLY those partitions (partition pruning —
       the plan's PartitionFilters prove it, tests/test_pq.py checks);
    2. ADC-rank the probed codes JVM-side (column pruning: this stage
       reads id + pq_code, never the vector column) and keep the top
       ``rerank`` by quantized distance — a per-partition k-heap
       (TakeOrderedAndProject), O(rerank) memory;
    3. exact-re-rank the survivors on their stored raw vectors and
       return the true-L2 top k (ties to the lowest id).

    Returns (id, l2_d2) — exact distances for the returned rows, so
    downstream thresholds mean what they say even though the candidate
    set is approximate."""
    probes = _probe_cells(centroids, query_vec, nprobe)
    lut_q = (
        query_vec
        if rotation is None
        else [
            float(x)
            for x in np.asarray(query_vec, dtype=np.float64)
            @ np.asarray(rotation, dtype=np.float64)
        ]
    )
    lut = adc_lut(lut_q, codebooks)
    idx = spark.read.parquet(index_path).where(
        F.col("ivf_cell").isin(probes)
    )
    cand = (
        idx.select(F.col(id_col), _adc_score(lut, "pq_code").alias("adc_d2"))
        .orderBy(F.col("adc_d2").asc_nulls_last(), F.col(id_col))
        .limit(rerank)
    )
    # the survivor set is rerank rows by construction — broadcast it
    # so the re-rank join never shuffles the probed partitions
    return _exact_l2_topk(
        idx.join(F.broadcast(cand.select(id_col)), id_col),
        query_vec,
        k,
        id_col,
        vec_col,
    )


def _exact_l2_topk(
    vecs: DataFrame, query_vec: list[float], k: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, l2_d2) of the ``k`` re-rank survivors nearest the query by
    exact squared L2, ties to the lowest id."""
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    exact = vecs.select(
        F.col(id_col),
        F.round(
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    qlit,
                    lambda x, y: (x.cast("double") - y)
                    * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("l2_d2"),
    )
    return exact.orderBy(
        F.col("l2_d2").asc_nulls_last(), F.col(id_col)
    ).limit(k)


# --- portable fixed-codebook twins (hash-exact oracle path) ----------------
#
# Codebooks are corpus rows id < n_codes, floor-quantized to integers;
# assignment and ADC run on exact integer arithmetic with ties to the
# lowest code — every step replays bit-for-bit in DuckDB SQL, giving
# the encode→LUT→ADC pipeline the cross-engine proof the trained
# entries (rows-only by necessity) cannot give. Same pattern as
# similarity.semantic_dedup_fixed_cells / dedup.minhash_lsh_portable.


def _fixed_qv(vec_col: str, scale: int) -> F.Column:
    """Floor-quantized integer vector ``floor(x·scale)`` — floor, not
    round: round-half semantics differ across engines."""
    return F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast(
            "long"
        ),
    )


def _sub_explode(
    df: DataFrame, vec: F.Column, m: int, dsub: int, id_col: str
) -> DataFrame:
    """Explode an integer vector column into (id, sub_j, s) — one row
    per (row, sub-vector), the narrow frame every fixed-twin step
    joins on."""
    subs = F.array(
        *[
            F.struct(
                F.lit(j).alias("sub_j"),
                F.slice(vec, j * dsub + 1, dsub).alias("s"),
            )
            for j in range(m)
        ]
    )
    return df.select(F.col(id_col), F.explode(subs).alias("e")).select(
        id_col, F.col("e.sub_j").alias("sub_j"), F.col("e.s").alias("s")
    )


def _fixed_subvectors(
    df: DataFrame,
    m: int,
    dsub: int,
    scale: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, sub_j, s): floor-quantized integer sub-vectors."""
    return _sub_explode(df, _fixed_qv(vec_col, scale), m, dsub, id_col)


def _opq_fixed_rotation(dim: int) -> list[list[int]]:
    """The OPQ twin's deterministic integer rotation:
    ``W[i][j] = ((i*37 + j*23 + i*j*29) % 101) - 50``. NOT the
    :func:`..operators.pca.fixed_rotation` formula — that matrix is
    circulant in (i + j) mod 7 (rank ≤ 7, rows periodic with period
    7), which collapses the rotated space so badly that most rows
    encode to a handful of code tuples and the ADC top-k degenerates
    into one giant tie (measured round 16: top-10 all equal) — a tie
    pins tie-breaking, not ADC ranking. The ``i*j`` cross term breaks
    the additive structure (measured rank: full 64; 499/500 distinct
    code tuples and a fully distinct top-10 at every test SF), so the
    oracle actually exercises the rotate→encode→LUT→ADC ordering."""
    return [
        [((i * 37 + j * 23 + i * j * 29) % 101) - 50 for j in range(dim)]
        for i in range(dim)
    ]


def _rotated_fixed_subvectors(
    df: DataFrame,
    m: int,
    dsub: int,
    scale: int,
    dim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, sub_j, s): INTEGER-ROTATED floor-quantized sub-vectors —
    the OPQ fixed twin's replacement for the learned float rotation.
    ``rv = W·xq`` with the :func:`_opq_fixed_rotation` matrix —
    dim×dim small ints an external engine regenerates from the
    formula alone; integer sums are orderless, so the rotated
    coordinates are identical on any engine where a learned float R
    (BLAS order) is not.

    The rotation is ONE Arrow-batched int64 numpy matmul per batch —
    the :func:`..operators.similarity.srp_signature_fixed` discipline
    (integer sums are orderless, so the matmul is exactly replayable;
    a dense dim×dim rotation is precisely what Catalyst expression
    eval is worst at — the in-plan literal-tree form measured 18-36 s
    of codegen on a 4096-literal expression, the matmul milliseconds).
    W regenerates inside the UDF from the formula — nothing captured
    by closure. Overflow: |rv| ≤ dim·50·scale·max|x| (≈1.2·10⁶ for
    unit-normalized 64-d at scale 1000), far inside int64."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def _rot(v: pd.Series) -> pd.Series:
        W = np.asarray(_opq_fixed_rotation(dim), dtype=np.int64)
        mask = v.notna().to_numpy()
        out = [None] * len(v)
        if mask.any():
            x = np.vstack(v[mask].to_numpy()).astype(np.float64)
            qv = np.floor(x * float(scale)).astype(np.int64)
            rv = qv @ W.T
            for row, i in enumerate(np.flatnonzero(mask)):
                out[i] = [int(z) for z in rv[row]]
        return pd.Series(out, dtype=object)

    q = df.select(F.col(id_col), _rot(F.col(vec_col)).alias("__rv"))
    return _sub_explode(q, F.col("__rv"), m, dsub, id_col)


_INT_D2 = lambda a, b: F.aggregate(  # noqa: E731 — shared integer Σ(a−b)²
    F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
    F.lit(0).cast("long"),
    lambda acc, x: acc + x,
)


def _fixed_codebook(sub: DataFrame, n_codes: int, id_col: str) -> DataFrame:
    """The fixed codebook frame (code, sub_j, cs): sub-vectors of the
    ``n_codes`` lowest-id corpus rows — m·n_codes rows, broadcast."""
    return sub.where(F.col(id_col) < n_codes).select(
        F.col(id_col).alias("code"), F.col("sub_j"), F.col("s").alias("cs")
    )


def _encode_from_sub(
    sub: DataFrame, n_codes: int, id_col: str
) -> DataFrame:
    """Codes from any (id, sub_j, s) sub-vector frame: integer squared
    distance argmin against the fixed codebook, ties to the lowest
    code. Returns (id, sub_j, code), all BIGINT.

    Scale shape: the codebook is m·n_codes rows (broadcast);
    assignment is a broadcast join on sub_j (n·m·n_codes candidate
    rows — linear in the corpus for fixed m, n_codes) with a
    per-(id, sub_j) window over n_codes rows."""
    cb = _fixed_codebook(sub, n_codes, id_col)
    w = Window.partitionBy(id_col, "sub_j").orderBy("d2", "code")
    return (
        sub.join(F.broadcast(cb), "sub_j")
        .withColumn("d2", _INT_D2(F.col("s"), F.col("cs")))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col(id_col),
            F.col("sub_j").cast("long").alias("sub_j"),
            F.col("code").cast("long").alias("code"),
        )
    )


def _adc_scored_from_sub(
    sub: DataFrame, query_id: int, n_codes: int, id_col: str
) -> DataFrame:
    """(id, adc_d2) for every row of a (id, sub_j, s) frame: the LUT
    is the query row's sub-vectors joined to the fixed codebook
    (m·n_codes rows — broadcast); each row's ADC distance is the SUM
    of its m looked-up entries (an equi-join on (sub_j, code) +
    groupBy, replacing the trained path's literal-array lookup with
    the same associative integer sum)."""
    cb = _fixed_codebook(sub, n_codes, id_col)
    qsub = sub.where(F.col(id_col) == query_id).select(
        F.col("sub_j"), F.col("s").alias("qs")
    )
    lut = cb.join(qsub, "sub_j").select(
        "sub_j", "code", _INT_D2(F.col("qs"), F.col("cs")).alias("lut_d2")
    )
    codes = _encode_from_sub(sub, n_codes, id_col)
    return (
        codes.join(F.broadcast(lut), ["sub_j", "code"])
        .groupBy(id_col)
        .agg(F.sum("lut_d2").alias("adc_d2"))
    )


def pq_encode_fixed(
    embeddings: DataFrame,
    m: int = 4,
    n_codes: int = 8,
    scale: int = 1000,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Portable PQ encode: codebook j's code c is the floor-quantized
    j-th sub-vector of corpus row id == c (no training — at scale this
    would be any agreed codebook table); assignment is the integer
    squared distance argmin with ties to the lowest code. Returns the
    exploded (id, sub_j, code) frame — one row per sub-vector, all
    BIGINT, hash-exact across engines."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    sub = _fixed_subvectors(embeddings, m, dsub, scale, id_col, vec_col)
    return _encode_from_sub(sub, n_codes, id_col)


def pq_adc_topk_fixed(
    embeddings: DataFrame,
    query_id: int = 0,
    m: int = 4,
    n_codes: int = 8,
    scale: int = 1000,
    dim: int = 64,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Portable ADC top-k: the full encode→LUT→scan pipeline on exact
    integer arithmetic; top-k orders by (adc_d2, id). Returns
    (id, adc_d2), both BIGINT — bit-for-bit replayable by the DuckDB
    oracle."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    sub = _fixed_subvectors(embeddings, m, dsub, scale, id_col, vec_col)
    scored = _adc_scored_from_sub(sub, query_id, n_codes, id_col)
    return scored.orderBy(F.col("adc_d2").asc(), F.col(id_col)).limit(k)


def opq_adc_topk_fixed(
    embeddings: DataFrame,
    query_id: int = 33,
    m: int = 8,
    n_codes: int = 8,
    scale: int = 1000,
    dim: int = 64,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Portable-oracle twin of :func:`opq_topk_adc` — the hash-exact
    cross-engine proof of the OPQ mechanics (rotate → encode → LUT →
    ADC) that the trained entry (learned float rotation + k-means
    codebooks, rows-only by necessity) cannot give; the round-16
    fixed-twin discipline (VERDICT r15 #1). The learned orthogonal R
    is replaced by the deterministic INTEGER
    :func:`..operators.pca.fixed_rotation` matrix applied to
    floor-quantized vectors (:func:`_rotated_fixed_subvectors`) —
    query and corpus rotate under the SAME matrix, exactly as OPQ
    rotates both sides, and then the pipeline IS
    :func:`pq_adc_topk_fixed` over the rotated coordinates (the same
    code path, byte for byte — mirroring how :func:`opq_topk_adc` is
    :func:`pq_topk_adc` over rotated vectors). Returns (id, adc_d2),
    both BIGINT."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    sub = _rotated_fixed_subvectors(
        embeddings, m, dsub, scale, dim, id_col, vec_col
    )
    scored = _adc_scored_from_sub(sub, query_id, n_codes, id_col)
    return scored.orderBy(F.col("adc_d2").asc(), F.col(id_col)).limit(k)


def ivfpq_topk_fixed(
    embeddings: DataFrame,
    query_id: int = 0,
    m: int = 4,
    n_codes: int = 8,
    n_cells: int = 8,
    nprobe: int = 2,
    rerank: int = 16,
    scale: int = 1000,
    dim: int = 64,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Portable-oracle twin of the TWO-STAGE IVFADC search
    (:func:`ivfpq_topk_at_rest`) — coarse cell probe → ADC rank →
    exact re-rank, every stage in exact integer arithmetic so the
    DuckDB oracle replays the full pipeline bit-for-bit (VERDICT r15
    #1; the trained entry is rows-only because both quantizers are
    float-order-dependent):

    1. coarse quantizer — centroids are the floor-quantized
       ``n_cells`` lowest-id corpus rows; rows assign by integer d2
       argmin, ties to the lowest centroid id (the
       ``ivf_index_append_fixed`` discipline); the query's ``nprobe``
       nearest cells are the same argsort on (d2, cell);
    2. ADC — candidates (probed cells only) rank by the fixed-codebook
       integer ADC sum; the top ``rerank`` survive, ties to the
       lowest id (a deterministic cut both engines replay);
    3. exact re-rank — survivors re-score by FULL-dimension integer
       squared distance on the quantized vectors; top k by
       (qd2, id).

    Returns (id, qd2), both BIGINT. The re-rank being exact-integer
    (not float cosine) keeps stage 3 inside the same portable algebra
    as stages 1-2 — one oracle covers the whole search."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    q = embeddings.select(
        F.col(id_col), _fixed_qv(vec_col, scale).alias("qv")
    )
    cents = q.where(F.col(id_col) < n_cells).select(
        F.col(id_col).alias("cell"), F.col("qv").alias("cq")
    )
    w_cell = Window.partitionBy(id_col).orderBy("d2", "cell")
    assigned = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("d2", _INT_D2(F.col("qv"), F.col("cq")))
        .withColumn("rn", F.row_number().over(w_cell))
        .where(F.col("rn") == 1)
        .select(id_col, "qv", "cell")
    )
    # the query's nprobe nearest cells — the same integer argmin,
    # kept IN-PLAN (a rank over n_cells rows) so the whole search
    # stays one statement for the oracle
    qrow = q.where(F.col(id_col) == query_id).select(
        F.col("qv").alias("query_qv")
    )
    probes = (
        cents.crossJoin(F.broadcast(qrow))
        .select(
            "cell", _INT_D2(F.col("cq"), F.col("query_qv")).alias("d2")
        )
        .orderBy("d2", "cell")
        .limit(nprobe)
        .select("cell")
    )
    cand = assigned.join(F.broadcast(probes), "cell").select(id_col, "qv")
    sub = _sub_explode(cand, F.col("qv"), m, dsub, id_col)
    # codebook/LUT from the FULL corpus sub-vectors (rows < n_codes
    # and the query row are not necessarily in the probed cells)
    full_sub = _sub_explode(q, F.col("qv"), m, dsub, id_col)
    cb = _fixed_codebook(full_sub, n_codes, id_col)
    qsub = full_sub.where(F.col(id_col) == query_id).select(
        F.col("sub_j"), F.col("s").alias("qs")
    )
    lut = cb.join(qsub, "sub_j").select(
        "sub_j", "code", _INT_D2(F.col("qs"), F.col("cs")).alias("lut_d2")
    )
    codes = (
        sub.join(F.broadcast(cb), "sub_j")
        .withColumn("d2", _INT_D2(F.col("s"), F.col("cs")))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(id_col, "sub_j").orderBy("d2", "code")
            ),
        )
        .where(F.col("rn") == 1)
        .select(id_col, "sub_j", "code")
    )
    survivors = (
        codes.join(F.broadcast(lut), ["sub_j", "code"])
        .groupBy(id_col)
        .agg(F.sum("lut_d2").alias("adc_d2"))
        .orderBy(F.col("adc_d2").asc(), F.col(id_col))
        .limit(rerank)
        .select(id_col)
    )
    exact = cand.join(F.broadcast(survivors), id_col).crossJoin(
        F.broadcast(qrow)
    )
    return (
        exact.select(
            F.col(id_col),
            _INT_D2(F.col("qv"), F.col("query_qv")).alias("qd2"),
        )
        .orderBy(F.col("qd2").asc(), F.col(id_col))
        .limit(k)
    )


# --- OPQ: optimized product quantization (learned rotation) ---------------


def opq_train(
    embeddings: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    sample_rows: int = 512,
    opq_iters: int = 8,
    kmeans_iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray]:
    """Train an OPQ rotation + codebooks (Ge et al., "Optimized
    Product Quantization", CVPR 2013): alternate between (a) fitting
    PQ codebooks to the rotated sample and (b) solving the orthogonal
    Procrustes problem ``min_R ||XR − Y||`` for the rotation that
    best aligns the data with its quantized reconstruction Y
    (R = UVᵀ from the SVD of XᵀY). Plain PQ quantizes axis-aligned
    sub-vectors, which wastes codebook capacity when variance is
    unevenly spread or correlated across the sub-vector cut points;
    the learned rotation redistributes it. Returns ``(R, codebooks)``
    — both driver-space artifacts (dim×dim + m·n_codes·dsub doubles),
    trained on the same bounded deterministic sample as
    :func:`pq_train_codebooks`. tests/test_pq.py pins that OPQ's
    sample reconstruction error is ≤ plain PQ's."""
    sample = np.asarray(
        [
            [float(x) for x in r[0]]
            for r in embeddings.select(vec_col)
            .orderBy(id_col)
            .limit(sample_rows)
            .collect()
        ],
        dtype=np.float64,
    )
    dim = sample.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(SEED)
    R = np.eye(dim)
    books = None
    for _ in range(opq_iters):
        X = sample @ R
        books = np.empty((m, n_codes, dsub), dtype=np.float64)
        for j in range(m):
            sub = X[:, j * dsub : (j + 1) * dsub]
            cents = sub[rng.choice(len(sub), n_codes, replace=False)].copy()
            for _ in range(kmeans_iters):
                d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(
                    axis=2
                )
                assign = d2.argmin(axis=1)
                for c in range(n_codes):
                    members = sub[assign == c]
                    if len(members):
                        cents[c] = members.mean(axis=0)
            books[j] = cents
        # quantized reconstruction under the current rotation
        Y = np.empty_like(X)
        for j in range(m):
            sub = X[:, j * dsub : (j + 1) * dsub]
            stat = -2.0 * (sub @ books[j].T) + (books[j] ** 2).sum(axis=1)[
                None, :
            ]
            Y[:, j * dsub : (j + 1) * dsub] = books[j][
                stat.argmin(axis=1)
            ]
        # orthogonal Procrustes: R aligning the ORIGINAL sample to Y
        U, _, Vt = np.linalg.svd(sample.T @ Y)
        R = U @ Vt
    return R, books


def _rotated(df: DataFrame, R: np.ndarray, vec_col: str) -> DataFrame:
    """Apply the OPQ rotation as one Arrow matmul per batch, emitting
    a rotated double vector column ``__rot`` (encode-time only — the
    ADC scan never touches vectors)."""
    from pyspark.sql.functions import pandas_udf

    Rm = np.asarray(R, dtype=np.float64)

    @pandas_udf("array<double>")
    def _rot(v: pd.Series) -> pd.Series:
        mask = v.notna().to_numpy()
        out = [None] * len(v)
        if mask.any():
            x = np.vstack(v[mask].to_numpy()).astype(np.float64)
            y = x @ Rm
            for row, i in enumerate(np.flatnonzero(mask)):
                out[i] = [float(z) for z in y[row]]
        return pd.Series(out, dtype=object)

    return df.withColumn("__rot", _rot(F.col(vec_col)))


def opq_encode(
    df: DataFrame,
    R: np.ndarray,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
    err_col: str | None = None,
) -> DataFrame:
    """PQ-encode under the learned rotation: rotate (Arrow matmul),
    then the standard sub-vector argmin. Same output contract as
    :func:`pq_encode` (including the optional ``err_col`` residual —
    computed in the rotated space, where it equals the original-space
    reconstruction error because R is orthogonal); the rotation lives
    entirely at index-build time — scans and LUTs are unchanged."""
    return pq_encode(
        _rotated(df, R, vec_col), codebooks, "__rot", out_col, err_col
    ).drop("__rot")


def opq_topk_adc(
    embeddings: DataFrame,
    query_vec: list[float],
    R: np.ndarray,
    codebooks: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k under OPQ: the query rotates driver-side (rotation
    is orthogonal, so L2 distances in rotated space equal those in
    the original space) and the scan is byte-for-byte the PQ ADC
    scan over the rotated codes."""
    q = (
        np.asarray(query_vec, dtype=np.float64)
        @ np.asarray(R, dtype=np.float64)
    )
    lut = adc_lut([float(x) for x in q], codebooks)
    coded = opq_encode(embeddings, R, codebooks, vec_col)
    scored = coded.select(
        F.col(id_col), F.round(_adc_score(lut, "pq_code"), 6).alias("adc_d2")
    )
    return scored.orderBy(
        F.col("adc_d2").asc_nulls_last(), F.col(id_col)
    ).limit(k)


# --- IVF-PQ append lifecycle (frozen quantizers, batch-keyed deltas) -------


def ivfpq_index_append(
    embeddings: DataFrame,
    path: str,
    batch_id: int = 0,
    m: int = 8,
    n_codes: int = 16,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    opq: bool = False,
) -> dict:
    """Append one vector batch to an IVF-PQ index: O(batch) per crawl
    increment through the lifecycle kernel
    (:func:`.lifecycle.append_batch`: fail-closed manifest, replay is
    replacement).

    BOTH quantizers freeze at creation: batch 0 trains the coarse
    centroids (:func:`..operators.similarity.ivf_train_centroids`)
    and the PQ codebooks (:func:`pq_train_codebooks`), and every
    later batch assigns/encodes against the stored artifacts —
    refitting either per batch would desynchronize cell pruning and
    make codes from different batches incomparable under one ADC LUT
    (the whole point of freezing; recall drift is the accepted cost,
    monitored the same way as the plain-IVF family). The quantizer
    shape ``(m, n_codes, n_cells)`` persists in ``meta`` BEFORE any
    quantizer rows (crash ordering: meta → codebooks → centroids
    last, so the centroids are the creation marker and a crash
    mid-creation leaves a tree the next append simply recreates —
    never rows under lost quantizers); a later append passing a
    different shape raises, and a tree with centroids but no meta is
    refused (:func:`.lifecycle.frozen_meta`). Layout::

        {path}/meta                   (m, n_codes, n_cells, fit_mean_qerr)
        {path}/centroids              (cell, c array<double>)
        {path}/codebooks              (sub_j, code, cs array<double>)
        {path}/rows/batch=/ivf_cell=  (id, pq_code, vec, qerr)
        {path}/drift/batch=           (n_rows, mean_qerr, drift_ratio)
        {path}/rows_manifest/batch=   (min_id, max_id, n_rows)

    The cost of freezing is DRIFT: a shifted corpus encodes to
    ever-farther codes, so each append computes its mean squared
    quantization residual (free in the encode pass —
    :func:`pq_encode` ``err_col``) and logs ``drift_ratio`` = batch
    mean_qerr / creation-batch mean_qerr (the re-fit signal; ADC
    recall degrades gradually, answers stay exact because the probe
    exact-re-ranks). The per-row ``qerr`` is STORED so later drift
    questions are a narrow column scan (:func:`ivfpq_drift_report`).

    ``opq=True`` builds the OPQ edition (the
    :func:`ivfpq_index_write` ``rotation`` contract, lifecycle-ified):
    batch 0 trains the learned rotation together with the codebooks
    (:func:`opq_train`) and persists it under ``{path}/rotation``;
    codes quantize the ROTATED vectors while the stored raw vector —
    and therefore the coarse cells and the exact re-rank — stay in
    the original space (R is orthogonal, so L2 is identical in both).
    The flag freezes in meta: appending the other flavor raises
    (codes from the two spaces are incomparable under one LUT).

    Returns ``{"batch", "n_rows", "mean_qerr", "drift_ratio"}``."""
    spark = embeddings.sparkSession
    meta = frozen_meta(
        spark,
        path,
        "centroids",
        "IVF-PQ index",
        "encode",
        {"m": m, "n_codes": n_codes, "n_cells": n_cells},
    )
    if meta is not None and path_exists(spark, f"{path}/centroids"):
        stored_opq = bool(meta["opq"]) if "opq" in meta.__fields__ else False
        if stored_opq != opq:
            raise ValueError(
                f"IVF-PQ index at {path} was created with"
                f" opq={stored_opq}; appending with opq={opq} would"
                " encode in a different space (codes from the two"
                " spaces are incomparable under one ADC LUT)"
            )
        fit_mean_qerr = float(meta["fit_mean_qerr"])
        centroids = _ivf_centroids(spark, path)
        books = _read_codebooks(spark, path, m, n_codes)
        R = _read_rotation(spark, path) if opq else None
    else:
        centroids = ivf_train_centroids(
            embeddings, n_cells, id_col=id_col, vec_col=vec_col
        )
        if opq:
            R, books = opq_train(
                embeddings, m, n_codes, id_col=id_col, vec_col=vec_col
            )
        else:
            R = None
            books = pq_train_codebooks(
                embeddings, m, n_codes, id_col=id_col, vec_col=vec_col
            )
        fit_mean_qerr = None
    embeddings = as_stored(embeddings, path, id_col, vec_col)
    assigned = ivf_assign(embeddings, centroids, vec_col)
    coded = (
        opq_encode(assigned, R, books, vec_col, err_col="qerr")
        if opq
        else pq_encode(assigned, books, vec_col, err_col="qerr")
    ).persist()
    st = coded.agg(
        *id_range(id_col), F.avg("qerr").alias("mean_qerr")
    ).collect()[0]
    mean_qerr = float(st["mean_qerr"] or 0.0)
    if fit_mean_qerr is None:
        # quantizer identity persists BEFORE any rows; the rotation
        # too lands before the centroids (the creation marker), so a
        # marked OPQ tree always has its rotation
        fit_mean_qerr = mean_qerr
        write_literal(
            spark,
            f"{path}/meta",
            [(m, n_codes, n_cells, fit_mean_qerr, opq)],
            "m int, n_codes int, n_cells int, fit_mean_qerr double,"
            " opq boolean",
        )
        write_literal(
            spark,
            f"{path}/codebooks",
            [
                (j, c, [float(x) for x in books[j][c]])
                for j in range(m)
                for c in range(n_codes)
            ],
            "sub_j int, code int, cs array<double>",
        )
        if opq:
            write_literal(
                spark,
                f"{path}/rotation",
                [(i, [float(x) for x in row]) for i, row in enumerate(R)],
                "i int, r array<double>",
            )
        write_literal(
            spark,
            f"{path}/centroids",
            [(i, [float(x) for x in row]) for i, row in enumerate(centroids)],
            "cell int, c array<double>",
        )
    append_batch(
        spark,
        path,
        batch_id,
        {
            "rows": (
                coded.select(
                    id_col, "pq_code", vec_col, "qerr", "ivf_cell"
                ).withColumn("batch", F.lit(batch_id).cast("bigint")),
                ("batch", "ivf_cell"),
            ),
            "drift": (
                drift_row(
                    spark,
                    batch_id,
                    st["n_rows"],
                    "qerr",
                    mean_qerr,
                    fit_mean_qerr,
                ),
                ("batch",),
            ),
        },
        rows_manifest(coded, id_col, batch_id, st),
    )
    coded.unpersist(blocking=False)
    return {
        "batch": int(batch_id),
        "n_rows": int(st["n_rows"]),
        "mean_qerr": mean_qerr,
        "drift_ratio": drift_ratio(mean_qerr, fit_mean_qerr),
    }


def _read_rotation(spark, path: str) -> np.ndarray:
    """Rehydrate the frozen OPQ rotation (dim×dim) from the index's
    ``rotation`` table — a bounded dim-row driver read."""
    rows = spark.read.parquet(f"{path}/rotation").collect()
    by_i = {int(r["i"]): list(r["r"]) for r in rows}
    return np.asarray([by_i[i] for i in range(len(by_i))], dtype=np.float64)


def _read_codebooks(spark, path: str, m: int, n_codes: int) -> np.ndarray:
    """Rehydrate the frozen (m, n_codes, dsub) codebook array from the
    index's ``codebooks`` table — a bounded m·n_codes-row driver
    read."""
    rows = spark.read.parquet(f"{path}/codebooks").collect()
    by_key = {(int(r["sub_j"]), int(r["code"])): list(r["cs"]) for r in rows}
    dsub = len(next(iter(by_key.values())))
    books = np.empty((m, n_codes, dsub), dtype=np.float64)
    for j in range(m):
        for c in range(n_codes):
            books[j][c] = by_key[(j, c)]
    return books


def ivfpq_index_topk(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage IVFADC search against an :func:`ivfpq_index_append`
    lifecycle tree — SELF-CONTAINED (quantizer shape, centroids, and
    codebooks all live in the index): rank the query's ``nprobe``
    nearest stored centroids driver-side, scan only those
    ``ivf_cell=`` partitions across all batches (partition pruning),
    ADC-rank the probed codes JVM-side (column pruning: this stage
    never reads the vector column), exact-re-rank the top ``rerank``
    survivors on their stored raw vectors. Returns (id, l2_d2) —
    exact distances for the returned rows.

    Duplicate-id safety: one manifest check
    (:func:`.lifecycle.rows_disjoint`), then two latest-wins folds
    over the PRUNED slice (:func:`.lifecycle.fold_latest`) — codes for
    the ADC pass, vectors for the re-rank. Both pick the same winning
    batch for an id, and the final ranking depends only on the
    re-ranked exact vector — ADC fold choice affects candidate
    selection (recall), never the returned distances."""
    meta = spark.read.parquet(f"{index_path}/meta").collect()[0]
    m, n_codes = int(meta["m"]), int(meta["n_codes"])
    opq = bool(meta["opq"]) if "opq" in meta.__fields__ else False
    books = _read_codebooks(spark, index_path, m, n_codes)
    probes = _probe_cells(_ivf_centroids(spark, index_path), query_vec, nprobe)
    # OPQ layout: the LUT is built from the ROTATED query (codes live
    # in rotated space); coarse ranking and the exact re-rank stay in
    # the original space, where L2 is identical under the orthogonal R
    lut_q = (
        [
            float(x)
            for x in np.asarray(query_vec, dtype=np.float64)
            @ _read_rotation(spark, index_path)
        ]
        if opq
        else query_vec
    )
    lut = adc_lut(lut_q, books)
    rows = spark.read.parquet(f"{index_path}/rows")
    pruned = rows.where(F.col("ivf_cell").isin(probes))
    disjoint = rows_disjoint(spark, index_path)
    cand = (
        fold_latest(pruned, id_col, ["pq_code"], disjoint)
        .select(F.col(id_col), _adc_score(lut, "pq_code").alias("adc_d2"))
        .orderBy(F.col("adc_d2").asc_nulls_last(), F.col(id_col))
        .limit(rerank)
        .select(id_col)
    )
    vecs = fold_latest(
        pruned.join(F.broadcast(cand), id_col), id_col, [vec_col], disjoint
    )
    return _exact_l2_topk(vecs, query_vec, k, id_col, vec_col)


def ivfpq_index_compact(spark, src_path: str, dst_path: str) -> str:
    """Compact an IVF-PQ delta tree into a single-batch index
    published as the next serving version under ``dst_path``
    (:func:`.lifecycle.compact_rows`): cell assignment and PQ codes
    are per-vector facts under the FROZEN quantizers
    (meta/codebooks/rotation/centroids copied verbatim — they ARE the
    index identity), so compaction folds re-delivered ids to their
    latest row — code, vector, residual and cell from one winning
    row — and re-partitions; probe results are identical by
    construction, and the rebuilt batch-0 manifest and drift row keep
    both protocols working for post-compaction appends."""
    return compact_rows(
        spark, src_path, dst_path, ("batch", "ivf_cell"), drift="qerr"
    )


def ivfpq_drift_report(
    spark,
    index_path: str,
    refit_threshold: float = 1.5,
    live: str = "off",
    sample_fraction: float = 0.01,
) -> dict:
    """Should this IVF-PQ index be RE-FIT? — the frozen-quantizer
    maintenance decision (:func:`..operators.similarity.
    ivf_drift_report`'s contract for the code-at-rest family).
    ``live='off'`` (default) decides from the per-append drift log
    alone (n_rows-weighted mean quantization residual — O(batches),
    no index read); ``'full'``/``'sample'`` recount over the STORED
    per-row ``qerr`` column — a narrow column scan (seeded sample
    for the latter), cheap because the append already paid the
    encode. Recommends a re-fit when the live mean residual exceeds
    ``refit_threshold ×`` the creation batch's — a RECALL alert, not
    a correctness gate (the probe's exact re-rank keeps returned
    distances true while coarse candidate quality drifts)."""
    if live not in ("full", "sample", "off"):
        raise ValueError(f"unknown live mode {live!r}")
    fit = float(
        spark.read.parquet(f"{index_path}/meta").collect()[0][
            "fit_mean_qerr"
        ]
    )
    log = drift_log(spark, index_path)
    if live == "off":
        n = sum(int(r["n_rows"]) for r in log)
        mean_qerr = (
            sum(float(r["mean_qerr"]) * int(r["n_rows"]) for r in log) / n
            if n
            else 0.0
        )
    else:
        rows = spark.read.parquet(f"{index_path}/rows").select("qerr")
        if live == "sample":
            rows = rows.sample(fraction=sample_fraction, seed=SEED)
        st = rows.agg(F.avg("qerr").alias("m")).collect()[0]
        mean_qerr = float(st["m"] or 0.0)
    ratio = drift_ratio(mean_qerr, fit)
    return {
        "fit_mean_qerr": fit,
        "live_mean_qerr": mean_qerr,
        "drift_ratio": ratio,
        "refit_recommended": ratio > refit_threshold,
        "batches": log,
    }


def ivfpq_index_refit(
    spark,
    src_path: str,
    dst_path: str,
    m: int | None = None,
    n_codes: int | None = None,
    n_cells: int | None = None,
) -> str:
    """RE-FIT a drifted IVF-PQ index (:func:`.lifecycle.refit`):
    retrain BOTH quantizers over the folded at-rest vectors (latest
    row per id), re-assign and re-encode everything through
    :func:`ivfpq_index_append`, and publish as the next serving
    version — resets the drift baseline (fresh ``fit_mean_qerr``).
    ``None`` keeps the stored quantizer shape; the OPQ flag is kept
    as stored."""
    meta = spark.read.parquet(f"{src_path}/meta").collect()[0]
    m = int(meta["m"]) if m is None else m
    n_codes = int(meta["n_codes"]) if n_codes is None else n_codes
    n_cells = int(meta["n_cells"]) if n_cells is None else n_cells
    opq = bool(meta["opq"]) if "opq" in meta.__fields__ else False
    return refit(
        spark,
        src_path,
        dst_path,
        lambda df, vdir, id_col, vec_col: ivfpq_index_append(
            df, vdir, 0, m, n_codes, n_cells, id_col, vec_col, opq
        ),
    )
