"""Similarity-search self-consistency: Spark brute force vs a numpy
reference, and SRP-LSH recall against brute force.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyspark_airflow_weather_etl_spark.operators.similarity import (
    brute_force_topk,
    ivf_assign,
    ivf_topk,
    ivf_train_centroids,
    srp_topk,
)
from pyspark_airflow_weather_etl_spark.sources.tables import load_table

from conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


@pytest.fixture(scope="module")
def qvec(emb):
    return [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]


def test_brute_force_matches_numpy(emb, qvec):
    rows = emb.select("vec_id", "embedding").collect()
    q = np.array(qvec)
    scores = {
        r.vec_id: float(
            np.dot(r.embedding, q)
            / (np.linalg.norm(np.array(r.embedding, dtype=np.float64))
               * np.linalg.norm(q))
        )
        for r in rows
    }
    want = sorted(scores, key=lambda k: (-round(scores[k], 6), k))[:10]
    got = [r.vec_id for r in brute_force_topk(emb, qvec, k=10).collect()]
    assert got == want


def test_srp_recall(emb, qvec):
    exact = {r.vec_id for r in brute_force_topk(emb, qvec, k=10).collect()}
    approx = {
        r.vec_id
        for r in srp_topk(
            emb, qvec, dim=64, k=10, bits_per_table=4, n_tables=8
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    # Random Gaussian vectors are LSH's worst case (no cluster
    # structure); 8 tables × 4 bits lands ~0.6-0.8 here. The bound
    # guards the plumbing; the knobs are workload-specific.
    assert recall >= 0.5, f"SRP recall {recall}"
    assert 0 in approx, "the query vector itself must be its own neighbour"


def test_ivf_recall_and_cells(emb, qvec):
    centroids = ivf_train_centroids(emb, n_cells=16)
    cells = ivf_assign(emb, centroids)
    counts = {
        r.ivf_cell: r.n
        for r in cells.groupBy("ivf_cell").agg(F.count("*").alias("n")).collect()
    }
    assert set(counts) <= set(range(16))
    assert max(counts.values()) < 500, "assignment must actually partition"

    exact = {r.vec_id for r in brute_force_topk(emb, qvec, k=10).collect()}
    approx = {
        r.vec_id for r in ivf_topk(emb, qvec, centroids, k=10, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall}"
    assert 0 in approx


def test_srp_at_rest_equals_full_scan(spark, emb, qvec, tmp_path):
    """The persisted t=/bucket= index probe must return exactly the
    full-scan srp_topk rows (same planes, same multi-probe OR) — and
    its scan must actually prune partitions."""
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        srp_index_write,
        srp_topk_at_rest,
    )

    path = str(tmp_path / "srp_index")
    srp_index_write(emb, dim=64, path=path)
    at_rest = srp_topk_at_rest(spark, path, qvec, dim=64, k=10)
    full = srp_topk(emb, qvec, dim=64, k=10)
    assert [(r.vec_id, r.cosine) for r in at_rest.collect()] == [
        (r.vec_id, r.cosine) for r in full.collect()
    ]
    # partition pruning: the probe's scan carries non-empty partition
    # filters on t/bucket (inputFiles() ignores pruning, so read the
    # executed plan) — 8 of the 8×16 partitions are actually read
    import re

    plan = at_rest._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), f"no partition filters in scan:\n{plan}"


def test_blocked_near_dup_precision_and_recall(spark, emb):
    """SRP-blocked near-dup pairs: every emitted pair must be a true
    ≥threshold pair (exact verification ⇒ precision 1.0), and recall
    vs the all-pairs ground truth must clear the S-curve floor."""
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        embedding_near_duplicates_blocked,
    )
    from pyspark_airflow_weather_etl_spark.functions.vectors import (
        cosine_similarity,
    )

    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    truth = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine_similarity(F.col("ea"), F.col("eb")), 6).alias("c"),
        )
        .where(F.col("c") >= 0.4)
        .collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in embedding_near_duplicates_blocked(emb, threshold=0.4).collect()
    }
    assert got <= truth  # exact verify: no false positives
    assert len(got & truth) / len(truth) >= 0.95


def test_ivf_at_rest_equals_in_memory(spark, emb, qvec, tmp_path):
    """The persisted ivf_cell= layout probe must return exactly the
    in-memory ivf_topk rows (same centroids => same cells), with a
    partition-pruned scan."""
    import re

    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        ivf_index_write,
        ivf_topk_at_rest,
        ivf_train_centroids,
    )

    centroids = ivf_train_centroids(emb, n_cells=16)
    path = str(tmp_path / "ivf_index")
    ivf_index_write(emb, centroids, path)
    at_rest = ivf_topk_at_rest(spark, path, qvec, centroids, k=10, nprobe=4)
    in_mem = ivf_topk(emb, qvec, centroids, k=10, nprobe=4)
    assert [(r.vec_id, r.cosine) for r in at_rest.collect()] == [
        (r.vec_id, r.cosine) for r in in_mem.collect()
    ]
    plan = at_rest._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and m.group(1).strip(), f"no partition filters:\n{plan}"


def test_srp_signature_null_embedding(spark):
    """Null embeddings must yield a null signature (not a worker
    crash: np.vstack over None raised before the mask guard)."""
    from pyspark.sql.types import (
        ArrayType, FloatType, LongType, StructField, StructType,
    )

    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        srp_signature,
    )

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ])
    df = spark.createDataFrame(
        [(0, [1.0] * 8), (1, None), (2, [-1.0] * 8)], schema
    )
    rows = {
        r.vec_id: r.srp_bucket
        for r in srp_signature(df, dim=8, n_planes=4).collect()
    }
    assert rows[1] is None
    assert rows[0] is not None and rows[2] is not None


def test_ivf_assign_impl_parity_near_ties(spark):
    """arrow and expr ivf_assign must agree everywhere except genuine
    float-rounding ties — and on an EXACT midpoint both must break the
    tie to the lowest cell index. Any divergence must be an epsilon-
    tie: both picks within rounding of the true minimum distance."""
    import numpy as np
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        ivf_assign,
    )

    dim = 8
    centroids = np.zeros((3, dim))
    centroids[1, 0] = 2.0
    centroids[2, 1] = 4.0
    rows = [
        (0, [1.0] + [0.0] * (dim - 1)),          # exact midpoint c0/c1
        (1, [1.0 + 1e-12] + [0.0] * (dim - 1)),  # epsilon off midpoint
        (2, [0.1] * dim),                        # clearly c0
        (3, [1.9] + [0.1] * (dim - 1)),          # clearly c1
        (4, None),                               # null vector
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {}
    for impl in ("arrow", "expr"):
        got[impl] = {
            r.vec_id: r.ivf_cell
            for r in ivf_assign(df, centroids, impl=impl).collect()
        }
    # exact midpoint: lowest index in BOTH impls
    assert got["arrow"][0] == 0 and got["expr"][0] == 0
    assert got["arrow"][4] is None and got["expr"][4] is None
    vecs = {i: v for i, v in rows}
    for vid in (1, 2, 3):
        a_cell, e_cell = got["arrow"][vid], got["expr"][vid]
        if a_cell == e_cell:
            continue
        # divergence allowed only on an epsilon-tie
        x = np.array(vecs[vid], dtype=np.float64)
        d = ((centroids - x) ** 2).sum(axis=1)
        assert abs(d[a_cell] - d[e_cell]) < 1e-9, (vid, a_cell, e_cell)
    # clear-winner rows must agree exactly
    assert got["arrow"][2] == got["expr"][2] == 0
    assert got["arrow"][3] == got["expr"][3] == 1


def test_pair_dot_impl_parity(spark, emb):
    """expr (sequential fold) and arrow (einsum) pair scoring must
    produce identical rows after the round-6 cosine contract."""
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        embedding_near_duplicates_blocked,
        pairwise_topk_per_label,
    )

    for fn in (embedding_near_duplicates_blocked, pairwise_topk_per_label):
        a = set(map(tuple, fn(emb, impl="expr").collect()))
        b = set(map(tuple, fn(emb, impl="arrow").collect()))
        assert a == b and a


class TestHotLabelSubBlocking:
    """pairwise_topk_per_label's hot-label guard: above the row
    threshold a label switches from exact all-pairs (O(n²)) to
    per-label-width SRP sub-blocking — candidate volume must stay
    ~linear in n, recall must hold on clustered data, and labels
    below the threshold must stay bit-for-bit exact."""

    DIM = 16

    @staticmethod
    def _df(spark, rows):
        return spark.createDataFrame(
            rows, "vec_id long, label string, embedding array<float>"
        )

    def _random_rows(self, n, label, start=0, seed=7):
        rng = np.random.default_rng(seed)
        return [
            (start + i, label, [float(x) for x in rng.standard_normal(self.DIM)])
            for i in range(n)
        ]

    def test_candidate_volume_is_subquadratic(self, spark):
        from pyspark_airflow_weather_etl_spark.operators.similarity import (
            hot_label_candidate_pairs,
        )

        n, target_block, n_tables = 2000, 64, 2
        df = self._df(spark, self._random_rows(n, "hot"))
        hot = df.select(
            "label",
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        ).withColumn("label_n", F.lit(n))
        cands = hot_label_candidate_pairs(
            hot,
            target_block=target_block,
            n_tables=n_tables,
            min_bits=2,
            max_bits=8,
            dim=self.DIM,
        )
        n_pairs = cands.count()
        # bits = ceil(log2(2000/64)) = 5 -> ~32 buckets of ~62 rows:
        # per-table pair volume ~ n * target_block, never ~ n * (n-1)
        assert n_pairs <= n_tables * n * 4 * target_block  # 4x skew slack
        assert n_pairs < n * (n - 1) // 4
        # directed pairs, both orientations present
        one = cands.limit(1).collect()[0]
        assert (
            cands.where(
                (F.col("id_a") == one.id_b) & (F.col("id_b") == one.id_a)
            ).count()
            == 1
        )

    def test_hot_recall_on_clustered_data(self, spark):
        from pyspark_airflow_weather_etl_spark.operators.similarity import (
            pairwise_topk_per_label,
        )

        rng = np.random.default_rng(11)
        n_clusters, per_cluster = 100, 8
        centers = rng.standard_normal((n_clusters, self.DIM))
        rows = []
        for i in range(n_clusters * per_cluster):
            c = centers[i % n_clusters]
            v = c + 0.02 * rng.standard_normal(self.DIM)
            rows.append((i, "hot", [float(x) for x in v]))
        df = self._df(spark, rows)

        kwargs = dict(
            k=3,
            hot_target_block=32,
            hot_tables=4,
            hot_min_bits=2,
            hot_max_bits=8,
            dim=self.DIM,
        )
        exact = pairwise_topk_per_label(
            df, hot_label_threshold=10**9, **kwargs
        )
        approx = pairwise_topk_per_label(df, hot_label_threshold=100, **kwargs)
        top1 = {
            r.id_a: r.id_b for r in exact.where(F.col("rank") == 1).collect()
        }
        got = {}
        for r in approx.collect():
            got.setdefault(r.id_a, set()).add(r.id_b)
        hits = sum(
            1 for a, b in top1.items() if b in got.get(a, set())
        )
        assert hits / len(top1) >= 0.9

    def test_cold_labels_stay_exact(self, spark):
        from pyspark_airflow_weather_etl_spark.operators.similarity import (
            pairwise_topk_per_label,
        )

        rows = (
            self._random_rows(300, "hot", start=0, seed=3)
            + self._random_rows(40, "cold", start=1000, seed=4)
        )
        df = self._df(spark, rows)
        kwargs = dict(k=3, hot_min_bits=2, hot_max_bits=8, dim=self.DIM)
        mixed = pairwise_topk_per_label(
            df, hot_label_threshold=100, hot_target_block=32, **kwargs
        )
        all_exact = pairwise_topk_per_label(
            df, hot_label_threshold=10**9, **kwargs
        )
        cold_mixed = sorted(
            map(tuple, mixed.where(F.col("label") == "cold").collect())
        )
        cold_exact = sorted(
            map(tuple, all_exact.where(F.col("label") == "cold").collect())
        )
        assert cold_mixed == cold_exact and len(cold_mixed) == 40 * 3

    def test_label_scoped_ids_resolve_per_label(self, spark):
        """Ids that repeat across labels must join each label's OWN
        vectors (re-join keys are (label, id), not id alone) and rank
        inside their label: each label of an overlapping-id corpus
        must produce exactly the result it produces when run alone."""
        from pyspark_airflow_weather_etl_spark.operators.similarity import (
            pairwise_topk_per_label,
        )

        rows_a = self._random_rows(150, "la", start=0, seed=5)
        rows_b = self._random_rows(150, "lb", start=0, seed=6)  # same ids
        kwargs = dict(
            k=3,
            hot_label_threshold=100,  # both labels go hot
            hot_target_block=32,
            hot_min_bits=2,
            hot_max_bits=8,
            dim=self.DIM,
        )
        both = pairwise_topk_per_label(
            self._df(spark, rows_a + rows_b), **kwargs
        )
        for label, rows in (("la", rows_a), ("lb", rows_b)):
            alone = sorted(
                map(tuple, pairwise_topk_per_label(
                    self._df(spark, rows), **kwargs
                ).collect())
            )
            mixed = sorted(
                map(tuple, both.where(F.col("label") == label).collect())
            )
            assert mixed == alone, f"label {label} polluted by sibling ids"


def test_cross_corpus_blocked_precision_and_recall(spark, emb):
    """cross_corpus_near_duplicates vs the exact cross-join ground
    truth: every emitted pair must be a true pair (exact precision by
    construction) and recall must clear the SRP S-curve bound that
    the self-join blocked test holds."""
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        cross_corpus_near_duplicates,
    )

    left = emb.where(F.col("vec_id") % 2 == 0)
    right = emb.where(F.col("vec_id") % 2 == 1)
    got = {
        (r.id_left, r.id_right)
        for r in cross_corpus_near_duplicates(left, right, 0.4).collect()
    }

    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    truth = set()
    for a, va in vecs.items():
        if a % 2 != 0:
            continue
        for b, vb in vecs.items():
            if b % 2 != 1:
                continue
            c = float(
                np.dot(va, vb)
                / (np.linalg.norm(va) * np.linalg.norm(vb))
            )
            if round(c, 6) >= 0.4:
                truth.add((a, b))
    assert got <= truth, "blocked path emitted a false pair"
    assert truth, "fixture has no cross-corpus near-dups"
    assert len(got) / len(truth) >= 0.9


class TestSemanticDedup:
    """SemDeDup bounds (operators.similarity.semantic_dedup): drop
    precision is exact by construction; recall is measured on planted
    same-cell near-dup clusters; output is deterministic."""

    def test_drop_precision_exact(self, spark, emb):
        from pyspark_airflow_weather_etl_spark.operators.similarity import (
            semantic_dedup,
        )

        kept = {
            r.vec_id
            for r in semantic_dedup(emb, n_cells=8, threshold=0.4).collect()
        }
        rows = emb.select("vec_id", "embedding").collect()
        vecs = {
            r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows
        }
        ids = sorted(vecs)
        dropped = set(ids) - kept
        assert dropped, "fixture has planted near-dups; some must drop"
        norms = {i: np.linalg.norm(vecs[i]) for i in ids}
        for d in dropped:
            has_lower_neighbor = any(
                i < d
                and round(
                    float(np.dot(vecs[i], vecs[d]))
                    / (norms[i] * norms[d]),
                    6,
                )
                >= 0.4 - 1e-6
                for i in ids
            )
            assert has_lower_neighbor, f"{d} dropped without a near-dup"

    def test_recall_on_planted_clusters(self, spark):
        from pyspark_airflow_weather_etl_spark.operators.similarity import (
            semantic_dedup,
        )

        rng = np.random.default_rng(0)
        base = rng.standard_normal((40, 16))
        rows, plant = [], []
        vid = 0
        for i, v in enumerate(base):
            rows.append((vid, [float(x) for x in v]))
            orig = vid
            vid += 1
            if i < 10:  # plant 2 near-copies of the first 10
                for _ in range(2):
                    c = v + rng.standard_normal(16) * 0.01
                    rows.append((vid, [float(x) for x in c]))
                    plant.append((orig, vid))
                    vid += 1
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        kept = {
            r.vec_id
            for r in semantic_dedup(
                df, n_cells=4, threshold=0.9, sample_rows=128
            ).collect()
        }
        copies = [c for _, c in plant]
        dropped_copies = [c for c in copies if c not in kept]
        recall = len(dropped_copies) / len(copies)
        assert recall >= 0.9, f"recall {recall}"
        # originals (lowest id of each cluster) all survive
        assert all(o in kept for o, _ in plant)

    def test_deterministic(self, spark, emb):
        from pyspark_airflow_weather_etl_spark.operators.similarity import (
            semantic_dedup,
        )

        a = sorted(
            tuple(r)
            for r in semantic_dedup(emb, n_cells=8, threshold=0.4).collect()
        )
        b = sorted(
            tuple(r)
            for r in semantic_dedup(emb, n_cells=8, threshold=0.4).collect()
        )
        assert a == b

    def test_hot_cell_guard_precision_stays_exact(self, spark, emb):
        """With the guard forced on (threshold 8 → nearly every cell
        hot), every drop must still carry a real near-dup with a
        lower id — SRP sub-blocking may MISS pairs (recall), never
        invent them (precision)."""
        from pyspark_airflow_weather_etl_spark.operators.similarity import (
            semantic_dedup,
        )

        kept = {
            r.vec_id
            for r in semantic_dedup(
                emb,
                n_cells=8,
                threshold=0.4,
                hot_cell_threshold=8,
                hot_target_block=64,
            ).collect()
        }
        rows = emb.select("vec_id", "embedding").collect()
        vecs = {
            r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows
        }
        ids = sorted(vecs)
        norms = {i: np.linalg.norm(vecs[i]) for i in ids}
        dropped = set(ids) - kept
        assert dropped
        for d in dropped:
            assert any(
                i < d
                and round(
                    float(np.dot(vecs[i], vecs[d])) / (norms[i] * norms[d]),
                    6,
                )
                >= 0.4 - 1e-6
                for i in ids
            ), f"{d} dropped without a near-dup (hot path)"

    def test_hot_cell_guard_recall_on_planted_clusters(self, spark):
        """Near-identical copies share (nearly) all SRP buckets, so
        the guarded path must still catch planted near-dups."""
        from pyspark_airflow_weather_etl_spark.operators.similarity import (
            semantic_dedup,
        )

        rng = np.random.default_rng(3)
        base = rng.standard_normal((40, 16))
        rows, plant = [], []
        vid = 0
        for i, v in enumerate(base):
            rows.append((vid, [float(x) for x in v]))
            orig = vid
            vid += 1
            if i < 10:
                for _ in range(2):
                    c = v + rng.standard_normal(16) * 0.01
                    rows.append((vid, [float(x) for x in c]))
                    plant.append((orig, vid))
                    vid += 1
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        kept = {
            r.vec_id
            for r in semantic_dedup(
                df,
                n_cells=4,
                threshold=0.9,
                sample_rows=128,
                hot_cell_threshold=4,  # every cell routes hot
                hot_target_block=8,
                dim=16,
            ).collect()
        }
        copies = [c for _, c in plant]
        recall = sum(c not in kept for c in copies) / len(copies)
        assert recall >= 0.9, f"hot-path recall {recall}"
        assert all(o in kept for o, _ in plant)


class TestIncrementalSemanticDedup:
    """Incremental semantic dedup against an at-rest index: the loop's
    drop union must equal the one-shot run (monotone drop rule +
    co-presence argument), the index read must partition-prune to
    touched cells, and a later batch must be able to drop an INDEX
    row."""

    def _loop(self, spark, emb, path, order, fixed=True, threshold=0.4):
        from pyspark_airflow_weather_etl_spark.operators import (
            similarity as S,
        )

        drops = []
        for pos, b in enumerate(order):
            batch = emb.where(F.pmod(F.col("vec_id"), F.lit(len(order))) == b)
            if fixed:
                d = S.semantic_dedup_incremental_fixed(
                    batch, path, threshold=threshold, before_batch=pos
                )
                drops.append({r.vec_id for r in d.collect()})
                S.semantic_index_append_fixed(batch, path, batch_id=pos)
            else:
                d = S.semantic_dedup_incremental(
                    batch, path, threshold=threshold, before_batch=pos
                )
                drops.append({r.vec_id for r in d.collect()})
                S.semantic_index_append(batch, path, batch_id=pos)
        kept = {
            r.vec_id
            for r in spark.read.parquet(f"{path}/rows")
            .select("vec_id")
            .collect()
        } - set().union(*drops)
        return kept

    def test_fixed_loop_equals_oneshot_any_order(self, spark, tmp_path):
        from pyspark_airflow_weather_etl_spark.operators import (
            similarity as S,
        )
        from pyspark_airflow_weather_etl_spark.sources.tables import (
            load_table,
        )

        from conftest import SF_DIR

        emb = load_table(spark, SF_DIR, "embeddings")
        oneshot = {
            r.vec_id
            for r in S.semantic_dedup_fixed_cells(
                emb, n_centroids=8, threshold=0.4
            ).collect()
        }
        for i, order in enumerate([[3, 1, 0, 2], [0, 1, 2, 3]]):
            path = str(tmp_path / f"idx_{i}")
            S.semantic_centroids_write_fixed(emb, path, n_centroids=8)
            kept = self._loop(spark, emb, path, order, fixed=True)
            assert kept == oneshot, order

    def test_kmeans_loop_equals_batch_restriction(self, spark, tmp_path):
        """Production-shape loop vs the one-shot computed from the
        SAME stored centroids (semantic_dedup itself retrains, so the
        restriction is built from the primitives)."""
        from pyspark_airflow_weather_etl_spark.operators import (
            similarity as S,
        )
        from pyspark_airflow_weather_etl_spark.sources.tables import (
            load_table,
        )

        from conftest import SF_DIR

        emb = load_table(spark, SF_DIR, "embeddings")
        path = str(tmp_path / "km")
        cents = S.ivf_train_centroids(emb, n_cells=16)
        spark.createDataFrame(
            [(i, [float(x) for x in row]) for i, row in enumerate(cents)],
            "cell_id int, centroid array<double>",
        ).write.mode("overwrite").parquet(f"{path}/centroids")
        kept = self._loop(
            spark, emb, path, [2, 0, 3, 1], fixed=False, threshold=0.4
        )
        # one-shot restriction: same assignment, full in-cell pairs
        assigned = S._assign_vnrm(emb, cents, "vec_id", "embedding")
        drops = {
            r.vec_id
            for r in S._incremental_drops(
                assigned.where(F.lit(False)), assigned, 0.4, "vec_id"
            ).collect()
        }
        want = {r.vec_id for r in emb.select("vec_id").collect()} - drops
        assert kept == want

    def test_incremental_read_partition_prunes_touched_cells(
        self, spark, tmp_path
    ):
        from pyspark_airflow_weather_etl_spark.operators import (
            similarity as S,
        )
        from pyspark_airflow_weather_etl_spark.sources.tables import (
            load_table,
        )

        from conftest import SF_DIR

        emb = load_table(spark, SF_DIR, "embeddings")
        path = str(tmp_path / "pr")
        S.semantic_index_write_fixed(
            emb.where(F.col("vec_id") % 4 != 1), path, n_centroids=8
        )
        batch = emb.where(F.col("vec_id") % 4 == 1).limit(40)
        d = S.semantic_dedup_incremental_fixed(batch, path, threshold=0.4)
        plan = d._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "ivf_cell" in plan

    def test_batch_can_drop_index_row(self, spark):
        """Arrival order is not id order: when the batch brings a
        LOWER-id near-dup of an index row, the INDEX row must appear
        in the drop set (greatest-id rule)."""
        import tempfile

        from pyspark_airflow_weather_etl_spark.operators import (
            similarity as S,
        )

        path = tempfile.mkdtemp(prefix="semdrop_") + "/idx"
        mk = lambda rows: spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        # centroid table from the eventual corpus: ids 0 and 1
        full = mk(
            [
                (0, [1.0, 0.0]),
                (1, [0.0, 1.0]),
                (5, [0.9, 0.1]),
                (2, [0.89, 0.11]),
            ]
        )
        S.semantic_centroids_write_fixed(full, path, n_centroids=2)
        # batch 0 (the "index"): ids 0, 1, 5
        b0 = mk([(0, [1.0, 0.0]), (1, [0.0, 1.0]), (5, [0.9, 0.1])])
        d0 = S.semantic_dedup_incremental_fixed(
            b0, path, threshold=0.95, before_batch=0
        )
        assert {r.vec_id for r in d0.collect()} == {5}  # 5 ~ 0
        S.semantic_index_append_fixed(b0, path, batch_id=0)
        # batch 1 brings id 2 ~ id 5 (and ~0): 5 already dropped; 2
        # has near-dup 0 (lower id) -> 2 drops; id 2 < 5 so 5 drops
        # again via (2,5) — and crucially the pair (2,5) emits 5 (the
        # INDEX row is the greater id)
        b1 = mk([(2, [0.89, 0.11])])
        d1 = S.semantic_dedup_incremental_fixed(
            b1, path, threshold=0.95, before_batch=1
        )
        got = {r.vec_id for r in d1.collect()}
        assert 5 in got, got  # index row dropped by incoming lower id
        assert 2 in got, got  # batch row dropped by stored lower id


def test_cross_cell_leakage_measured_and_nprobe_recovers(spark):
    """VERDICT r9 item 5: MEASURE SemDeDup's cross-cell recall gap
    instead of just documenting it. On the fixture geometry
    (threshold 0.4, 16 k-means cells) the leakage is large — a
    majority of exact near-dup pairs straddle cells at nprobe=1 — and
    multi-probe assignment recovers it: pinned bounds below are the
    measured values (sf0.001: 1→0.379, 2→0.758, 3→0.909, 4→1.0) with
    slack for centroid drift if the fixture is regenerated."""
    import numpy as np

    from pyspark_airflow_weather_etl_spark.operators import similarity as S
    from pyspark_airflow_weather_etl_spark.sources.tables import load_table

    from conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(X, axis=1)
    cos = np.round((X @ X.T) / np.outer(nrm, nrm), 6)
    iu = np.triu_indices(len(X), 1)
    sel = cos[iu] >= 0.4
    pa, pb = iu[0][sel], iu[1][sel]
    assert len(pa) > 20, "fixture must contain near-dup pairs"
    cents = S.ivf_train_centroids(emb, n_cells=16)
    c = np.asarray(cents, dtype=np.float64)
    stat = -2.0 * (X @ c.T) + (c**2).sum(axis=1)[None, :]
    order = np.argsort(stat, axis=1, kind="stable")
    cover = {}
    for p in (1, 2, 4):
        probes = order[:, :p]
        hit = sum(
            bool(set(probes[x]) & set(probes[y])) for x, y in zip(pa, pb)
        )
        cover[p] = hit / len(pa)
    # the measured gap is real (leakage >> 5%) and nprobe closes it
    assert cover[1] < 0.6, cover
    assert cover[2] > cover[1] + 0.2, cover
    assert cover[4] >= 0.95, cover


def test_semantic_dedup_nprobe_catches_cross_cell_pairs(spark):
    """The operator-level proof: at nprobe=4 the drop set must
    contain every member the exact all-pairs rule drops among the
    covered pairs — i.e. kept(nprobe=4) ⊆ kept(nprobe=1) and the
    extra drops are exactly cross-cell near-dups; with full coverage
    (measured 1.0 at sf0.001) kept(nprobe=4) equals the global
    all-pairs keep-lowest rule."""
    import numpy as np

    from pyspark_airflow_weather_etl_spark.operators import similarity as S
    from pyspark_airflow_weather_etl_spark.sources.tables import load_table

    from conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    kept1 = {
        r.vec_id
        for r in S.semantic_dedup(
            emb, n_cells=16, threshold=0.4, hot_cell_threshold=None
        ).collect()
    }
    kept4 = {
        r.vec_id
        for r in S.semantic_dedup(
            emb,
            n_cells=16,
            threshold=0.4,
            hot_cell_threshold=None,
            nprobe=4,
        ).collect()
    }
    assert kept4 <= kept1
    # global exact rule: drop any id with a lower-id near-dup
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    nrm = np.linalg.norm(X, axis=1)
    cos = np.round((X @ X.T) / np.outer(nrm, nrm), 6)
    iu = np.triu_indices(len(X), 1)
    sel = cos[iu] >= 0.4
    exact_drops = {int(ids[j]) for j in iu[1][sel]}
    want = set(int(i) for i in ids) - exact_drops
    # coverage at nprobe=4 measured 1.0 on this fixture -> equality;
    # if fixture regeneration drops coverage below 1.0, kept4 may
    # keep a few extra rows but never drop a non-duplicate
    assert want <= kept4
    assert len(kept4 - want) <= max(2, len(exact_drops) // 10), (
        len(kept4 - want),
        len(exact_drops),
    )


def test_sq8_topk_self_hit_and_recall(spark):
    """SQ8 route: the query survives its own byte-code cut (distance 0)
    and re-ranks to cosine 1.0 at rank 1; recall@10 vs exact brute
    force stays high — 8-bit per-dimension codes lose far less
    geometry than 4-bit-per-subvector PQ, which is the point of the
    SQ8 tier."""
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        brute_force_topk,
        sq8_topk,
    )

    from conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    hits = tot = 0
    for qid in (7, 42):
        q = [
            float(x)
            for x in emb.where(F.col("vec_id") == qid).first()["embedding"]
        ]
        rows = sq8_topk(emb, q, k=10, overfetch=8).collect()
        assert rows[0]["vec_id"] == qid and rows[0]["cosine"] == 1.0
        got = {r["vec_id"] for r in rows}
        want = {r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()}
        hits += len(got & want)
        tot += len(want)
    emb.unpersist()
    assert hits / tot >= 0.8, hits / tot


def test_sq8_at_rest_equals_ad_hoc_and_prunes_columns(spark, tmp_path):
    """The SQ8 serving layout: probe rows equal the ad-hoc scan
    bit-for-bit (codes written with the same expression), and the
    coarse pass's parquet scan reads ONLY (vec_id, code) — the raw
    vector column stays out of ReadSchema until the re-rank join."""
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        sq8_index_write,
        sq8_topk,
        sq8_topk_at_rest,
    )

    from conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "sq8_idx")
    sq8_index_write(emb, path)
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == 7).first()["embedding"]
    ]
    want = sorted(map(tuple, sq8_topk(emb, q, k=10).collect()))
    at_rest = sq8_topk_at_rest(spark, path, q, k=10)
    assert sorted(map(tuple, at_rest.collect())) == want
    # the coarse branch's scan must not read the embedding column
    plan = at_rest._jdf.queryExecution().executedPlan().toString()
    import re as _re

    schemas = _re.findall(r"ReadSchema: (struct<[^>]*>)", plan)
    coarse = [s for s in schemas if "code" in s]
    assert coarse and all("embedding" not in s for s in coarse), schemas


def test_sq8_at_rest_accepts_writer_types(spark, tmp_path):
    """The probe must accept ANY index the writer produced — an index
    built from array<double> vectors and an int id reads back with the
    source types, not a hardcoded (bigint, array<float>) schema
    (ADVICE round 12). Equality vs the ad-hoc scan on the same typed
    frame proves the round trip."""
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        sq8_index_write,
        sq8_topk,
        sq8_topk_at_rest,
    )

    from conftest import SF_DIR

    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select(
            F.col("vec_id").cast("int").alias("vec_id"),
            F.transform("embedding", lambda v: v.cast("double")).alias(
                "embedding"
            ),
        )
        .where(F.col("vec_id") < 400)  # deterministic subset, not limit
    )
    path = str(tmp_path / "sq8_idx_double")
    sq8_index_write(emb, path)
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == 7).first()["embedding"]
    ]
    want = sorted(map(tuple, sq8_topk(emb, q, k=10).collect()))
    got = sorted(
        map(tuple, sq8_topk_at_rest(spark, path, q, k=10).collect())
    )
    assert got == want


def test_sq8_index_lifecycle(spark, tmp_path):
    """The SQ8 append/compact lifecycle: batch appends freeze the
    quantizer at creation, report per-batch clamp drift, replay
    idempotently, and compact to a published version whose probe is
    bit-identical to the delta tree's."""
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_index_current,
        compaction_cost_model,
    )
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        sq8_index_append,
        sq8_index_compact,
        sq8_topk_at_rest,
    )

    from conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "sq8_inc")
    r0 = sq8_index_append(emb.where(F.col("vec_id") % 2 == 0), path, 0)
    meta0 = spark.read.parquet(f"{path}/meta").collect()[0]
    r1 = sq8_index_append(emb.where(F.col("vec_id") % 2 == 1), path, 1)
    meta1 = spark.read.parquet(f"{path}/meta").collect()[0]
    # params frozen at creation: batch 1 did not retrain them
    assert list(meta0["mn"]) == list(meta1["mn"])
    assert list(meta0["sc"]) == list(meta1["sc"])
    # creation batch can never clamp (params fit it exactly)
    assert r0["clamped_frac"] == 0.0
    assert 0.0 <= r1["clamped_frac"] < 1.0
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == 7).first()["embedding"]
    ]
    want = sorted(
        map(tuple, sq8_topk_at_rest(spark, path, q, k=10).collect())
    )
    # duplicate-delivery idempotency: replaying batch 1 changes nothing
    sq8_index_append(emb.where(F.col("vec_id") % 2 == 1), path, 1)
    assert (
        sorted(map(tuple, sq8_topk_at_rest(spark, path, q, k=10).collect()))
        == want
    )
    n_rows = spark.read.parquet(f"{path}/rows").count()
    assert n_rows == emb.count()
    # drift guard fires on a batch far outside the frozen range
    far = emb.where(F.col("vec_id") % 2 == 1).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda v: v * 100 + 50).alias("embedding"),
    )
    r2 = sq8_index_append(far, path, 2)
    assert r2["clamped_frac"] > 0.5
    # compacted version answers bit-identically (drop the drift batch
    # first so the comparison covers the real corpus)
    import shutil

    shutil.rmtree(f"{path}/rows/batch=2")
    dst = str(tmp_path / "sq8_pub")
    sq8_index_compact(spark, path, dst)
    live = bm25_index_current(spark, dst)
    got = sorted(
        map(tuple, sq8_topk_at_rest(spark, live, q, k=10).collect())
    )
    assert got == want
    # compacted tree is one batch; cost model prices the sq8 family
    assert (
        spark.read.parquet(f"{live}/rows").select("batch").distinct().count()
        == 1
    )
    model = compaction_cost_model(spark, path, kind="sq8")
    assert model["n_deltas"] == 2 and "worth_it" in model


def test_streaming_sq8_index_maintenance(spark, tmp_path):
    """The streaming SQ8 maintainer: the first micro-batch freezes
    the quantizer, each batch's drift guard is logged append-only,
    and the streamed index's probe equals the incremental batch
    build's with the same decomposition."""
    import glob
    import os

    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        sq8_index_append,
        sq8_topk_at_rest,
    )
    from pyspark_airflow_weather_etl_spark.streaming.sq8_index import (
        run_streaming_sq8_index,
    )

    from conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    watch = str(tmp_path / "in")
    os.makedirs(watch)
    for i in range(3):
        stage = str(tmp_path / f"stage_{i}")
        emb.where(F.col("vec_id") % 3 == i).coalesce(1).write.parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")[0]
        dst = f"{watch}/batch_{i:03d}.parquet"
        os.rename(part, dst)
        os.utime(dst, (1_700_000_000 + i * 60,) * 2)
    idx = str(tmp_path / "index")
    reports = run_streaming_sq8_index(
        spark, watch, idx, emb.schema,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert [r["batch"] for r in reports] == [0, 1, 2]
    assert reports[0]["clamped_frac"] == 0.0  # creation batch fits
    drift = spark.read.parquet(f"{idx}/drift")
    assert drift.count() == 3
    # probe-equivalent to the incremental batch build
    batch_idx = str(tmp_path / "batch_index")
    for i in range(3):
        sq8_index_append(emb.where(F.col("vec_id") % 3 == i), batch_idx, i)
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == 7).first()["embedding"]
    ]
    got = sorted(map(tuple, sq8_topk_at_rest(spark, idx, q, k=10).collect()))
    want = sorted(
        map(tuple, sq8_topk_at_rest(spark, batch_idx, q, k=10).collect())
    )
    assert got == want


def test_sq8_drift_report_and_refit(spark, tmp_path):
    """The frozen-quantizer re-fit policy: a fresh index reports ~0
    live clamp (no refit); after a shifted batch lands, the live
    recount recommends one; sq8_index_refit retrains over the at-rest
    vectors, publishes a version whose live clamp is 0 again, and the
    refit index's probe self-hit still works."""
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_index_current,
    )
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        sq8_drift_report,
        sq8_index_append,
        sq8_index_refit,
        sq8_topk_at_rest,
    )

    from conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").where(
        F.col("vec_id") < 300
    )
    path = str(tmp_path / "sq8_drift")
    sq8_index_append(emb, path, 0)
    # r15: the DEFAULT live mode is the scale-safe seeded sample —
    # a maintenance call must not imply a full index scan
    rep = sq8_drift_report(spark, path)
    assert rep["live_mode"] == "sample"
    assert rep["live_clamped_frac"] == 0.0
    assert not rep["refit_recommended"]
    shifted = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda v: v * 10 + 5).alias("embedding"),
    )
    sq8_index_append(shifted, path, 1)
    rep = sq8_drift_report(spark, path, live="full")
    assert rep["live_clamped_frac"] > 0.2
    assert rep["refit_recommended"]
    dst = str(tmp_path / "sq8_refit")
    sq8_index_refit(spark, path, dst)
    live = bm25_index_current(spark, dst)
    rep2 = sq8_drift_report(spark, live, live="full")
    assert rep2["live_clamped_frac"] == 0.0
    q = [float(x) for x in emb.where(F.col("vec_id") == 7).first()[
        "embedding"]]
    top = sq8_topk_at_rest(spark, live, q, k=5).collect()
    assert top[0].vec_id == 7  # self-hit survives the refit


def test_sq8_duplicate_id_redelivery(spark, tmp_path):
    """A vec_id re-delivered under a LATER batch id (the ADVICE r13
    threat model): the at-rest probe folds to one row per id (latest
    batch wins), compaction folds the duplicates away, and a refit
    trains on the folded set — without the fold, duplicate ids would
    displace real neighbors in the top-k."""
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_index_current,
    )
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        cosine_similarity,
        sq8_index_append,
        sq8_index_compact,
        sq8_index_refit,
        sq8_topk_at_rest,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").where(
        F.col("vec_id") < 300
    )
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == 7).first()["embedding"]
    ]

    # index A: clean two-batch build
    a = str(tmp_path / "sq8_a")
    sq8_index_append(emb.where(F.col("vec_id") % 2 == 0), a, 0)
    sq8_index_append(emb.where(F.col("vec_id") % 2 == 1), a, 1)
    want = sorted(map(tuple, sq8_topk_at_rest(spark, a, q, k=10).collect()))

    # index B: same, plus a batch-2 re-delivery of UNCHANGED evens —
    # duplicate rows under a new batch id
    b = str(tmp_path / "sq8_b")
    sq8_index_append(emb.where(F.col("vec_id") % 2 == 0), b, 0)
    sq8_index_append(emb.where(F.col("vec_id") % 2 == 1), b, 1)
    sq8_index_append(
        emb.where((F.col("vec_id") % 2 == 0) & (F.col("vec_id") < 40)), b, 2
    )
    got_rows = sq8_topk_at_rest(spark, b, q, k=10).collect()
    assert len({r.vec_id for r in got_rows}) == 10  # no duplicate ids
    assert sorted(map(tuple, got_rows)) == want

    # re-delivery with a CHANGED vector: latest batch wins the re-rank
    upd = emb.where(F.col("vec_id") == 7).select(
        "vec_id",
        F.transform("embedding", lambda v: -v).alias("embedding"),
    )
    sq8_index_append(upd, b, 3)
    got2 = sq8_topk_at_rest(spark, b, q, k=300).collect()
    assert len(got2) == len({r.vec_id for r in got2})  # one row per id
    by_id = {r.vec_id: r.cosine for r in got2}
    assert by_id[7] == pytest.approx(-1.0, abs=1e-5)  # negated self

    # compaction folds duplicates: one row per id, probe unchanged
    dst = str(tmp_path / "sq8_b_pub")
    sq8_index_compact(spark, b, dst)
    live = bm25_index_current(spark, dst)
    rows = spark.read.parquet(f"{live}/rows")
    assert rows.count() == rows.select("vec_id").distinct().count() == 300
    got3 = sq8_topk_at_rest(spark, live, q, k=300).collect()
    assert {r.vec_id: r.cosine for r in got3}[7] == pytest.approx(
        -1.0, abs=1e-5
    )

    # refit trains on the folded set and emits a duplicate-free tree
    rdst = str(tmp_path / "sq8_b_refit")
    sq8_index_refit(spark, b, rdst)
    rlive = bm25_index_current(spark, rdst)
    rrows = spark.read.parquet(f"{rlive}/rows")
    assert rrows.count() == rrows.select("vec_id").distinct().count() == 300


def test_sq8_drift_live_modes(spark, tmp_path):
    """sq8_drift_report's three live modes agree on the shifted-batch
    case: exact recount, seeded sample, and log-only all reach the
    same refit decision (VERDICT r14 directive #2)."""
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        sq8_drift_backfill,
        sq8_drift_report,
        sq8_index_append,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").where(
        F.col("vec_id") < 300
    )
    path = str(tmp_path / "sq8_modes")
    sq8_index_append(emb, path, 0)
    for mode in ("full", "sample", "off"):
        rep = sq8_drift_report(spark, path, live=mode, sample_fraction=0.5)
        assert rep["live_mode"] == mode
        assert not rep["refit_recommended"], mode
    shifted = emb.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda v: v * 10 + 5).alias("embedding"),
    )
    sq8_index_append(shifted, path, 1)
    decisions = {}
    for mode in ("full", "sample", "off"):
        rep = sq8_drift_report(spark, path, live=mode, sample_fraction=0.5)
        decisions[mode] = rep["refit_recommended"]
        if mode == "sample":
            assert rep["live_stderr"] is not None and rep["live_stderr"] >= 0
        else:
            assert rep["live_stderr"] is None
    assert decisions == {"full": True, "sample": True, "off": True}
    with pytest.raises(ValueError):
        sq8_drift_report(spark, path, live="nope")


def test_sq8_drift_degenerate_dimension(spark, tmp_path):
    """A dimension CONSTANT at fit time has scale 0 — every later
    value quantizes to code 0, so without the sentinel the drift
    guard would report 0 clamp despite total information loss in that
    dimension (ADVICE r13). The guard now counts any departed value
    in a degenerate dimension as clamped."""
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        sq8_drift_report,
        sq8_index_append,
    )

    base = spark.createDataFrame(
        [(i, [float(i), 1.0, float(i % 7)]) for i in range(40)],
        "vec_id bigint, embedding array<double>",
    )
    path = str(tmp_path / "sq8_degen")
    r0 = sq8_index_append(base, path, 0)
    assert r0["clamped_frac"] == 0.0  # constant dim fits itself
    # dim 1 departs its frozen constant in every row of batch 1
    drifted = spark.createDataFrame(
        [(100 + i, [float(i), 5.0, float(i % 7)]) for i in range(40)],
        "vec_id bigint, embedding array<double>",
    )
    r1 = sq8_index_append(drifted, path, 1)
    assert r1["clamped_frac"] == pytest.approx(1.0 / 3.0)
    rep = sq8_drift_report(spark, path, live="full")
    assert rep["live_clamped_frac"] == pytest.approx(1.0 / 6.0)
    assert rep["refit_recommended"]


def test_sq8_drift_backfill(spark, tmp_path):
    """sq8_drift_backfill synthesizes the per-batch log from the
    at-rest tree so live='off' works on pre-log indexes; it is
    idempotent and matches the append-time log."""
    import shutil

    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        sq8_drift_backfill,
        sq8_drift_report,
        sq8_index_append,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").where(
        F.col("vec_id") < 300
    )
    path = str(tmp_path / "sq8_bf")
    sq8_index_append(emb.where(F.col("vec_id") % 2 == 0), path, 0)
    shifted = emb.where(F.col("vec_id") % 2 == 1).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda v: v * 10 + 5).alias("embedding"),
    )
    sq8_index_append(shifted, path, 1)
    want = sq8_drift_report(spark, path, live="off")
    # simulate a pre-log index, then backfill
    shutil.rmtree(f"{path}/drift")
    rep = sq8_drift_report(spark, path, live="off")
    assert rep["batches_logged"] == 0
    n = sq8_drift_backfill(spark, path)
    assert n == 2
    got = sq8_drift_report(spark, path, live="off")
    assert got["batches_logged"] == 2
    assert got["live_clamped_frac"] == pytest.approx(
        want["live_clamped_frac"]
    )
    assert got["refit_recommended"] == want["refit_recommended"]
    # idempotent
    assert sq8_drift_backfill(spark, path) == 2
    assert spark.read.parquet(f"{path}/drift").count() == 2


def test_sq8_disjoint_batches_skip_fold(spark, tmp_path):
    """Appends with pairwise-disjoint vec_id ranges (the append-only
    crawl case) prove no id was re-delivered, so the at-rest probe
    skips the index-sized latest-wins fold — the positional manifest
    fast path applied to vectors. Interleaved ranges keep it."""
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        sq8_index_append,
        sq8_topk_at_rest,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").where(
        F.col("vec_id") < 300
    )
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == 7).first()["embedding"]
    ]
    # disjoint ranges: [0,150) then [150,300)
    a = str(tmp_path / "sq8_disjoint")
    sq8_index_append(emb.where(F.col("vec_id") < 150), a, 0)
    sq8_index_append(emb.where(F.col("vec_id") >= 150), a, 1)
    df_a = sq8_topk_at_rest(spark, a, q, k=10)
    assert "max_by" not in df_a._jdf.queryExecution().analyzed().toString()
    # interleaved ranges: fold stays
    b = str(tmp_path / "sq8_interleaved")
    sq8_index_append(emb.where(F.col("vec_id") % 2 == 0), b, 0)
    sq8_index_append(emb.where(F.col("vec_id") % 2 == 1), b, 1)
    df_b = sq8_topk_at_rest(spark, b, q, k=10)
    assert "max_by" in df_b._jdf.queryExecution().analyzed().toString()
    # a pre-manifest tree (manifest missing) keeps the fold too
    import shutil

    shutil.rmtree(f"{a}/rows_manifest")
    df_c = sq8_topk_at_rest(spark, a, q, k=10)
    assert "max_by" in df_c._jdf.queryExecution().analyzed().toString()
    # all three probe paths agree with the one-shot build's answer
    c = str(tmp_path / "sq8_oneshot")
    sq8_index_append(emb.where(F.col("vec_id") < 150), c, 0)
    # params differ if trained on a different creation batch — train
    # on the SAME batch-0 slice so all four indexes share the frozen
    # quantizer and answers are bit-comparable
    sq8_index_append(emb.where(F.col("vec_id") >= 150), c, 1)
    want = sorted(map(tuple, sq8_topk_at_rest(spark, c, q, k=10).collect()))
    for df in (df_a, df_b, df_c):
        assert sorted(map(tuple, df.collect())) == want


def test_ivf_index_lifecycle(spark, tmp_path):
    """The IVF append/probe/drift/compact/refit lifecycle
    (round-14+): centroids freeze at creation, appends are O(batch)
    and idempotent, the self-contained probe equals the in-memory
    ivf_topk under the stored centroids, drift reports fire on a
    shifted batch and reset after refit, compaction folds
    re-delivered ids, and disjoint-range appends skip the
    latest-wins fold."""
    import numpy as np

    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_index_current,
    )
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        ivf_drift_report,
        ivf_index_append,
        ivf_index_compact,
        ivf_index_refit,
        ivf_index_topk,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").where(
        F.col("vec_id") < 300
    )
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == 7).first()["embedding"]
    ]
    path = str(tmp_path / "ivf_idx")
    r0 = ivf_index_append(emb.where(F.col("vec_id") % 2 == 0), path, 0)
    assert r0["drift_ratio"] == pytest.approx(1.0)  # creation baseline
    c0 = sorted(
        map(tuple, spark.read.parquet(f"{path}/centroids").collect())
    )
    r1 = ivf_index_append(emb.where(F.col("vec_id") % 2 == 1), path, 1)
    c1 = sorted(
        map(tuple, spark.read.parquet(f"{path}/centroids").collect())
    )
    assert c0 == c1  # frozen quantizer
    # probe equals in-memory ivf_topk under the STORED centroids
    centroids = np.asarray(
        [
            list(r["c"])
            for r in spark.read.parquet(f"{path}/centroids")
            .orderBy("cell")
            .collect()
        ]
    )
    want = sorted(
        map(tuple, ivf_topk(emb, q, centroids, k=10, nprobe=4).collect())
    )
    got = sorted(
        map(tuple, ivf_index_topk(spark, path, q, k=10, nprobe=4).collect())
    )
    assert got == want
    # idempotent replay
    ivf_index_append(emb.where(F.col("vec_id") % 2 == 1), path, 1)
    assert sorted(
        map(tuple, ivf_index_topk(spark, path, q, k=10, nprobe=4).collect())
    ) == want
    # interleaved (mod-2) batches: the fold is active in the plan
    plan = ivf_index_topk(
        spark, path, q, k=10, nprobe=4
    )._jdf.queryExecution().analyzed().toString()
    assert "max_by" in plan
    # drift: log-only report is ~baseline before the shifted batch
    rep = ivf_drift_report(spark, path)
    assert rep["batches_logged"] == 2 and not rep["refit_recommended"]
    shifted = emb.where(F.col("vec_id") % 2 == 1).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda v: v * 10 + 5).alias("embedding"),
    )
    r2 = ivf_index_append(shifted, path, 2)
    assert r2["drift_ratio"] > 1.5
    for mode in ("off", "full", "sample"):
        rep = ivf_drift_report(
            spark, path, live=mode, sample_fraction=0.5
        )
        assert rep["refit_recommended"], mode
    with pytest.raises(ValueError):
        ivf_drift_report(spark, path, live="nope")
    # refit resets the baseline and keeps the self-hit
    rdst = str(tmp_path / "ivf_refit")
    ivf_index_refit(spark, path, rdst)
    rlive = bm25_index_current(spark, rdst)
    rep = ivf_drift_report(spark, rlive, live="full")
    assert rep["drift_ratio"] == pytest.approx(1.0)
    top = ivf_index_topk(spark, rlive, q, k=5, nprobe=16).collect()
    assert top[0].vec_id == 7
    # re-delivery with a changed vector: compact folds latest-wins
    upd = emb.where(F.col("vec_id") == 7).select(
        "vec_id",
        F.transform("embedding", lambda v: -v).alias("embedding"),
    )
    import shutil

    shutil.rmtree(f"{path}/rows/batch=2")  # drop the drift batch
    shutil.rmtree(f"{path}/drift/batch=2")
    shutil.rmtree(f"{path}/rows_manifest/batch=2")
    ivf_index_append(upd, path, 3)
    dst = str(tmp_path / "ivf_pub")
    ivf_index_compact(spark, path, dst)
    live = bm25_index_current(spark, dst)
    rows = spark.read.parquet(f"{live}/rows")
    assert rows.count() == rows.select("vec_id").distinct().count() == 300
    got2 = {
        r.vec_id: r.cosine
        for r in ivf_index_topk(spark, live, q, k=300, nprobe=16).collect()
    }
    assert got2[7] == pytest.approx(-1.0, abs=1e-5)  # latest vector won
    # the compacted manifest carries a CORRECT batch=0 row (ADVICE
    # r14: the positional-tuple + read-back-schema write landed it
    # under batch=<n_rows> with garbage min/max, so the disjoint fast
    # path never engaged post-compaction)
    man = spark.read.parquet(f"{live}/rows_manifest").collect()
    assert len(man) == 1
    m0 = man[0]
    assert (
        int(m0["batch"]) == 0
        and int(m0["min_id"]) == 0
        and int(m0["max_id"]) == 299
        and int(m0["n_rows"]) == 300
    )
    # ...and a disjoint post-compaction append keeps the fast path
    nxt = emb.where(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 2000000).alias("vec_id"), "embedding"
    )
    ivf_index_append(nxt, live, 1)
    plan2 = (
        ivf_index_topk(spark, live, q, k=10, nprobe=4)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "max_by" not in plan2


def test_ivf_disjoint_batches_skip_fold(spark, tmp_path):
    """Disjoint-range IVF appends prove no re-delivery, so the probe
    skips the latest-wins fold (max_by absent); a pre-manifest tree
    keeps it."""
    import shutil

    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").where(
        F.col("vec_id") < 300
    )
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == 7).first()["embedding"]
    ]
    path = str(tmp_path / "ivf_disjoint")
    ivf_index_append(emb.where(F.col("vec_id") < 150), path, 0)
    ivf_index_append(emb.where(F.col("vec_id") >= 150), path, 1)
    df = ivf_index_topk(spark, path, q, k=10, nprobe=4)
    assert "max_by" not in df._jdf.queryExecution().analyzed().toString()
    want = sorted(map(tuple, df.collect()))
    shutil.rmtree(f"{path}/rows_manifest")
    df2 = ivf_index_topk(spark, path, q, k=10, nprobe=4)
    assert "max_by" in df2._jdf.queryExecution().analyzed().toString()
    assert sorted(map(tuple, df2.collect())) == want


def test_srp_index_lifecycle(spark, tmp_path):
    """The SRP append/probe/compact lifecycle (round 15 — the last
    index family to gain O(batch) appends): the plane identity
    freezes in meta before any rows, appends are per-row and
    idempotent, the self-contained probe equals the one-shot
    srp_topk_at_rest under the same planes, mismatched append params
    raise, compaction folds re-delivered ids latest-wins and lands a
    correct batch-0 manifest, and disjoint-range appends skip the
    fold."""
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_index_current,
    )
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        srp_index_append,
        srp_index_compact,
        srp_index_topk,
        srp_index_write,
        srp_topk_at_rest,
    )

    emb = load_table(spark, SF_DIR, "embeddings").where(
        F.col("vec_id") < 300
    )
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == 7).first()["embedding"]
    ]
    path = str(tmp_path / "srp_inc")
    r0 = srp_index_append(emb.where(F.col("vec_id") % 2 == 0), path, 0)
    assert r0 == {"batch": 0, "n_rows": 150}
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    assert (meta["dim"], meta["bits_per_table"], meta["n_tables"]) == (
        64, 4, 8,
    )
    srp_index_append(emb.where(F.col("vec_id") % 2 == 1), path, 1)
    # probe equals the ONE-SHOT at-rest probe (same planes/params)
    one = str(tmp_path / "srp_oneshot")
    srp_index_write(emb, dim=64, path=one)
    want = sorted(
        map(tuple, srp_topk_at_rest(spark, one, q, dim=64, k=10).collect())
    )
    got = sorted(map(tuple, srp_index_topk(spark, path, q, k=10).collect()))
    assert got == want
    # interleaved (mod-2) batches: the fold is active in the plan
    plan = (
        srp_index_topk(spark, path, q, k=10)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "max_by" in plan
    # idempotent replay
    srp_index_append(emb.where(F.col("vec_id") % 2 == 1), path, 1)
    assert (
        sorted(map(tuple, srp_index_topk(spark, path, q, k=10).collect()))
        == want
    )
    # frozen plane identity: a mismatched append raises
    with pytest.raises(ValueError, match="bucket"):
        srp_index_append(emb, path, 2, bits_per_table=8, n_tables=4)
    # re-delivery with a changed vector: compact folds latest-wins
    upd = emb.where(F.col("vec_id") == 7).select(
        "vec_id",
        F.transform("embedding", lambda v: -v).alias("embedding"),
    )
    srp_index_append(upd, path, 3)
    dst = str(tmp_path / "srp_pub")
    srp_index_compact(spark, path, dst)
    live = bm25_index_current(spark, dst)
    rows = spark.read.parquet(f"{live}/rows")
    assert rows.count() == 300 * 8  # one row per (vector, table)
    assert rows.select("vec_id").distinct().count() == 300
    # batch-0 manifest counts VECTORS with a correct id range
    man = spark.read.parquet(f"{live}/rows_manifest").collect()
    assert len(man) == 1 and (
        int(man[0]["batch"]),
        int(man[0]["min_id"]),
        int(man[0]["max_id"]),
        int(man[0]["n_rows"]),
    ) == (0, 0, 299, 300)
    # the folded tree serves the LATEST vector for the updated id:
    # its negated embedding is the exact opposite of the query, so if
    # any candidate bucket still matches, cosine must be -1 — and the
    # stale +1 row must be gone everywhere
    got2 = {
        r.vec_id: r.cosine
        for r in srp_index_topk(spark, live, q, k=300).collect()
    }
    assert got2.get(7, -1.0) == pytest.approx(-1.0, abs=1e-5)
    # compacted single batch probes without the fold
    plan2 = (
        srp_index_topk(spark, live, q, k=10)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "max_by" not in plan2


def test_srp_disjoint_batches_skip_fold(spark, tmp_path):
    """Disjoint-range SRP appends prove no re-delivery, so the probe
    takes the plain per-id dedup (max_by absent); dropping the
    manifest re-arms the fold with identical results."""
    import shutil

    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        srp_index_append,
        srp_index_topk,
    )

    emb = load_table(spark, SF_DIR, "embeddings").where(
        F.col("vec_id") < 300
    )
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == 7).first()["embedding"]
    ]
    path = str(tmp_path / "srp_disjoint")
    srp_index_append(emb.where(F.col("vec_id") < 150), path, 0)
    srp_index_append(emb.where(F.col("vec_id") >= 150), path, 1)
    df = srp_index_topk(spark, path, q, k=10)
    assert "max_by" not in df._jdf.queryExecution().analyzed().toString()
    want = sorted(map(tuple, df.collect()))
    shutil.rmtree(f"{path}/rows_manifest")
    df2 = srp_index_topk(spark, path, q, k=10)
    assert "max_by" in df2._jdf.queryExecution().analyzed().toString()
    assert sorted(map(tuple, df2.collect())) == want


def test_append_manifest_fails_closed_on_partial_replay(spark, tmp_path):
    """ADVICE r14: every index append drops its batch's manifest row
    BEFORE rewriting rows, so a replay interrupted between the two
    leaves the batch missing from the manifest and _batches_disjoint
    assumes overlap — the fold/guard runs instead of trusting a stale
    range."""
    import shutil

    from pyspark_airflow_weather_etl_spark.operators.lifecycle import (
        _batches_disjoint,
        _drop_manifest_row,
    )
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        srp_index_append,
    )

    emb = load_table(spark, SF_DIR, "embeddings").where(
        F.col("vec_id") < 300
    )
    path = str(tmp_path / "srp_crash")
    srp_index_append(emb.where(F.col("vec_id") < 150), path, 0)
    srp_index_append(emb.where(F.col("vec_id") >= 150), path, 1)
    assert _batches_disjoint(
        spark, f"{path}/rows", f"{path}/rows_manifest",
        "min_id", "max_id", "n_rows",
    )
    # simulate the crash window: manifest row dropped (as the replay
    # does first), rows partially rewritten, job dies before the new
    # manifest row lands
    _drop_manifest_row(spark, f"{path}/rows_manifest", 1)
    assert not _batches_disjoint(
        spark, f"{path}/rows", f"{path}/rows_manifest",
        "min_id", "max_id", "n_rows",
    )
    # a completed replay restores the fast path
    srp_index_append(emb.where(F.col("vec_id") >= 150), path, 1)
    assert _batches_disjoint(
        spark, f"{path}/rows", f"{path}/rows_manifest",
        "min_id", "max_id", "n_rows",
    )
    # idempotent no-op on a missing row / missing tree
    _drop_manifest_row(spark, f"{path}/rows_manifest", 99)
    shutil.rmtree(f"{path}/rows_manifest")
    _drop_manifest_row(spark, f"{path}/rows_manifest", 0)


def test_ivf_fixed_lifecycle_fold_semantics(spark, tmp_path):
    """ivf_index_append_fixed / ivf_index_topk_fixed — the hash-exact
    append-lifecycle twin (VERDICT r14 #3): frozen fixed centroids,
    integer assignment, a REAL latest-wins fold (re-delivered id with
    a negated vector), replay idempotency, and the prune-before-fold
    contract."""
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        ivf_index_append_fixed,
        ivf_index_topk_fixed,
    )

    emb = load_table(spark, SF_DIR, "embeddings").where(
        F.col("vec_id") < 300
    )
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == 7).first()["embedding"]
    ]
    path = str(tmp_path / "ivf_fixed")
    r0 = ivf_index_append_fixed(emb.where(F.col("vec_id") % 2 == 0), path, 0)
    assert r0 == {"batch": 0, "n_rows": 150}
    c0 = sorted(
        map(tuple, spark.read.parquet(f"{path}/centroids").collect())
    )
    assert len(c0) == 8  # lowest 8 ids of the creation batch
    assert [c[0] for c in c0] == [0, 2, 4, 6, 8, 10, 12, 14]
    upd = emb.where((F.col("vec_id") % 2 == 0) & (F.col("vec_id") < 40)).select(
        "vec_id", F.transform("embedding", lambda v: -v).alias("embedding")
    )
    b1 = (
        emb.where(F.col("vec_id") % 2 == 1)
        .select("vec_id", "embedding")
        .unionByName(upd)
    )
    ivf_index_append_fixed(b1, path, 1)
    # frozen quantizer
    assert c0 == sorted(
        map(tuple, spark.read.parquet(f"{path}/centroids").collect())
    )
    df = ivf_index_topk_fixed(spark, path, q, k=300, nprobe=8)
    # interleaved + re-delivered: the fold is active in the plan
    assert "max_by" in df._jdf.queryExecution().analyzed().toString()
    got = {r.vec_id: r.cosine for r in df.collect()}
    # nprobe=8 == all cells: every re-delivered id serves its LATEST
    # (negated) vector — cosine is the exact negation of the original
    for vid in (0, 2, 38):
        base = [
            float(x)
            for x in emb.where(F.col("vec_id") == vid).first()["embedding"]
        ]
        import math as m

        dot_ = sum(a * b for a, b in zip(base, q))
        na = m.sqrt(sum(a * a for a in base))
        nq = m.sqrt(sum(a * a for a in q))
        assert got[vid] == pytest.approx(-round(dot_ / (na * nq), 6), abs=2e-6)
    # replay idempotency
    want = sorted(map(tuple, df.collect()))
    ivf_index_append_fixed(b1, path, 1)
    assert (
        sorted(
            map(
                tuple,
                ivf_index_topk_fixed(spark, path, q, k=300, nprobe=8)
                .collect(),
            )
        )
        == want
    )


def test_completed_replay_replaces_stale_subpartitions(spark, tmp_path):
    """Round-15 review: dynamic overwrite only replaces the leaf
    partitions PRESENT in the new data, so a batch re-delivered to
    completion with a DIFFERENT id set would keep its old rows in the
    untouched t=/bucket= (or ivf_cell=) leaves — next to a fresh
    manifest row whose range falsely 'proves' them away. The appends
    now drop the whole batch dir first: a completed replay is a true
    replacement."""
    from pyspark_airflow_weather_etl_spark.operators.lifecycle import (
        _batches_disjoint,
    )
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        srp_index_append,
        srp_index_topk,
    )

    emb = load_table(spark, SF_DIR, "embeddings").where(
        F.col("vec_id") < 300
    )
    path = str(tmp_path / "srp_replay")
    srp_index_append(emb.where(F.col("vec_id") < 150), path, 0)
    srp_index_append(
        emb.where((F.col("vec_id") >= 150) & (F.col("vec_id") < 200)),
        path,
        1,
    )
    # corrected delivery of batch 1: a DIFFERENT, disjoint id set
    srp_index_append(emb.where(F.col("vec_id") >= 200), path, 1)
    b1_ids = {
        r.vec_id
        for r in spark.read.parquet(f"{path}/rows")
        .where(F.col("batch") == 1)
        .select("vec_id")
        .distinct()
        .collect()
    }
    assert b1_ids == set(range(200, 300))  # no stale 150-199 rows
    assert _batches_disjoint(
        spark, f"{path}/rows", f"{path}/rows_manifest",
        "min_id", "max_id", "n_rows",
    )
    # and the probe serves exactly the union of the live deliveries
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == 7).first()["embedding"]
    ]
    got_ids = {
        r.vec_id for r in srp_index_topk(spark, path, q, k=300).collect()
    }
    assert got_ids <= (set(range(150)) | set(range(200, 300)))


def test_ivf_fixed_scale_frozen_in_meta(spark, tmp_path):
    """Round-15 review: the fixed twin's quantizer identity
    (n_centroids, scale) freezes in meta — mismatched appends raise
    and the probe reads scale from the index, not the caller."""
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        ivf_index_append_fixed,
        ivf_index_topk_fixed,
    )

    emb = load_table(spark, SF_DIR, "embeddings").where(
        F.col("vec_id") < 100
    )
    path = str(tmp_path / "ivf_fixed_meta")
    ivf_index_append_fixed(emb, path, 0, scale=100)
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    assert (int(meta["n_centroids"]), int(meta["scale"])) == (8, 100)
    with pytest.raises(ValueError, match="quantize"):
        ivf_index_append_fixed(emb, path, 1, scale=1000)
    with pytest.raises(ValueError, match="quantize"):
        ivf_index_append_fixed(emb, path, 1, n_centroids=4, scale=100)
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == 7).first()["embedding"]
    ]
    top = ivf_index_topk_fixed(spark, path, q, k=5, nprobe=8).collect()
    assert top[0].vec_id == 7  # self-hit under the stored scale


def test_semantic_append_replay_replaces_across_cells(spark, tmp_path):
    """The semantic index's cell-first layout
    (rows/ivf_cell=/batch=) has batch as the LEAF, so the round-15
    stale-leaf fix must glob the batch's dirs across ALL cells: a
    completed different-content replay leaves exactly the corrected
    rows, in their own cells."""
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        semantic_centroids_write_fixed,
        semantic_index_append_fixed,
    )

    emb = load_table(spark, SF_DIR, "embeddings").where(
        F.col("vec_id") < 200
    )
    path = str(tmp_path / "sem_replay")
    semantic_centroids_write_fixed(emb, path)
    semantic_index_append_fixed(emb.where(F.col("vec_id") < 100), path, 0)
    semantic_index_append_fixed(
        emb.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 150)),
        path,
        1,
    )
    # corrected delivery of batch 1: a different id set (and thus a
    # different cell spread)
    semantic_index_append_fixed(emb.where(F.col("vec_id") >= 150), path, 1)
    rows = spark.read.parquet(f"{path}/rows")
    b1 = {
        r.vec_id
        for r in rows.where(F.col("batch") == 1)
        .select("vec_id")
        .distinct()
        .collect()
    }
    assert b1 == set(range(150, 200))  # no stale 100-149 rows anywhere
    assert rows.count() == 150


def test_srp_fixed_lifecycle_fold_semantics(spark, tmp_path):
    """srp_index_append_fixed / srp_index_topk_fixed — the SRP
    edition of the hash-exact lifecycle twin: frozen integer-plane
    identity (mismatched appends raise), a real latest-wins fold
    (negated re-delivery), replay idempotency, and the disjoint
    fast path."""
    import shutil

    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        srp_index_append_fixed,
        srp_index_topk_fixed,
    )

    emb = load_table(spark, SF_DIR, "embeddings").where(
        F.col("vec_id") < 300
    )
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == 7).first()["embedding"]
    ]
    path = str(tmp_path / "srp_fixed")
    r0 = srp_index_append_fixed(emb.where(F.col("vec_id") % 2 == 0), path, 0)
    assert r0 == {"batch": 0, "n_rows": 150}
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    assert (
        meta["dim"], meta["bits_per_table"], meta["n_tables"], meta["scale"]
    ) == (64, 4, 8, 1000)
    with pytest.raises(ValueError, match="bucket"):
        srp_index_append_fixed(emb, path, 1, scale=100)
    upd = emb.where(
        (F.col("vec_id") % 2 == 0) & (F.col("vec_id") < 40)
    ).select(
        "vec_id", F.transform("embedding", lambda v: -v).alias("embedding")
    )
    b1 = (
        emb.where(F.col("vec_id") % 2 == 1)
        .select("vec_id", "embedding")
        .unionByName(upd)
    )
    srp_index_append_fixed(b1, path, 1)
    df = srp_index_topk_fixed(spark, path, q, k=300)
    assert "max_by" in df._jdf.queryExecution().analyzed().toString()
    got = {r.vec_id: r.cosine for r in df.collect()}
    # every re-delivered id that still buckets with the query serves
    # its LATEST (negated) vector
    import math as m

    for vid in (vid for vid in (0, 2, 38) if vid in got):
        base = [
            float(x)
            for x in emb.where(F.col("vec_id") == vid).first()["embedding"]
        ]
        dot_ = sum(a * b for a, b in zip(base, q))
        na = m.sqrt(sum(a * a for a in base))
        nq = m.sqrt(sum(a * a for a in q))
        assert got[vid] == pytest.approx(
            -round(dot_ / (na * nq), 6), abs=2e-6
        )
    # replay idempotency
    want = sorted(map(tuple, df.collect()))
    srp_index_append_fixed(b1, path, 1)
    assert (
        sorted(
            map(tuple, srp_index_topk_fixed(spark, path, q, k=300).collect())
        )
        == want
    )
    # disjoint geometry skips the fold
    dpath = str(tmp_path / "srp_fixed_disj")
    srp_index_append_fixed(emb.where(F.col("vec_id") < 150), dpath, 0)
    srp_index_append_fixed(emb.where(F.col("vec_id") >= 150), dpath, 1)
    df2 = srp_index_topk_fixed(spark, dpath, q, k=10)
    assert "max_by" not in df2._jdf.queryExecution().analyzed().toString()
    want2 = sorted(map(tuple, df2.collect()))
    shutil.rmtree(f"{dpath}/rows_manifest")
    df3 = srp_index_topk_fixed(spark, dpath, q, k=10)
    assert "max_by" in df3._jdf.queryExecution().analyzed().toString()
    assert sorted(map(tuple, df3.collect())) == want2


def test_srp_compact_works_on_fixed_twin_tree(spark, tmp_path):
    """srp_index_compact is layout-driven (id, vec, t, bucket, batch
    + meta copied verbatim), so the fixed twin's tree compacts through
    the same code path: folded probe identical, single batch, correct
    vector-count manifest."""
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_index_current,
    )
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        srp_index_append_fixed,
        srp_index_compact,
        srp_index_topk_fixed,
    )

    emb = load_table(spark, SF_DIR, "embeddings").where(
        F.col("vec_id") < 200
    )
    path = str(tmp_path / "srp_fixed_src")
    srp_index_append_fixed(emb.where(F.col("vec_id") % 2 == 0), path, 0)
    srp_index_append_fixed(emb.where(F.col("vec_id") % 2 == 1), path, 1)
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == 7).first()["embedding"]
    ]
    want = sorted(
        map(tuple, srp_index_topk_fixed(spark, path, q, k=10).collect())
    )
    dst = str(tmp_path / "srp_fixed_dst")
    srp_index_compact(spark, path, dst)
    live = bm25_index_current(spark, dst)
    assert (
        sorted(
            map(tuple, srp_index_topk_fixed(spark, live, q, k=10).collect())
        )
        == want
    )
    man = spark.read.parquet(f"{live}/rows_manifest").collect()
    assert len(man) == 1 and (
        int(man[0]["batch"]),
        int(man[0]["n_rows"]),
    ) == (0, 200)
    meta = spark.read.parquet(f"{live}/meta").collect()[0]
    assert int(meta["scale"]) == 1000  # identity copied verbatim


def test_fixed_ivf_never_regenerates_centroids(spark, tmp_path):
    """Round-15 second review: an existing fixed-IVF tree must NEVER
    have its centroids regenerated from a later batch (the centroids
    ARE the index identity). A centroids-without-meta artifact
    refuses loudly; a creation crash between the meta and centroids
    writes self-heals (meta is written first, centroids are the
    creation marker)."""
    import shutil

    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        ivf_index_append_fixed,
        ivf_index_topk_fixed,
    )

    emb = load_table(spark, SF_DIR, "embeddings").where(
        F.col("vec_id") < 100
    )
    path = str(tmp_path / "ivf_nometa")
    ivf_index_append_fixed(emb, path, 0)
    shutil.rmtree(f"{path}/meta")
    with pytest.raises(ValueError, match="centroids but no meta"):
        ivf_index_append_fixed(emb, path, 1)
    # meta-only tree (creation crash before centroids): recreates
    path2 = str(tmp_path / "ivf_metaonly")
    ivf_index_append_fixed(emb, path2, 0)
    c0 = sorted(
        map(tuple, spark.read.parquet(f"{path2}/centroids").collect())
    )
    shutil.rmtree(f"{path2}/centroids")
    shutil.rmtree(f"{path2}/rows")
    shutil.rmtree(f"{path2}/rows_manifest")
    ivf_index_append_fixed(emb, path2, 0)
    assert (
        sorted(map(tuple, spark.read.parquet(f"{path2}/centroids").collect()))
        == c0
    )
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == 7).first()["embedding"]
    ]
    assert (
        ivf_index_topk_fixed(spark, path2, q, k=1, nprobe=8).collect()[0]
        .vec_id
        == 7
    )


def test_drop_batch_dirs_literal_paths_with_glob_metachars(
    spark, tmp_path
):
    """Round-15 second review: _drop_batch_dirs must delete LITERAL
    paths literally — a '[1]' in a caller's path is not a character
    class (globStatus would no-op and silently reopen the replay
    window); '*' opts into globbing for the cell-first layout."""
    import os

    from pyspark_airflow_weather_etl_spark.operators.lifecycle import (
        _drop_batch_dirs,
    )

    base = tmp_path / "run[1]" / "idx" / "rows" / "batch=2"
    base.mkdir(parents=True)
    (base / "part.parquet").write_text("x")
    _drop_batch_dirs(spark, 2, str(tmp_path / "run[1]" / "idx" / "rows"))
    assert not base.exists()
    # glob form still works for nested layouts
    for c in (0, 3):
        d = tmp_path / "sem" / "rows" / f"ivf_cell={c}" / "batch=1"
        d.mkdir(parents=True)
        (d / "p").write_text("x")
    _drop_batch_dirs(spark, 1, str(tmp_path / "sem" / "rows" / "ivf_cell=*"))
    assert not os.path.exists(
        str(tmp_path / "sem" / "rows" / "ivf_cell=0" / "batch=1")
    )
    assert not os.path.exists(
        str(tmp_path / "sem" / "rows" / "ivf_cell=3" / "batch=1")
    )


def test_srp_kind_marker_prevents_quantizer_mixing(spark, tmp_path):
    """Round-15 second review: the Gaussian lifecycle and the fixed
    twin share one tree layout, so appends and probes check the meta
    ``kind`` marker — mixing flavors would merge signatures hashed
    under DIFFERENT planes into buckets the other probe never prunes
    to."""
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        srp_index_append,
        srp_index_append_fixed,
        srp_index_topk,
        srp_index_topk_fixed,
    )

    emb = load_table(spark, SF_DIR, "embeddings").where(
        F.col("vec_id") < 100
    )
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == 7).first()["embedding"]
    ]
    fixed = str(tmp_path / "srp_kind_fixed")
    srp_index_append_fixed(emb, fixed, 0)
    with pytest.raises(ValueError, match="quantizer"):
        srp_index_append(emb, fixed, 1)
    with pytest.raises(ValueError, match="quantizer"):
        srp_index_topk(spark, fixed, q, k=5)
    gauss = str(tmp_path / "srp_kind_gauss")
    srp_index_append(emb, gauss, 0)
    with pytest.raises(ValueError, match="quantizer"):
        srp_index_append_fixed(emb, gauss, 1)
    with pytest.raises(ValueError, match="quantizer"):
        srp_index_topk_fixed(spark, gauss, q, k=5)
    # matching flavors still work
    assert srp_index_topk_fixed(spark, fixed, q, k=1).collect()[0].vec_id == 7
    assert srp_index_topk(spark, gauss, q, k=1).collect()[0].vec_id == 7


def test_srp_plane_packing_limit_raises_everywhere(spark, tmp_path):
    """ADVICE r15: beyond 64 planes the uint64 signature packing
    silently drops the high bits (1 << i wraps) while the driver-side
    Python qbits keeps them — corpus signatures and query predicates
    would diverge. Every SRP entry point must refuse
    bits_per_table * n_tables > 64 before writing or probing
    anything."""
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        srp_index_append,
        srp_index_append_fixed,
        srp_index_write,
        srp_signature,
        srp_signature_fixed,
        srp_topk,
        srp_topk_at_rest,
    )

    emb = load_table(spark, SF_DIR, "embeddings").where(F.col("vec_id") < 20)
    q = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    path = str(tmp_path / "srp_never")
    for fn in (
        lambda: srp_index_append(
            emb, path, 0, bits_per_table=16, n_tables=8
        ),
        lambda: srp_index_append_fixed(
            emb, path, 0, bits_per_table=16, n_tables=8
        ),
        lambda: srp_index_write(
            emb, 64, path, bits_per_table=16, n_tables=8
        ),
        lambda: srp_topk(emb, q, 64, bits_per_table=16, n_tables=8),
        lambda: srp_topk_at_rest(
            spark, path, q, 64, bits_per_table=16, n_tables=8
        ),
        lambda: srp_signature(emb, 64, n_planes=80),
        lambda: srp_signature_fixed(emb, 64, n_planes=80),
    ):
        with pytest.raises(ValueError, match="64"):
            fn()
    # nothing was written: the guard fires before any filesystem write
    import os

    assert not os.path.exists(path)


def test_srp_append_refuses_rows_without_meta(spark, tmp_path):
    """ADVICE r15: a tree whose meta subtree is missing but whose
    rows exist (partial copy, manual meta deletion) must NOT be
    treated as new — a fresh meta with the caller's parameters would
    merge the batch into rows bucketed under possibly different plane
    identity, exactly the mixed-parameter corruption the meta check
    exists to prevent."""
    import shutil

    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        srp_index_append,
        srp_index_append_fixed,
    )

    emb = load_table(spark, SF_DIR, "embeddings").where(F.col("vec_id") < 50)
    for append in (srp_index_append, srp_index_append_fixed):
        path = str(tmp_path / f"srp_no_meta_{append.__name__}")
        append(emb, path, 0)
        shutil.rmtree(f"{path}/meta")
        with pytest.raises(ValueError, match="rows but no meta"):
            append(emb, path, 1)


def test_srp_compact_duplicate_in_batch_keeps_row_consistency(
    spark, tmp_path
):
    """ADVICE r15: when ONE batch carries duplicate rows for the same
    id with different vectors, the compaction's latest-wins fold ties
    on batch — vector and bucket must still come from the SAME winning
    row (one max_by over a struct), or a later probe would prune the
    stored vector into the wrong (t, bucket) partition. Pinned by
    recomputing every stored vector's signature and asserting the
    stored bucket matches it, whichever duplicate won."""
    from pyspark_airflow_weather_etl_spark.operators.retrieval import (
        bm25_index_current,
    )
    from pyspark_airflow_weather_etl_spark.operators.similarity import (
        _srp_table_structs,
        srp_index_append,
        srp_index_compact,
        srp_signature,
    )

    emb = load_table(spark, SF_DIR, "embeddings").where(F.col("vec_id") < 60)
    dup = emb.where(F.col("vec_id") < 8).select(
        "vec_id", F.transform("embedding", lambda v: -v).alias("embedding")
    )
    # ids 0..7 appear TWICE in batch 0 (original + negated duplicate)
    srp_index_append(
        emb.select("vec_id", "embedding").unionByName(dup),
        str(tmp_path / "t"),
        0,
    )
    srp_index_compact(
        spark, str(tmp_path / "t"), str(tmp_path / "pub")
    )
    live = bm25_index_current(spark, str(tmp_path / "pub"))
    rows = spark.read.parquet(f"{live}/rows")
    # recompute the winning vectors' true (t, bucket) pairs and compare
    # against what compaction persisted, row by row
    stored = rows.select("vec_id", "embedding", "t", "bucket")
    resig = (
        srp_signature(
            stored.select("vec_id", "t", "embedding"), 64, 32, "embedding"
        )
        .select(
            "vec_id",
            "t",
            F.explode(_srp_table_structs(4, 8)).alias("tb"),
        )
        .where(F.col("t") == F.col("tb.t"))
        .select("vec_id", "t", F.col("tb.bucket").alias("true_bucket"))
    )
    bad = (
        stored.join(resig, ["vec_id", "t"])
        .where(F.col("bucket") != F.col("true_bucket"))
        .count()
    )
    assert bad == 0
