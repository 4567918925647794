"""Streaming crawl dedup against a GROWING at-rest signature index —
the full production loop: every arriving batch of documents is checked
for near-duplicates (a) against everything that came before, through
the persisted signature index, and (b) within itself; then its own
signatures are appended to the index, becoming "history" for the next
batch. Per-batch cost is O(batch + collisions) — the historical corpus
is only ever touched through its at-rest signatures/shingles, never
re-hashed (operators.dedup.portable_minhash_index economics at
streaming latency).

Exactness: every unordered near-dup pair is emitted EXACTLY ONCE — a
within-batch pair when its batch processes, a cross-batch pair when
the LATER member arrives (the earlier one is in the index by then;
the index grows monotonically, so no pair can be seen twice or
missed). Orientation is normalized to ``id_a < id_b``, which makes
the union of all emitted pairs equal to the one-shot batch pipeline
``portable_minhash_pairs`` over the full corpus REGARDLESS of file
arrival order — the property the catalog entry hash-checks against
the same DuckDB oracle as ``minhash_lsh_portable_pairs`` and
tests/test_streaming.py asserts under a permuted arrival order.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    _portable_hashed,
    _portable_sig,
    portable_minhash_dedup_incremental,
    portable_minhash_pairs,
)
from ..operators.lifecycle import path_exists
from ..sources import rawstore

_run_ids = itertools.count()

PAIRS_SCHEMA = "id_a long, id_b long, jaccard double"


def run_streaming_incremental_dedup(
    spark: SparkSession,
    docs_path: str,
    index_path: str,
    pairs_path: str,
    schema,
    checkpoint_dir: str | None = None,
    threshold: float = 0.5,
    max_files_per_trigger: int = 1,
) -> None:
    """Tail ``docs_path`` for document files; per micro-batch emit
    normalized near-dup pairs to ``pairs_path`` (append) and fold the
    batch's signatures into ``index_path``. ``availableNow`` drains
    the currently-available files batch-by-batch (respecting
    ``maxFilesPerTrigger``); a live deployment drops the trigger and
    the same query tails the landing path forever. With
    ``checkpoint_dir`` set, restarts resume from committed offsets.

    Crash-replay idempotency (ADVICE r8): the index append is
    batch-keyed — each batch's signatures land in
    ``index_path/batch=<batch_id>`` with ``mode('overwrite')``, so a
    batch replayed after a crash between the pairs write and the
    checkpoint commit OVERWRITES its own partition instead of
    double-appending (duplicated index rows would otherwise make
    every FUTURE batch's verify join emit duplicated pairs forever).
    The replaying batch's own partition is also EXCLUDED from the
    cross-batch index read (partition-pruned ``batch != batch_id``
    filter) — otherwise a replay would find its own crashed-attempt
    signatures as "history" and emit self/mirrored pairs. Pairs
    replay stays at-least-once (re-emitted rows are byte-identical;
    downstream dedups by key), the standard foreachBatch contract —
    tests/test_streaming.py asserts a replayed batch leaves the
    index and all future batches' pairs unchanged."""
    from ..session import streaming_session

    spark = streaming_session(spark)

    def process(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        within = portable_minhash_pairs(
            batch, "doc_id", "text", threshold
        ).select("id_a", "id_b", "jaccard")
        out = within
        if path_exists(s, index_path) or path_exists(
            s, rawstore.sealed_root(index_path)
        ):
            # sealed ∪ unsealed-live view of the signature index —
            # identical to a plain read until rawstore.seal_batches
            # compacts old batch= partitions; the ledger keeps a
            # crash-replay's re-created live copy of a sealed batch
            # from double-counting.
            idx = rawstore.read_raw_store(s, index_path)
            if "batch" in idx.columns:  # batch-keyed layout
                idx = idx.where(F.col("batch") != batch_id)
            cross = portable_minhash_dedup_incremental(
                batch, idx, "doc_id", "text", threshold
            ).select(
                F.least("corpus_id", "new_id").alias("id_a"),
                F.greatest("corpus_id", "new_id").alias("id_b"),
                "jaccard",
            )
            out = out.unionByName(cross)
        # Materialize pairs BEFORE the index write below — out's
        # incremental branch READS index_path, so it must be fully
        # written before this batch's signatures land there.
        out.write.mode("append").parquet(pairs_path)
        (
            _portable_hashed(batch, "doc_id", "text", 3)
            .withColumn("sig", _portable_sig())
            .write.mode("overwrite")
            .parquet(f"{index_path}/batch={batch_id}")
        )

    name = f"inc_dedup_{next(_run_ids)}"
    writer = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(docs_path)
        .writeStream.foreachBatch(process)
        .outputMode("append")
        .queryName(name)
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    try:
        q.awaitTermination()
    finally:
        q.stop()


def read_emitted_pairs(spark: SparkSession, pairs_path: str) -> DataFrame:
    """All pairs emitted so far (explicit schema: the path may hold
    only _SUCCESS markers when nothing collided)."""
    return spark.read.schema(PAIRS_SCHEMA).parquet(pairs_path)
