"""Streaming pseudonymization against a GROWING identity vault — the
privacy loop at ingest latency: every arriving batch of events (1)
folds its never-seen natural keys into the persisted vault
(:func:`..operators.governance.vault_extend` — new keys rank past the
current max, existing surrogates NEVER remap), then (2) lands the
batch re-keyed onto surrogates, batch-keyed for replay idempotency.
Raw natural keys exist only inside the micro-batch and the vault —
nothing downstream of the sink ever sees one.

Crash-replay idempotency, both halves:
- vault: a replayed batch's keys are already mapped, so the anti-join
  finds nothing new and the vault republishes unchanged (the extend
  is a fixpoint on replay); a crash BETWEEN the vault publish and the
  output write replays into the same fixpoint.
- output: rows land under ``out_path/batch=<id>`` with dynamic
  overwrite — the replay overwrites its own partition (the raw-store
  idiom; :mod:`..sources.rawstore` can seal old batches later).

Determinism: surrogate assignment is a pure function of (arrival
order of first appearance, key) — batch by batch, new keys extend in
key order. For a FIXED batch decomposition the mapping is therefore
fully deterministic, which is what lets the catalog entry hash-match
a DuckDB replay of first-seen-batch + key rank.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.governance import pseudonymize, vault_extend
from ..operators.lifecycle import _write_batch_keyed

_run_ids = itertools.count()


def run_streaming_pseudonymize(
    spark: SparkSession,
    event_path: str,
    vault_path: str,
    out_path: str,
    schema,
    key_col: str = "user_id",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 1,
) -> None:
    """Tail ``event_path``; per micro-batch extend the vault with new
    keys, then land the pseudonymized batch under
    ``out_path/batch=<id>``."""
    from ..session import streaming_session

    spark = streaming_session(spark)

    def process(batch: DataFrame, batch_id: int) -> None:
        bs = batch.sparkSession
        vault = vault_extend(bs, vault_path, batch, key_col)
        out = pseudonymize(batch, vault, key_col).withColumn(
            "batch", F.lit(batch_id)
        )
        _write_batch_keyed(out, out_path, ["batch"])

    name = f"pseudo_{next(_run_ids)}"
    writer = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(event_path)
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


def read_pseudonymized(spark: SparkSession, out_path: str) -> DataFrame:
    """All pseudonymized rows so far (exactly-once: replays overwrite
    their own batch partition). Reads through the raw-store union so
    sealed batches stay visible after maintenance."""
    from ..sources.rawstore import read_raw_store

    return read_raw_store(spark, out_path)
