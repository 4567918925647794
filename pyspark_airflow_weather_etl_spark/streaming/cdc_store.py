"""Streaming content-addressed chunk store — CDC chunking
(operators.dedup.cdc_chunks) at ingest latency: each arriving document
micro-batch chunks in-plan and appends its (id, chunk_idx, digest,
n_tokens) rows batch-keyed; the store is the input of snapshot-level
storage dedup (identical chunks across batches share a digest).

Chunking is a PURE PER-DOCUMENT function, so the union of per-batch
outputs equals the one-shot batch chunking for ANY arrival
decomposition — the catalog entry hash-matches the SAME DuckDB oracle
as ``cdc_chunks_documents``. Crash replay of a batch id is absorbed by
batch-keyed dynamic partition overwrite (the streaming/lm_monitor
idiom); a DUPLICATED ARRIVAL FILE is a new micro-batch and lands its
rows again — the contract that survives it is content addressing (the
digest set is unchanged; consumers dedupe by digest, which is the
store's purpose) — pinned in tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import cdc_chunks
from ..operators.lifecycle import _write_batch_keyed

CHUNKS_SCHEMA = "doc_id bigint, chunk_idx bigint, digest string, n_tokens bigint, batch bigint"


def run_streaming_cdc_store(
    spark: SparkSession,
    doc_path: str,
    out_path: str,
    schema,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 1,
) -> None:
    """Tail ``doc_path``; per micro-batch append CDC chunk rows under
    ``out_path/batch=<id>``. Runs with availableNow and blocks."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(doc_path)
    )

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        chunks = cdc_chunks(batch_df, id_col, text_col)
        _write_batch_keyed(
            chunks.withColumn("batch", F.lit(batch_id).cast("bigint")),
            out_path,
            ["batch"],
        )

    writer = stream.writeStream.foreachBatch(_append).trigger(
        availableNow=True
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    writer.start().awaitTermination()


def read_chunk_store(spark: SparkSession, out_path: str) -> DataFrame:
    """The accumulated chunk rows (explicit schema — partition-column
    type inference is a trap, see operators/retrieval.py)."""
    return spark.read.schema(CHUNKS_SCHEMA).parquet(out_path)
