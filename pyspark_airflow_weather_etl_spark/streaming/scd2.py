"""Streaming SCD2 history maintenance — the CDC loop at streaming
latency: events arrive as micro-batches; each batch (1) lands the raw
events batch-keyed (idempotent — the dynamic-overwrite idiom of the
dedup/semantic index appends), then (2) refreshes the HISTORY table
for exactly the key-buckets the batch touched, by recompacting those
buckets from the full at-rest raw events.

Design choice — bucket-granular recompaction from RAW, not
open-interval patching: patching the previous history's open
intervals with the new batch is cheaper per batch but is NOT
crash-replay idempotent (a replay that finds some buckets already
patched would re-apply the batch against post-batch state). Deriving
each touched bucket purely from the at-rest raw events makes the
refresh a PURE FUNCTION of durable data — any replay, any crash
point, converges to the same table. Per-batch cost is
O(touched-bucket raw rows), bounded by bucket count sizing (`n_buckets`
should scale so a bucket holds ~1/nth of the keyspace); untouched
buckets are never read or written. This is incremental
materialized-view maintenance at bucket granularity — the
Hudi/Delta-style upsert shape expressed as parquet partition
overwrite.

The maintained table therefore always equals the one-shot
``operators.merge.scd2_compact`` of all events so far — the catalog
entry hash-matches the SAME DuckDB oracle as the batch entry
(``scd2_event_state_history``), proving the incremental decomposition
loses and invents nothing.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import scd2_compact
from ..sources.rawstore import read_raw_store

_run_ids = itertools.count()


def _with_bucket(df: DataFrame, key_col: str, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "kb", F.pmod(F.hash(F.col(key_col)), F.lit(n_buckets))
    )


def run_streaming_scd2(
    spark: SparkSession,
    event_path: str,
    raw_path: str,
    history_path: str,
    schema,
    key_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
    n_buckets: int = 8,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 1,
) -> None:
    """Tail ``event_path``; per micro-batch land raw events under
    ``raw_path/kb=<b>/batch=<id>`` (dynamic overwrite — replays
    overwrite their own partitions) and recompact the touched
    ``history_path/kb=<b>`` partitions from the full raw store."""
    from ..session import streaming_session

    spark = streaming_session(spark)

    def process(batch: DataFrame, batch_id: int) -> None:
        # Both writes pass dynamic overwrite as a writer option: the
        # foreachBatch clone's session conf is static on a vanilla
        # session, and a static overwrite would truncate the store to
        # the current batch.
        bs = batch.sparkSession
        keyed = _with_bucket(batch, key_col, n_buckets)
        (
            keyed.withColumn("batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("kb", "batch")
            .parquet(raw_path)
        )
        touched = sorted(
            r.kb for r in keyed.select("kb").distinct().collect()
        )
        # sealed ∪ unsealed-live view: identical to a plain read
        # until sources.rawstore.seal_batches has run on raw_path,
        # after which old batches come from the compacted sealed
        # snapshot (still kb-partition-pruned) and replay garbage
        # is ledger-excluded.
        raw = read_raw_store(bs, raw_path).where(F.col("kb").isin(touched))
        hist = scd2_compact(raw, key_col, state_col, ts_col, tiebreak_col)
        (
            _with_bucket(hist, key_col, n_buckets)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("kb")
            .parquet(history_path)
        )

    name = f"scd2_{next(_run_ids)}"
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


def read_history(spark: SparkSession, history_path: str) -> DataFrame:
    """The maintained SCD2 table (bucket partition column dropped —
    the bucketing is a refresh-granularity mechanism, not part of the
    logical output)."""
    return spark.read.parquet(history_path).drop("kb")
