"""Streaming quality-classifier scoring against an at-rest model
artifact — the learned quality gate at INGEST latency: document
micro-batches score with the SAME persisted classifier
(:mod:`..operators.classifier` artifact, trained once at bootstrap —
the stored-artifact idiom of the vocab/centroid/merge-rule streams),
and scored rows land batch-keyed with the Pareto-lottery keep verdict
attached.

Scoring is a STATELESS pure function of (document, artifact) — margin
is an exact integer dot product, the sigmoid a fixed numpy float64
map, the lottery draw a pure md5 function of the id — so the union of
per-batch outputs equals the one-shot batch
``score_quality_classifier`` + ``pareto_flags`` of the same corpus
for ANY batch decomposition (pinned by the batch-parity pytest).

Crash-replay idempotency: outputs land in ``out/batch=<id>``
partitions with dynamic overwrite (the batch-keyed idiom), so a
replayed batch overwrites its own partition instead of
double-appending.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.classifier import (
    load_classifier,
    pareto_flags,
    score_quality_classifier,
)
from ..operators.lifecycle import _write_batch_keyed

_run_ids = itertools.count()


def run_streaming_classify(
    spark: SparkSession,
    doc_path: str,
    model_path: str,
    out_path: str,
    schema,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: int = 9,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 1,
) -> None:
    """Tail ``doc_path``; per micro-batch score against the classifier
    artifact at ``model_path`` (must exist BEFORE the stream starts —
    ``operators.classifier.save_classifier`` output) and append
    ``(id, score, kept)`` batch-keyed to ``out_path``. The artifact
    is resolved once here — immutable by contract (a retrain is a new
    artifact path and a new stream)."""
    from ..session import streaming_session

    spark = streaming_session(spark)
    model = load_classifier(spark, model_path)

    def process(batch: DataFrame, batch_id: int) -> None:
        scored = score_quality_classifier(batch, model, id_col, text_col)
        _write_batch_keyed(
            pareto_flags(scored, id_col, alpha=alpha).withColumn(
                "batch", F.lit(batch_id)
            ),
            out_path,
            ["batch"],
        )

    name = f"classify_{next(_run_ids)}"
    writer = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(doc_path)
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


def read_scored(spark: SparkSession, out_path: str) -> DataFrame:
    """All scored rows so far (batch partition column dropped — the
    batch-keyed layout is a replay-idempotency mechanism, not part of
    the logical output)."""
    return spark.read.parquet(out_path).drop("batch")
