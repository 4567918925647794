"""Streaming eval-set decontamination — the contamination gate at
INGEST latency: arriving document batches are checked against an
AT-REST benchmark digest artifact (written once when the eval suites
are frozen), kept rows land batch-keyed, and dropped rows go to a
quarantine audit table with their overlap counts. Catching
contamination at the door beats re-filtering the corpus per release:
the artifact changes only when a benchmark does, and each batch pays
O(batch) — the digest table is eval-set-sized and broadcast.

Per batch the decision is a STATELESS pure function of (row,
artifact) — :func:`..operators.governance.decontaminate_against`
semantics with the benchmark side pre-digested — so the union of all
per-batch keeps equals the one-shot batch filter for ANY batch
decomposition, which is what lets the catalog entry share the batch
entry's DuckDB oracle. Crash-replay idempotency is the raw-store
idiom: keeps land under ``out_path/batch=<id>`` with dynamic
overwrite (replays overwrite their own partition; quarantine rows
re-append byte-identically and readers ``distinct()``).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.governance import ngram_phrases
from ..operators.lifecycle import _write_batch_keyed

_run_ids = itertools.count()


def write_benchmark_digests(
    benchmark: DataFrame,
    path: str,
    text_col: str = "text",
    n: int = 5,
) -> None:
    """Freeze the eval suites into the at-rest digest artifact: the
    DISTINCT md5 digests of every benchmark n-gram, plus a one-row
    meta table pinning ``n`` (a reader joining with a different gram
    size would silently miss everything)."""
    spark = benchmark.sparkSession
    (
        benchmark.select(
            F.explode(ngram_phrases(text_col, n)).alias("__g")
        )
        .select(F.md5("__g").alias("fp"))
        .distinct()
        .write.mode("overwrite")
        .parquet(f"{path}/fps")
    )
    spark.createDataFrame([(int(n),)], "n int").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")


def run_streaming_decontaminate(
    spark: SparkSession,
    docs_path: str,
    digest_path: str,
    out_path: str,
    quarantine_path: str,
    schema,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_frac_numer: int = 1,
    max_frac_denom: int = 10,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 1,
) -> None:
    """Tail ``docs_path``; per micro-batch keep documents whose
    distinct-n-gram overlap with the frozen benchmark digests is at
    most ``max_frac_numer/max_frac_denom`` (integer
    cross-multiplication), quarantine the rest with their counts."""
    from ..session import streaming_session

    spark = streaming_session(spark)

    def process(batch: DataFrame, batch_id: int) -> None:
        bs = batch.sparkSession
        n = bs.read.parquet(f"{digest_path}/meta").first().n
        fps = bs.read.parquet(f"{digest_path}/fps").withColumn(
            "__hit", F.lit(1)
        )
        grams = batch.select(
            F.col(id_col),
            F.explode(ngram_phrases(text_col, n)).alias("__g"),
        ).select(id_col, F.md5("__g").alias("fp"))
        per_doc = (
            grams.join(F.broadcast(fps), "fp", "left")
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_ngrams"),
                F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                .cast("long")
                .alias("n_contaminated"),
            )
        )
        flagged = batch.join(per_doc, id_col, "left").select(
            *[F.col(c) for c in batch.columns],
            F.coalesce("n_ngrams", F.lit(0)).cast("long").alias("n_ngrams"),
            F.coalesce("n_contaminated", F.lit(0))
            .cast("long")
            .alias("n_contaminated"),
        )
        keep = F.col("n_contaminated") * F.lit(
            int(max_frac_denom)
        ) <= F.lit(int(max_frac_numer)) * F.col("n_ngrams")
        _write_batch_keyed(
            flagged.where(keep).withColumn("batch", F.lit(batch_id)),
            out_path,
            ["batch"],
        )
        (
            flagged.where(~keep)
            .select(id_col, "n_ngrams", "n_contaminated")
            .write.mode("append")
            .parquet(quarantine_path)
        )

    name = f"decontam_{next(_run_ids)}"
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


def read_kept_documents(spark: SparkSession, out_path: str) -> DataFrame:
    """All kept rows so far (exactly-once: replays overwrite their own
    batch partition); reads through the raw-store union so sealing
    applies."""
    from ..sources.rawstore import read_raw_store

    return read_raw_store(spark, out_path)


def read_quarantine(
    spark: SparkSession,
    path: str,
    id_col: str = "doc_id",
    id_type: str = "long",
) -> DataFrame:
    """Distinct quarantined audit rows (at-least-once appends replay
    byte-identically). The schema is derived from the written files
    when any exist — so a run with a non-default ``id_col`` or a
    non-long id type reads back exactly what it wrote — and falls
    back to an explicit ``(id_col id_type, n_ngrams, n_contaminated)``
    literal only for the empty table (the path may hold only _SUCCESS
    markers when nothing was contaminated)."""
    try:
        df = spark.read.parquet(path)
        if id_col in df.columns:
            return df.select(
                id_col, "n_ngrams", "n_contaminated"
            ).distinct()
    except Exception:
        pass  # no data files yet -> inference fails; use the literal
    schema = f"`{id_col}` {id_type}, n_ngrams long, n_contaminated long"
    try:
        return spark.read.schema(schema).parquet(path).distinct()
    except Exception:
        # dir not created yet (nothing quarantined, no markers)
        return spark.createDataFrame([], schema)
