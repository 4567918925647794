"""The batch-keyed index lifecycle, written once.

Every at-rest index family that grows by micro-batches (SQ8, SRP and
its fixed twin, IVF and its fixed twin, IVF-PQ/OPQ, BM25, positional)
keeps the same protocol, the index-side form of the reference's
dedupe-then-UPSERT serving step: each batch lands under its own
``batch=<id>`` partitions with a one-row id-range manifest, a probe
folds re-delivered ids to their latest row unless the manifest proves
the batches disjoint, and compaction/refit publish a single-batch
version through :func:`..sources.writers.publish_version`. This module
is that protocol; a family supplies only how it encodes a batch, how
its probe prunes, and what it freezes in ``meta``.

Vector trees share one layout::

    {path}/meta                      frozen identity (one row)
    {path}/rows/batch=<id>/...       (id, ..., batch) — id first
    {path}/rows_manifest/batch=<id>  (min_id, max_id, n_rows)
    {path}/drift/batch=<id>          per-batch drift row (some families)

``docs/overlap_contract.md`` states the shared invariants this module
implements: fail-closed manifests (:func:`append_batch`), replay is
replacement (:func:`_drop_batch_dirs`), and the fold over the pruned
slice only (:func:`fold_latest`).
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor
from functools import partial

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, _parse_datatype_string
from pyspark.util import inheritable_thread_target

from ..sources.writers import publish_version

#: the frozen subtrees a compaction copies verbatim, in creation order
#: (``centroids`` last: it is the creation marker of the IVF families)
_FROZEN = ("meta", "codebooks", "rotation", "centroids")


def path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists — through the Hadoop FS, not os.path,
    so hdfs:// and s3a:// URIs answer too."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return bool(p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p))


def _write_batch_keyed(df: DataFrame, out_path: str, partition_cols) -> None:
    """The one writer of every at-rest index tree and of every
    ``batch=<id>``-keyed streaming sink output.

    Rows are rebalanced on the tree's partition columns when the
    layout has a level below ``batch`` (``pfx``, ``dpfx``,
    ``ivf_cell``, ``t/bucket``). Without it every upstream task writes
    its own file into every leaf it holds rows for — from four
    upstream tasks, one 100-document BM25 append landed 125 postings
    files in 32 ``pfx=`` leaves. Hashing on the partition columns
    routes each leaf's rows to one task, so a fixture-scale write
    lands one file per leaf. It is AQE's rebalance, not a ``coalesce``
    or a fixed ``repartition(n)``: small partitions merge and skewed
    ones split to the advisory size, so files stay size-bounded at
    100 TB. ``batch``-only trees (manifests, stats, drift rows, SQ8
    rows) hold one leaf per write and stay unshuffled — the exchange
    would be a pure extra job.

    Dynamic partition overwrite replaces exactly the partitions being
    written, so a crashed-and-replayed (or outright duplicated) append
    of the same batch lands the identical bytes (the
    streaming/lm_monitor batch-keyed idiom). The mode is a writer
    option, never a session conf flip, so a shared session's conf is
    never touched mid-write."""
    if any(c != "batch" for c in partition_cols):
        df = df.hint("rebalance", *partition_cols)
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(out_path)
    )


def _concurrently(spark: SparkSession, *calls) -> list:
    """Run each zero-argument call on a thread of its own, wait for
    every one to return, then re-raise the first failure (in call
    order) or return the results in call order.

    The independent writes of one batch are each a few small Spark
    jobs whose per-job overhead, not their tasks, dominates at fixture
    scale; running them side by side fills the idle slots. Each call is
    wrapped by its own ``inheritable_thread_target(spark)``, so the
    jobs it starts carry the caller's job group, local properties and
    session tags (``cancelJobGroup`` reaches every write), and each
    thread gets its own copy of those properties: Spark SQL sets its
    execution id in them, so one shared copy would mix up the
    concurrent executions. Pass a frame's ``sparkSession`` where the
    caller's ``spark`` may be a session-like wrapper:
    ``inheritable_thread_target`` inherits tags only from a
    :class:`SparkSession` itself. The pool lives for one call: no thread
    outlives it, and a failed write still lets its siblings finish
    before the error surfaces, so the caller's next step (the manifest)
    never races a write."""
    with ThreadPoolExecutor(max_workers=max(len(calls), 1)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(c)) for c in calls
        ]
    return [f.result() for f in futures]


def _literal_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """``rows`` (tuples in the column order of ``ddl``) as a frame
    planned entirely in the JVM, for index metadata rows and probe
    query tables. ``createDataFrame`` of a Python list is a Python RDD:
    every scan of it starts a Python worker in each of its
    default-parallelism tasks, about 0.3 s per one-row metadata write
    at fixture scale. Here the rows travel as one JSON string literal
    that ``from_json`` parses on a one-partition range, with the same
    nullable schema. Only for types JSON carries exactly (integers,
    strings, doubles, booleans and arrays of them); Python's float
    repr round-trips through the parser bit for bit."""
    schema = _parse_datatype_string(ddl)
    names = schema.fieldNames()
    payload = json.dumps([dict(zip(names, r)) for r in rows])
    return spark.range(0, 1, 1, 1).select(
        F.inline(F.from_json(F.lit(payload), ArrayType(schema)))
    )


def write_literal(spark: SparkSession, path: str, rows, ddl: str) -> None:
    """Overwrite the small unpartitioned tree at ``path`` (a ``meta``,
    ``centroids``, ``codebooks`` or ``rotation``) with ``rows``."""
    _literal_frame(spark, rows, ddl).write.mode("overwrite").parquet(path)


def _metadata_rows(
    spark: SparkSession, path: str, schema: str | None = None
) -> list[Row] | None:
    """The rows of a small index metadata tree (a batch manifest, a
    quantizer ``meta``), or None when the tree is missing or holds no
    rows. Pass ``schema`` where the writer fixes the types
    (:data:`..operators.retrieval._DOC_MANIFEST`, the SQ8 ``meta``):
    an unschema'd read runs a one-task schema-inference job first.
    Vector manifests keep the inferred read — their id range has the
    caller's id type."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        return reader.parquet(path).collect() or None
    except AnalysisException:
        return None


def _batch_ids(spark: SparkSession, path: str) -> list[int]:
    """The ``batch=`` delta partition ids under an index subtree —
    one driver-side listStatus (the compaction_cost_model pattern)."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(hconf)
    return [
        int(st.getPath().getName()[len("batch="):])
        for st in fs.listStatus(root)
        if st.isDirectory() and st.getPath().getName().startswith("batch=")
    ]


def _batches_disjoint(
    spark: SparkSession,
    tree_path: str,
    manifest_path: str,
    min_col: str,
    max_col: str,
    n_col: str,
    schema: str | None = None,
) -> bool:
    """Whether a batch-keyed delta tree's per-batch id ranges are
    PAIRWISE DISJOINT according to its manifest — the proof that no
    id landed under two batches, so id-keyed dedup/fold passes can be
    skipped. Any live batch missing from the manifest (a pre-manifest
    tree) or any range overlap returns False: the manifest is a
    fast-path marker, never a correctness input. Ranges compare in
    the id column's OWN type (numeric ids as numbers, string ids
    lexicographically) — a shared id sits inside both batches' ranges
    under any total order, so disjoint ranges exclude it either way.
    Driver cost is one listStatus plus a batches-sized parquet
    read; ``schema`` is the manifest's read schema where the writer
    fixes it (see :func:`_metadata_rows`)."""
    live = _batch_ids(spark, tree_path)
    if len(live) <= 1:
        return True
    rows = _metadata_rows(spark, manifest_path, schema)
    if rows is None:
        return False
    by_batch = {int(r["batch"]): r for r in rows}
    if not set(live) <= set(by_batch):
        return False  # some delta predates the manifest: assume overlap
    ranges = sorted(
        (by_batch[b][min_col], by_batch[b][max_col])
        for b in live
        if int(by_batch[b][n_col]) > 0
    )
    return all(
        ranges[i][0] > ranges[i - 1][1] for i in range(1, len(ranges))
    )


def _drop_manifest_row(
    spark: SparkSession, manifest_path: str, batch_id: int
) -> None:
    """Invalidate one batch's manifest row BEFORE its rows are
    rewritten (ADVICE r14): appends write rows first and the manifest
    after, so a batch RE-delivered with a different id range whose
    job crashes between the two writes would otherwise leave the
    STALE range on record — possibly 'proving' batches disjoint over
    rows that now overlap. Deleting the row first fails closed: an
    interrupted replay yields 'live batch missing from manifest', so
    :func:`_batches_disjoint` returns False and every consumer runs
    its fold/dedup/guard until the append is replayed to completion.
    No-op when the row (or the manifest tree) does not exist yet.

    Callers pair this with :func:`_drop_batch_dirs` — the manifest
    row alone is not enough for a replay that COMPLETES with a
    different id set (see there)."""
    _drop_batch_dirs(spark, batch_id, manifest_path)


def _drop_batch_dirs(
    spark: SparkSession, batch_id: int, *tree_paths: str
) -> None:
    """Delete each tree's ``batch=<id>`` directory before an append
    rewrites that batch (round-15 review): dynamic partition
    overwrite replaces only the LEAF partitions present in the new
    data, so on a multi-level layout (``batch=/pfx=``,
    ``batch=/ivf_cell=``, ``batch=/t=/bucket=``) a batch re-delivered
    with a DIFFERENT id/content set would keep its old rows in the
    sub-partitions the new delivery doesn't touch — alongside a fresh
    manifest row whose range then falsely 'proves' the stale rows
    away. Deleting the whole batch dir first makes a completed replay
    a true replacement (and covers the empty-re-delivery edge on
    single-level trees, where a zero-row write replaces nothing).
    Ordering contract (:func:`append_batch`): drop the manifest row
    FIRST, then the row dirs, then write the trees (concurrently),
    then the manifest once every tree write has returned — a crash or
    a failed write anywhere in that sequence leaves the batch missing
    from the manifest, so
    :func:`_batches_disjoint` returns False and every consumer runs
    its fold/dedup/guard. The honest width of the window (round-15
    review): a crash BETWEEN the deletes and the rows write leaves
    the batch's rows absent entirely until the feed replays it —
    probes serve the index without that batch (loudly, with a read
    error, if it was the only batch). That is the fail-closed trade
    taken deliberately: the alternative (write first, diff-and-delete
    stale leaves after) would serve SUPERSEDED rows through its crash
    window and needs a leaf-diff the filesystem can't give atomically.
    At-least-once delivery converges either way on replay.

    No-op on paths that do not exist yet. A ``tree_paths`` entry
    containing ``*`` is treated as a Hadoop glob (the semantic
    index's cell-first ``rows/ivf_cell=*`` layout, where ``batch=``
    is not the outermost level); all other paths are deleted
    LITERALLY — globStatus would otherwise misread legitimate
    ``[...]``/``{...}`` characters in a caller's path as pattern
    syntax and silently skip (or over-match) the delete."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for tp in tree_paths:
        p = jvm.org.apache.hadoop.fs.Path(f"{tp}/batch={int(batch_id)}")
        fs = p.getFileSystem(hconf)
        if "*" in tp:
            matches = fs.globStatus(p)
            for st in matches or []:
                fs.delete(st.getPath(), True)
        elif fs.exists(p):
            fs.delete(p, True)


def append_batch(
    spark: SparkSession,
    path: str,
    batch_id: int,
    trees: dict,
    manifest: tuple,
) -> None:
    """Land one batch of a batch-keyed index, fail closed: drop the
    batch's ``manifest`` row, drop every listed tree's ``batch=<id>``
    dir, write the trees concurrently (:func:`_concurrently`), and
    write the manifest row LAST, once every tree write has returned —
    a crash or a failed write anywhere leaves the batch missing from
    the manifest, so probes run their fold/dedup/guard instead of
    trusting a stale range, and a completed replay replaces the
    batch's previous delivery outright.

    ``trees`` maps a subtree name to ``(frame, partition_cols)``, or
    to None for a tree this delivery only drops (a BM25 replay without
    its ``docterms`` forward index). ``manifest`` is ``(name, row)``:
    ``row`` is the frame with the batch's one manifest row, or a
    zero-argument function returning it, which then runs next to the
    tree writes (the BM25/positional doc-id range is an aggregate over
    the batch)."""
    name, row = manifest
    _drop_manifest_row(spark, f"{path}/{name}", batch_id)
    _drop_batch_dirs(spark, batch_id, *(f"{path}/{t}" for t in trees))
    writes = [
        partial(_write_batch_keyed, spec[0], f"{path}/{t}", spec[1])
        for t, spec in trees.items()
        if spec is not None
    ]
    if callable(row):
        row = _concurrently(spark, *writes, row)[-1]
    else:
        _concurrently(spark, *writes)
    _write_batch_keyed(row, f"{path}/{name}", ("batch",))


def id_range(id_col: str) -> list:
    """The aggregates of a ``rows_manifest`` row — ``min_id`` and
    ``max_id`` in the id column's own type, and ``n_rows`` — to ride
    along in the one aggregate a family already collects per batch."""
    return [
        F.min(F.col(id_col)).alias("min_id"),
        F.max(F.col(id_col)).alias("max_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    ]


def rows_manifest(
    df: DataFrame, id_col: str, batch_id: int, st: Row
) -> tuple[str, DataFrame]:
    """The ``rows_manifest`` argument of :func:`append_batch` from a
    collected :func:`id_range` row ``st`` over ``df``, the range in
    the type of ``df``'s id column. An empty batch records null
    min/max, which :func:`_batches_disjoint` skips via ``n_rows``."""
    id_type = df.schema[id_col].dataType.simpleString()
    return "rows_manifest", _literal_frame(
        df.sparkSession,
        [(st["min_id"], st["max_id"], int(st["n_rows"]), int(batch_id))],
        f"min_id {id_type}, max_id {id_type}, n_rows bigint, batch bigint",
    )


def drift_ratio(mean: float, fit: float) -> float:
    """A batch's mean quantization distance over the creation batch's
    ``fit`` mean — the re-fit signal (1.0 when the fit mean is 0)."""
    return mean / fit if fit > 0 else 1.0


def drift_row(
    spark: SparkSession,
    batch_id: int,
    n_rows: int,
    stat: str,
    mean: float,
    fit: float,
) -> DataFrame:
    """One batch's drift row ``(batch, n_rows, mean_<stat>,
    drift_ratio)``."""
    return _literal_frame(
        spark,
        [(int(batch_id), int(n_rows), mean, drift_ratio(mean, fit))],
        f"batch bigint, n_rows bigint, mean_{stat} double,"
        " drift_ratio double",
    )


def drift_log(spark: SparkSession, path: str) -> list[dict]:
    """The per-batch drift rows of an index, in batch order (empty
    when the index never logged drift)."""
    rows = _metadata_rows(spark, f"{path}/drift") or []
    return sorted((r.asDict() for r in rows), key=lambda r: r["batch"])


def frozen_meta(
    spark: SparkSession,
    path: str,
    marker: str,
    what: str,
    verb: str,
    params: dict,
    check=None,
) -> Row | None:
    """The index's frozen identity row, or None for a new tree.

    Refuses a tree whose creation ``marker`` subtree exists without
    ``meta`` (a partial copy or manual deletion: its identity is
    unknowable, and guessing it would merge this batch under another
    quantizer), runs ``check(meta)`` first when given, then raises
    when a stored ``params`` value differs from the caller's."""
    rows = _metadata_rows(spark, f"{path}/meta")
    names = ", ".join(params)
    if rows is None:
        if path_exists(spark, f"{path}/{marker}"):
            raise ValueError(
                f"{what} at {path} has {marker} but no meta — its"
                f" identity ({names}) is unknowable; rebuild the index"
            )
        return None
    meta = rows[0]
    if check is not None:
        check(meta)
    stored = tuple(int(meta[k]) for k in params)
    want = tuple(params.values())
    if stored != want:
        raise ValueError(
            f"{what} at {path} was created with ({names})={stored};"
            f" appending with {want} would {verb} incompatibly"
        )
    return meta


def as_stored(
    df: DataFrame, path: str, id_col: str, vec_col: str
) -> DataFrame:
    """``(id, vector)`` of ``df`` cast to the column types already at
    rest under ``{path}/rows`` (one footer read). A feed that switches
    float → double mid-stream would otherwise write a mixed-type tree
    that FAILS at probe time; the first batch defines the types."""
    try:
        stored = df.sparkSession.read.parquet(f"{path}/rows").schema
    except AnalysisException:
        return df.select(id_col, vec_col)
    return df.select(
        F.col(id_col).cast(stored[id_col].dataType),
        F.col(vec_col).cast(stored[vec_col].dataType),
    )


def vector_col(rows: DataFrame) -> str:
    """The raw-vector column of a vector tree's ``rows``: the one
    ``array<float>``/``array<double>`` column (codes are integer
    arrays)."""
    return next(
        c for c, t in rows.dtypes if t in ("array<float>", "array<double>")
    )


def rows_disjoint(spark: SparkSession, path: str) -> bool:
    """Whether the vector tree's ``rows_manifest`` proves its batches'
    id ranges pairwise disjoint (True on a single-batch tree), so
    probes can skip :func:`fold_latest`."""
    return _batches_disjoint(
        spark,
        f"{path}/rows",
        f"{path}/rows_manifest",
        "min_id",
        "max_id",
        "n_rows",
    )


def fold_latest(
    df: DataFrame, keys, cols, disjoint: bool = False
) -> DataFrame:
    """``keys`` + ``cols`` of ``df``, one row per ``keys``: the row of
    the highest ``batch`` wins, the upsert reading of a re-delivered
    id. ONE ``max_by`` over a struct of ``cols``, so every column
    comes from the same winning row even when duplicates tie inside a
    batch (column-by-column folds could mix two rows and, say, store a
    vector under another row's cell). ``disjoint`` (the
    :func:`rows_disjoint` proof) skips the fold; probes fold the
    PRUNED slice only, never the index."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    if disjoint:
        return df.select(*keys, *cols)
    return (
        df.groupBy(*keys)
        .agg(F.max_by(F.struct(*cols), "batch").alias("__w"))
        .select(*keys, *[F.col("__w").getField(c).alias(c) for c in cols])
    )


def compact_rows(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    partition_cols,
    keys=(),
    drift: str | None = None,
) -> str:
    """Compact a vector delta tree into a single-batch index published
    as the next serving version under ``dst_path``; returns the
    version directory name. Codes, cells and signatures are per-vector
    facts under the frozen quantizer, so compaction is a latest-wins
    fold plus a re-partition and probes answer identically.

    The frozen subtrees (``meta``, ``codebooks``, ``rotation``,
    ``centroids``) are copied verbatim: they ARE the index identity.
    ``rows`` folds to one row per id (and per extra ``keys`` — SRP's
    table ``t``) under ``batch=0``. A fresh batch-0 ``rows_manifest``
    counts vectors (the ``keys == 0`` copy) so appends after the
    compaction still prove disjointness. ``drift`` names the per-row
    statistic (``d2``, ``qerr``) whose folded mean lands as the batch-0
    drift row against the stored ``fit_mean_<drift>``. Crash contract:
    :func:`..sources.writers.publish_version` — the build fills an
    unreferenced version dir, the pointer flips last, and the source
    deltas are never touched."""
    frozen = [t for t in _FROZEN if path_exists(spark, f"{src_path}/{t}")]

    def copy(t: str, vdir: str) -> None:
        spark.read.parquet(f"{src_path}/{t}").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{vdir}/{t}")

    def build(vdir: str) -> None:
        rows = spark.read.parquet(f"{src_path}/rows")
        id_col = rows.columns[0]
        fold_keys = [id_col, *keys]
        cols = [c for c in rows.columns if c not in (*fold_keys, "batch")]
        _concurrently(
            rows.sparkSession,
            *(partial(copy, t, vdir) for t in frozen),
            partial(
                _write_batch_keyed,
                fold_latest(rows, fold_keys, cols).withColumn(
                    "batch", F.lit(0).cast("bigint")
                ),
                f"{vdir}/rows",
                partition_cols,
            ),
        )
        folded = spark.read.parquet(f"{vdir}/rows")
        for k in keys:
            folded = folded.where(F.col(k) == 0)
        stats = id_range(id_col)
        if drift is not None:
            stats.append(F.avg(drift).alias("mean"))
        st = folded.agg(*stats).collect()[0]
        if drift is not None:
            meta = _metadata_rows(spark, f"{src_path}/meta")[0]
            _write_batch_keyed(
                drift_row(
                    spark,
                    0,
                    st["n_rows"],
                    drift,
                    float(st["mean"] or 0.0),
                    float(meta[f"fit_mean_{drift}"]),
                ),
                f"{vdir}/drift",
                ("batch",),
            )
        name, manifest = rows_manifest(folded, id_col, 0, st)
        _write_batch_keyed(manifest, f"{vdir}/{name}", ("batch",))

    return publish_version(spark, dst_path, build)


def refit(spark: SparkSession, src_path: str, dst_path: str, append) -> str:
    """Re-fit a vector index whose frozen quantizer drifted: fold the
    at-rest vectors to their latest row per id (the raw vector is
    stored precisely so a re-fit never touches the source corpus),
    then publish a version built by the family's own
    ``append(folded, vdir, id_col, vec_col)`` as batch 0 — it trains
    fresh quantizers and resets the drift baseline. Crash contract:
    :func:`..sources.writers.publish_version`; the source deltas are
    untouched."""
    rows = spark.read.parquet(f"{src_path}/rows")
    id_col, vec_col = rows.columns[0], vector_col(rows)
    folded = fold_latest(rows, id_col, [vec_col])
    return publish_version(
        spark, dst_path, lambda vdir: append(folded, vdir, id_col, vec_col)
    )
