"""Sinks (SURVEY.md §2.1 S2/S6/S7).

- ``write_json_partitioned``: the raw landing sink — hive-layout JSON,
  generalizing the reference's boto3 put_object of one file per day
  (weather_daily_etl.py:35-50) to a distributed write.
- ``write_parquet_partitioned``: columnar layer sink with *dynamic*
  partition overwrite (the S6 fix; the reference's static overwrite
  clobbers every partition) and no ``coalesce(1)`` anti-pattern —
  file sizing belongs to maxRecordsPerFile/AQE, not a parallelism
  collapse.
- ``write_jdbc``: the serving stage sink (load_gold_to_pg.py:36-43).
  Import/driver-gated: this container ships no JDBC driver jar, so
  the call path is exercised by asserting the exact writer config.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_json_partitioned(
    df: DataFrame, path: str, keys: Sequence[str] = ("y", "m", "d")
) -> None:
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*keys)
        .json(path)
    )


def write_parquet_partitioned(
    df: DataFrame,
    path: str,
    keys: Sequence[str] = ("y", "m", "d"),
    max_records_per_file: int = 5_000_000,
) -> None:
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*keys)
        .parquet(path)
    )


def _hadoop_fs(spark, path: str):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, p.getFileSystem(conf), p


def overwrite_parquet_swap(
    df: DataFrame, path: str, partition_by: Sequence[str] = ()
) -> None:
    """Overwrite ``path`` with ``df`` even when ``df`` READS from
    ``path`` (the read-merge-rewrite serving pattern); flat layout by
    default, hive-partitioned when ``partition_by`` is given (the
    whole tree is replaced — full-rewrite jobs like compaction; for
    per-partition replacement use ``write_parquet_partitioned``'s
    dynamic overwrite instead, which must NOT read from its own
    target).

    A plain ``mode('overwrite')`` on the source path is unsafe: Spark
    deletes the target before the job finishes, so any task retry or
    lost cached block recomputes from a partially-deleted input and
    silently truncates the table. Instead: materialize fully into a
    sibling temp directory (the source stays intact for recomputes),
    then swap — rename target ASIDE (never delete-first), rename temp
    into place, drop the aside copy last. No crash point loses data:
    at every instant a complete copy exists at ``path``, the aside
    path, or the temp path. The swap is still not ATOMIC for
    concurrent readers (a reader in the rename window can miss the
    table, and S3-family renames are copy+delete) — serving tables
    with concurrent readers should use the versioned protocol below
    (``write_serving_version`` / ``read_serving_table``), where
    readers resolve a pointer and data directories are never moved.
    """
    spark = df.sparkSession
    base = path.rstrip("/")
    tmp = base + ".__swap_tmp__"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)

    jvm, fs, dest = _hadoop_fs(spark, base)
    src = jvm.org.apache.hadoop.fs.Path(tmp)
    aside = jvm.org.apache.hadoop.fs.Path(base + ".__swap_old__")
    if fs.exists(aside):
        fs.delete(aside, True)
    if fs.exists(dest) and not fs.rename(dest, aside):
        raise IOError(f"rename {base} aside failed; table intact at {base}")
    if not fs.rename(src, dest):
        raise IOError(
            f"rename {tmp} -> {base} failed; data is at {tmp}"
            f"{' and ' + str(aside) if fs.exists(aside) else ''}"
        )
    fs.delete(aside, True)


#: Serving-table version directories are ``v-<n>``; ``_current`` is
#: the pointer file naming the live one.
_PTR = "_current"
_VDIR = re.compile(r"^v-(\d+)$")


def _list_complete_versions(fs, jvm, root) -> list[tuple[int, str]]:
    """(version number, dir name) of every version directory whose
    Spark commit finished (``_SUCCESS`` present), ascending."""
    if not fs.exists(root):
        return []
    out = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        m = _VDIR.match(name)
        if not m or not st.isDirectory():
            continue
        ok = jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
        if fs.exists(ok):
            out.append((int(m.group(1)), name))
    return sorted(out)


def write_serving_version(df: DataFrame, path: str) -> str:
    """Publish ``df`` as the next version of the serving table at
    ``path`` and return the version directory name.

    Object-store-safe single-writer publish protocol (the engine's
    stand-in for a transactional table format, which this container
    does not ship):

    1. write parquet into ``path/v-<n+1>`` — Spark's commit drops
       ``_SUCCESS`` there only on full success;
    2. flip the ``path/_current`` pointer: write ``_current.tmp``,
       delete ``_current``, rename into place — the only mutated
       object is one tiny pointer file; data directories are NEVER
       renamed or deleted while live, so rename-as-copy stores can't
       expose a partial table;
    3. prune versions older than the previous one (previous is kept
       as the rollback target).

    A crash at ANY point leaves the reader correct:
    before the flip, ``_current`` still names the old complete
    version; mid-flip (pointer missing), ``read_serving_table`` falls
    back to the newest ``_SUCCESS``-complete version dir — which is
    the fully-committed new one. The reference gets the equivalent
    guarantee from Postgres ``ON CONFLICT`` in one statement
    (/root/reference/dags/weather_daily_etl.py:197-206)."""
    return publish_version(
        df.sparkSession,
        path,
        lambda vdir: df.write.mode("overwrite").parquet(vdir),
    )


def publish_version(spark, path: str, build) -> str:
    """Generalized versioned publish: allocate ``path/v-<n+1>``, call
    ``build(version_dir)`` to materialize ANY layout inside it (a
    single parquet write, or several sub-directories — e.g. a
    compacted data tree plus a ledger), then mark the version complete
    (top-level ``_SUCCESS``), flip the ``_current`` pointer, and prune
    all but the previous version. Same crash contract as
    :func:`write_serving_version` (which is now a thin wrapper): the
    completeness marker is written only after ``build`` returns, so a
    crash mid-build leaves an ignored, marker-less directory and the
    pointer still naming the old complete version."""
    base = path.rstrip("/")
    jvm, fs, root = _hadoop_fs(spark, base)
    versions = _list_complete_versions(fs, jvm, root)
    nxt = (versions[-1][0] + 1) if versions else 1
    vname = f"v-{nxt:06d}"
    # a build that crashed under this name left an unmarked dir: start
    # empty, so none of its leaves survive a dynamic-overwrite build
    leftover = jvm.org.apache.hadoop.fs.Path(root, vname)
    if fs.exists(leftover):
        fs.delete(leftover, True)
    build(f"{base}/{vname}")
    marker = jvm.org.apache.hadoop.fs.Path(root, f"{vname}/_SUCCESS")
    if not fs.exists(marker):
        fs.create(marker, True).close()

    ptr = jvm.org.apache.hadoop.fs.Path(root, _PTR)
    ptr_tmp = jvm.org.apache.hadoop.fs.Path(root, _PTR + ".tmp")
    out = fs.create(ptr_tmp, True)
    out.write(bytearray(vname.encode("utf-8")))
    out.close()
    if fs.exists(ptr):
        fs.delete(ptr, False)
    if not fs.rename(ptr_tmp, ptr):
        raise IOError(f"pointer flip failed at {base}; new data at {vname}")

    # keep current + previous; prune older (crash mid-prune harmless)
    for _, old in versions[:-1]:
        fs.delete(jvm.org.apache.hadoop.fs.Path(root, old), True)
    return vname


def resolve_serving_version(spark, path: str) -> str | None:
    """Directory name of the live version at ``path``, or None when no
    complete version exists. Pointer first; newest complete version
    as the crash-recovery fallback (covers a writer dying mid-flip)."""
    base = path.rstrip("/")
    jvm, fs, root = _hadoop_fs(spark, base)
    ptr = jvm.org.apache.hadoop.fs.Path(root, _PTR)
    if fs.exists(ptr):
        stream = fs.open(ptr)
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        vname = reader.readLine()
        reader.close()
        if vname and fs.exists(
            jvm.org.apache.hadoop.fs.Path(root, f"{vname}/_SUCCESS")
        ):
            return vname
    versions = _list_complete_versions(fs, jvm, root)
    return versions[-1][1] if versions else None


def read_serving_table(spark, path: str) -> DataFrame:
    """Read the live version of the serving table at ``path``.

    Raises FileNotFoundError when no complete version exists — the
    ONLY condition under which a caller may treat the table as
    never-written. (The streaming merge paths rely on this contract:
    a broad except here would silently re-initialize the serving
    table after a crashed swap.)"""
    vname = resolve_serving_version(spark, path)
    if vname is None:
        raise FileNotFoundError(f"no complete serving version under {path}")
    return spark.read.parquet(f"{path.rstrip('/')}/{vname}")


def jdbc_writer(
    df: DataFrame,
    url: str,
    table: str,
    user: str,
    password: str,
    driver: str = "org.postgresql.Driver",
    mode: str = "append",
):
    """Configured-but-not-started JDBC append writer (stage-table
    load). Call ``.save()`` on the result where a driver jar exists;
    pair with operators.merge.upsert for the idempotent serving merge
    the reference does in raw SQL (weather_daily_etl.py:197-206)."""
    return (
        df.write.format("jdbc")
        .mode(mode)
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
        .option("driver", driver)
        .option("batchsize", 10_000)
    )


def write_jdbc(df: DataFrame, url: str, table: str, user: str, password: str,
               **kw) -> None:
    jdbc_writer(df, url, table, user, password, **kw).save()


def write_jsonl(
    df: DataFrame, path: str, compression: str | None = "gzip"
) -> None:
    """JSONL corpus sink — the LLM-data interchange format (one JSON
    object per line; what crawl dumps, tokenizer trainers, and most
    open-data releases exchange). Distributed write, one file per
    partition; gzip by default (JSONL compresses ~5-10x and every
    consumer streams .jsonl.gz natively). Spark's JSON sink is
    line-delimited by construction — no driver-side serialization."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_jsonl(spark, path: str, schema) -> DataFrame:
    """JSONL corpus source with an EXPLICIT schema (the S3 discipline:
    schema inference is a second full pass over 100 TB and silently
    widens types; an interchange reader must pin them). Accepts a
    DDL string or StructType; compression is sniffed per file."""
    return spark.read.schema(schema).json(path)


def write_csv(
    df: DataFrame, path: str, compression: str | None = "gzip"
) -> None:
    """CSV sink — the lowest-common-denominator ETL interchange (what
    spreadsheets, warehouses and legacy feeds exchange). RFC-4180
    quoting with escaped quotes and a header row; distributed write,
    one file per partition. Multiline fields are real (a quoted text
    column may embed newlines) — the reader must opt in, see
    :func:`read_csv`."""
    w = (
        df.write.mode("overwrite")
        .option("header", "true")
        .option("quote", '"')
        .option("escape", '"')
    )
    if compression:
        w = w.option("compression", compression)
    w.csv(path)


def read_csv(spark, path: str, schema) -> DataFrame:
    """CSV source with an EXPLICIT schema (the read_jsonl discipline —
    inference is a second full pass and silently widens types) and
    RFC-4180 quote/escape settings matching :func:`write_csv`.
    ``multiLine`` is on so quoted embedded newlines survive the
    round-trip; at 100 TB prefer newline-free text columns (multiLine
    CSV parsing cannot split files at arbitrary byte offsets — gzip
    files are whole-file tasks anyway, so the fixture default is the
    honest one)."""
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("quote", '"')
        .option("escape", '"')
        .option("multiLine", "true")
        .csv(path)
    )


def write_orc(
    df: DataFrame, path: str, compression: str = "zstd"
) -> None:
    """ORC sink — the Hive-ecosystem columnar interchange (what Hive,
    Trino/Presto and Iceberg-on-ORC warehouses exchange). Columnar
    with embedded statistics like parquet, so downstream engines get
    predicate pushdown and column pruning on the exported files too;
    zstd by default (matching the parquet sink's codec choice,
    session.py). Distributed write, one file per partition."""
    df.write.mode("overwrite").option("compression", compression).orc(path)


def read_orc(spark, path: str) -> DataFrame:
    """ORC source. ORC files carry their schema in the footer (unlike
    CSV/JSONL there is no inference pass to avoid — the reader probes
    footers only), so no explicit schema is required; pushdown and
    pruning work as with parquet."""
    return spark.read.orc(path)


def upsert_sql(
    table: str,
    stage: str,
    key_cols: list[str],
    value_cols: list[str],
    dialect: str = "postgres",
) -> str:
    """The one in-database statement of :func:`jdbc_upsert` — split
    out so the emitted SQL is unit-testable without a live server.

    ``dialect='postgres'`` emits the reference's native idiom
    (weather_daily_etl.py:197-206): ``INSERT ... ON CONFLICT (keys)
    DO UPDATE SET col = EXCLUDED.col``. ``dialect='merge'`` emits
    ANSI ``MERGE INTO`` (Derby/Oracle/SQLServer/DB2) — live-tested
    against the embedded Derby Spark ships."""
    # double-quote COLUMN identifiers: Spark's JDBC writer creates the
    # stage with QUOTED (case-exact) column names, so unquoted SQL
    # would case-fold away from them (Derby upper-cases, Postgres
    # lower-cases). Table names stay verbatim — Spark passes dbtable
    # through unquoted, so the server case-folds name and reference
    # consistently.
    def q(c: str) -> str:
        return '"' + c.replace('"', '""') + '"'

    cols = key_cols + value_cols
    collist = ", ".join(q(c) for c in cols)
    if dialect == "postgres":
        keys = ", ".join(q(c) for c in key_cols)
        sets = ", ".join(f"{q(c)} = EXCLUDED.{q(c)}" for c in value_cols)
        return (
            f"INSERT INTO {table} ({collist}) "
            f"SELECT {collist} FROM {stage} "
            f"ON CONFLICT ({keys}) DO UPDATE SET {sets}"
        )
    if dialect == "merge":
        on = " AND ".join(f"t.{q(c)} = s.{q(c)}" for c in key_cols)
        sets = ", ".join(f"t.{q(c)} = s.{q(c)}" for c in value_cols)
        vals = ", ".join(f"s.{q(c)}" for c in cols)
        return (
            f"MERGE INTO {table} t USING {stage} s ON ({on}) "
            f"WHEN MATCHED THEN UPDATE SET {sets} "
            f"WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ({vals})"
        )
    raise ValueError(f"unknown upsert dialect: {dialect}")


def jdbc_upsert(
    df: DataFrame,
    url: str,
    table: str,
    key_cols: list[str],
    user: str,
    password: str,
    driver: str = "org.postgresql.Driver",
    dialect: str = "postgres",
    collapse: str | None = "last",
) -> None:
    """Native in-database UPSERT into the user's EXISTING serving
    table — the deployment shape the reference runs in raw psql
    (weather_daily_etl.py:197-206) and the one surface the Spark-side
    merge + versioned publish did not cover: users pointing at a
    Postgres table someone else owns keep their table.

    Two phases, each in the right place:

    1. the BATCH moves distributed — Spark JDBC-appends it to a
       ``<table>__stage`` table (overwritten per call, so a crashed
       load replays cleanly); batch rows are first collapsed to one
       per key (``collapse='last'``/'avg', operators.merge semantics
       — both ON CONFLICT and MERGE reject a batch that hits the same
       target row twice), pass ``collapse=None`` for pre-deduped
       input;
    2. the MERGE happens server-side as ONE set statement
       (:func:`upsert_sql`) over the driver's JDBC connection — no
       row ever crosses back to Spark, the database's own MVCC makes
       the upsert atomic for readers.

    At 100 TB nothing here is corpus-sized: a serving upsert moves a
    daily batch, and the only non-distributed step is a constant-size
    SQL string."""
    from ..operators.merge import collapse_duplicates

    spark = df.sparkSession
    if collapse is not None:
        df = collapse_duplicates(df, key_cols, how=collapse)
    stage = f"{table}__stage"
    jdbc_writer(
        df, url, stage, user, password, driver=driver, mode="overwrite"
    ).save()
    value_cols = [c for c in df.columns if c not in key_cols]
    sql = upsert_sql(table, stage, key_cols, value_cols, dialect)
    jvm = spark._jvm
    jvm.java.lang.Class.forName(driver)
    conn = jvm.java.sql.DriverManager.getConnection(url, user, password)
    try:
        stmt = conn.createStatement()
        try:
            stmt.executeUpdate(sql)
        finally:
            stmt.close()
    finally:
        conn.close()
