"""The benchmark workloads.

Each workload generates its inputs from the seed and the fixture
tables, builds what a user would have built before the session
(``prebuild``, part of set-up), and lists the operations of one pass. An operation's ``run`` is the timed
region, from input to complete result; ``check`` verifies the result
outside it. Spans wrap every call into an engine layer; the harness
turns them into per-layer numbers when tracing is on.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import statistics
from collections.abc import Callable
from dataclasses import dataclass

from . import gen

Check = Callable[[object], tuple[bool, str]]


@dataclass
class Op:
    name: str
    run: Callable[[], object]
    #: verifies the result in the verification pass
    check: Check | None = None
    #: verifies the result on every pass, the verification pass included
    recheck: Check | None = None
    prepare: Callable[[], None] | None = None
    #: the workload's unit operation (day refresh, micro-batch)
    unit: bool = False
    #: replaces ``run`` in the verification pass when the timed form
    #: discards its result (a noop-sink write)
    verify_run: Callable[[], object] | None = None


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def _digest_obj(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()


def _count_files(path: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def _norm_value(v):
    if isinstance(v, float) and math.isnan(v):
        return None
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def rows_key(rows) -> list[tuple]:
    """Order-insensitive, comparable form of collected rows."""
    return sorted(
        (tuple(_norm_value(v) for v in r) for r in rows),
        key=lambda t: tuple((x is None, str(type(x)), x if x is not None else 0) for x in t),
    )


# ----------------------------------------------------------------- etl_batch


class EtlBatch:
    """Bronze JSON → silver → gold → idempotent serving upsert, day
    refreshes, then the relational set through the noop sink."""

    name = "etl_batch"
    UNIT_METRIC = "day_refresh_p50_s"
    #: The relational set over the fixture tables: TPC-H-style joins and
    #: aggregations, EXISTS/NOT EXISTS (DataFrame and SQL), windows,
    #: as-of join, sessionization, SCD2 history and an event rollup.
    QUERIES = [
        "q1_pricing_summary", "q3_top_unshipped_orders", "q5_nation_revenue",
        "q7_volume_shipping", "q10_returned_revenue", "q21_waiting_suppliers",
        "sql_q4_late_orders", "window_top_orders_per_customer",
        "window_running_customer_total", "asof_purchase_prior_view",
        "sessionize_user_events", "scd2_event_state_history", "events_daily_rollup",
    ]
    max_passes = None

    def __init__(self):
        self.sizes = gen.SIZES[self.name]

    def generate(self, seed: int, d: str) -> dict:
        s = self.sizes
        tables = gen.FIXTURES
        days = gen.bronze_days(seed, s)
        ordered = sorted(days)
        backfill, refresh = ordered[: s["backfill_days"]], ordered[s["backfill_days"]:]
        for day in backfill:
            gen.write_bronze_day(day, days[day], f"{d}/bronze")
        digest = gen.tree_digest(d) + _digest_obj({str(k): days[k] for k in refresh})
        return {"dir": d, "tables": tables, "days": days, "backfill": backfill,
                "refresh": refresh, "digest": digest}

    def prebuild(self, h, inp: dict) -> None:
        self.inp = inp

    def report_lines(self, samples: dict, unit: list[float]) -> list[str]:
        return []

    def ops(self, h) -> list[Op]:
        from pyspark_airflow_weather_etl_spark.pipeline import WeatherPipeline
        from pyspark_airflow_weather_etl_spark.plans import REGISTRY
        from pyspark_airflow_weather_etl_spark.sources.writers import (
            read_serving_table,
            write_serving_version,
        )

        inp, spark, tr = self.inp, h.spark, h.tracer
        d = inp["dir"]
        out = f"{d}/out"
        pipe = WeatherPipeline(spark, f"{d}/bronze", f"{out}/silver", f"{out}/gold")
        serving = f"{out}/serving"
        start, end = inp["backfill"][0], inp["backfill"][-1]

        def write(df):
            with tr.span("write_serving_version", "sources") as s:
                vname = write_serving_version(df, serving)
            if s is not None:
                s.attrs["files"], s.attrs["bytes"] = _count_files(f"{serving}/{vname}")

        def serving_rows():
            return rows_key(read_serving_table(spark, serving).collect())

        def backfill():
            with tr.span("run_silver", "pipeline"):
                pipe.run_silver(start, end)
            with tr.span("run_gold", "pipeline"):
                pipe.run_gold(start, end)

        # ``serve`` only plans the merge; it runs in the serving write.
        # So the serve span lasts until the version is published, and
        # pipeline.serve_s is reported inclusive of the write.
        def serve_first():
            with tr.span("load_gold", "sources"):
                target = spark.read.parquet(pipe.gold_path).where("false")
            with tr.span("serve", "pipeline"):
                write(pipe.serve(target, start, end))

        def serve_again(lo, hi):
            with tr.span("read_serving_table", "sources"):
                target = read_serving_table(spark, serving)
            with tr.span("serve", "pipeline"):
                write(pipe.serve(target, lo, hi))

        def refresh(day):
            with tr.span("run_silver", "pipeline"):
                pipe.run_silver(day, day)
            with tr.span("run_gold", "pipeline"):
                pipe.run_gold(day, day)
            serve_again(day, day)

        expected = gen.expected_gold(inp["days"])
        state = {}

        def check_days(days) -> Check:
            def check(_):
                cols = ("min_temp_c", "max_temp_c", "avg_temp_c", "precip_mm_sum",
                        "avg_humidity_pct")
                rows = {(r["y"], r["m"], r["d"]): tuple(r[c] for c in cols)
                        for r in read_serving_table(spark, serving).collect()}
                want_keys = {(x.year, x.month, x.day) for x in days}
                if not want_keys <= set(rows):
                    return False, f"serving lacks days {sorted(want_keys - set(rows))}"
                for k in want_keys:
                    got, want = rows[k], expected[k]
                    if not all(math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
                               for a, b in zip(got, want)):
                        return False, f"gold {k}: {got} != {want}"
                return True, ""
            return check

        def check_first(_):
            state["first"] = serving_rows()
            return check_days(inp["backfill"])(None)

        def check_idempotent(_):
            again = serving_rows()
            if again != state.get("first"):
                return False, "second serve changed the serving table"
            return True, ""

        ops = [
            Op("backfill", backfill, prepare=self._reset_pass),
            Op("serve_1", serve_first, check_first),
            Op("serve_2", lambda: serve_again(start, end), check_idempotent),
        ]
        landed = list(inp["backfill"])
        for i, day in enumerate(inp["refresh"]):
            landed = landed + [day]
            ops.append(Op(
                f"refresh_{i + 1}", lambda day=day: refresh(day), check_days(landed),
                prepare=lambda day=day: gen.write_bronze_day(
                    day, inp["days"][day], f"{d}/bronze"),
                unit=True,
            ))
        for q in self.QUERIES:
            ops.append(Op(q, lambda q=q: self._query(h, REGISTRY[q].fn, q),
                          lambda pdf, q=q: self._oracle(q, pdf),
                          verify_run=lambda q=q: REGISTRY[q].fn(spark, inp["tables"]).toPandas()))
        return ops

    def _reset_pass(self) -> None:
        d = self.inp["dir"]
        shutil.rmtree(f"{d}/out", ignore_errors=True)
        for day in self.inp["refresh"]:
            shutil.rmtree(f"{d}/bronze/y={day.year}/m={day.month:02d}/d={day.day:02d}",
                          ignore_errors=True)

    def _query(self, h, fn, name):
        tr = h.tracer
        with tr.span(name, "plans"):
            df = fn(h.spark, self.inp["tables"])
        with tr.span("noop_write", "operators"):
            df.write.format("noop").mode("overwrite").save()

    def _oracle(self, name, pdf) -> tuple[bool, str]:
        from pyspark_airflow_weather_etl_spark.plans import REGISTRY

        from .oracle import compare_to_duckdb

        return compare_to_duckdb(
            pdf, REGISTRY[name].oracle, self.inp["tables"], list(gen.FIXTURE_SHA256))


# ------------------------------------------------------------- ingest_stream

#: At-rest probe families of the ingest workload, in probe order.
FAMILIES = ("bm25", "sq8")

#: SQ8 is approximate: its top-k must recall at least this share of the
#: exact L2 top-k over the same vectors.
SQ8_RECALL_FLOOR = 0.9
#: A multi-term query whose top-k ranks many documents by score.
BM25_RANKED_QUERY = "table query scan"


class IngestStream:
    """Micro-batches streamed into the BM25 and SQ8 at-rest indexes, a
    read-after-write probe of each index after every batch, and a
    compaction of the BM25 delta tree. Pass k lands batch k, so the
    indexes accumulate one delta per pass: the verification pass probes
    one delta, the warm-up pass two, the first measured pass three."""

    name = "ingest_stream"
    UNIT_METRIC = "microbatch_p50_s"
    #: family -> (index directory, sub-directory holding its batch deltas)
    LAYOUT = {"bm25": ("bm25", "postings"), "sq8": ("sq8", "rows")}

    def __init__(self):
        self.sizes = gen.SIZES[self.name]
        #: one batch per pass, so a run holds at most this many passes
        self.max_passes = self.sizes["batches"]

    def generate(self, seed: int, d: str) -> dict:
        batches = gen.stream_batches(seed, f"{d}/staged", self.sizes)
        meta = [{k: v for k, v in b.items() if not k.endswith("_file")} for b in batches]
        return {"dir": d, "batches": batches,
                "digest": gen.tree_digest(f"{d}/staged") + _digest_obj(meta)}

    def prebuild(self, h, inp: dict) -> None:
        from pyspark_airflow_weather_etl_spark.session import streaming_session

        self.inp = inp
        spark = h.spark
        self.doc_schema = spark.read.parquet(inp["batches"][0]["doc_file"]).schema
        self.vec_schema = spark.read.parquet(inp["batches"][0]["vec_file"]).schema
        # The stream runs on this clone, so the listener must live here:
        # one registered on the caller's session hears nothing.
        self.ss = streaming_session(spark)
        if h.listener is not None:
            self.ss.streams.addListener(h.listener)
        self.p = _fresh(f"{inp['dir']}/index")
        for sub in ("docs_in", "vecs_in"):
            os.makedirs(f"{self.p}/{sub}")
        self.landed = 0

    def report_lines(self, samples: dict, unit: list[float]) -> list[str]:
        rows = self.sizes["docs_per_batch"] + self.sizes["vecs_per_batch"]
        probes = [x for k, xs in samples.items() if k.endswith("_probe") for x in xs]
        out = [f"ingest_rows_per_s {rows / statistics.median(unit):.1f} 1/s"] if unit else []
        if probes:
            out.append(f"probe_p50_ms {statistics.median(probes) * 1000:.2f} ms "
                       f"(n={len(probes)}, read-after-write)")
        return out

    @property
    def batch(self) -> dict:
        """The batch landed last."""
        return self.inp["batches"][self.landed - 1]

    def _land(self) -> None:
        """Stage the pass's batch in the streams' input directories."""
        b = self.landed
        batch = self.inp["batches"][b]
        shutil.copyfile(batch["doc_file"], f"{self.p}/docs_in/part-{b:05d}.parquet")
        shutil.copyfile(batch["vec_file"], f"{self.p}/vecs_in/part-{b:05d}.parquet")
        self.landed += 1

    def ops(self, h) -> list[Op]:
        return [
            Op("microbatch", lambda: self._microbatch(h), prepare=self._land, unit=True),
            Op("bm25_probe", lambda: self._probe(h, "bm25"),
               check=lambda rows: self._check_bm25_exact(h),
               recheck=self._check_bm25_marker),
            Op("sq8_probe", lambda: self._probe(h, "sq8"),
               check=self._check_sq8_recall, recheck=self._check_sq8_self),
            Op("compact", lambda: self._compact(h), check=lambda _: self._check_compact(h)),
        ]

    def _microbatch(self, h):
        from pyspark_airflow_weather_etl_spark.streaming.bm25_index import (
            run_streaming_bm25_index,
        )
        from pyspark_airflow_weather_etl_spark.streaming.sq8_index import (
            run_streaming_sq8_index,
        )

        tr, p = h.tracer, self.p
        with tr.span("run_streaming_bm25_index", "streaming"):
            run_streaming_bm25_index(self.ss, f"{p}/docs_in", f"{p}/bm25", self.doc_schema,
                                     checkpoint_dir=f"{p}/cp_bm25")
        with tr.span("run_streaming_sq8_index", "streaming"):
            run_streaming_sq8_index(self.ss, f"{p}/vecs_in", f"{p}/sq8", self.vec_schema,
                                    checkpoint_dir=f"{p}/cp_sq8")
        return self.batch["rows"]

    def _build(self, spark, fam: str, path: str):
        from pyspark_airflow_weather_etl_spark.operators.retrieval import bm25_topk_at_rest
        from pyspark_airflow_weather_etl_spark.operators.similarity import sq8_topk_at_rest

        if fam == "bm25":
            return bm25_topk_at_rest(spark, path, [(0, self.batch["marker"])], k=10)
        return sq8_topk_at_rest(spark, path, self.batch["probe_vec"], k=10)

    def _probe(self, h, fam: str):
        tr = h.tracer
        index, deltas = self.LAYOUT[fam]
        path = f"{self.p}/{index}"
        with tr.span("probe_index", "index") as s:
            if s is not None:
                s.attrs["delta_count"] = sum(
                    1 for e in os.listdir(f"{path}/{deltas}") if e.startswith("batch="))
            with tr.span(f"{fam}_topk_at_rest", "plans", family=fam):
                df = self._build(h.spark, fam, path)
            with tr.span("collect", "operators", family=fam):
                return df.collect()

    def _compact(self, h) -> str:
        from pyspark_airflow_weather_etl_spark.operators.retrieval import bm25_index_compact

        with h.tracer.span("bm25_index_compact", "index"):
            return bm25_index_compact(h.spark, f"{self.p}/bm25", f"{self.p}/bm25_compacted")

    # ------------------------------------------------------------- checks

    def _check_bm25_marker(self, rows) -> tuple[bool, str]:
        want = self.batch["marker_doc"]
        ids = [int(r["doc_id"]) for r in rows]
        return ids == [want], f"bm25 read-after-write returned {ids}, want [{want}]"

    def _check_sq8_self(self, rows) -> tuple[bool, str]:
        top = int(rows[0]["vec_id"]) if rows else None
        want = self.batch["probe_vec_id"]
        return top == want, f"sq8 read-after-write top-1 {top}, want {want}"

    def _bm25_queries(self) -> list[tuple[int, str]]:
        return [(0, BM25_RANKED_QUERY), (1, self.batch["marker"])]

    @staticmethod
    def _ranked(df) -> list[tuple]:
        return sorted((int(r["query_id"]), int(r["rnk"]), int(r["doc_id"]),
                       int(r["score_micro"])) for r in df.collect())

    def _check_bm25_exact(self, h) -> tuple[bool, str]:
        """The at-rest top-k over the delta tree equals the ad-hoc BM25
        scan over every document streamed so far."""
        from pyspark_airflow_weather_etl_spark.operators.retrieval import (
            bm25_topk,
            bm25_topk_at_rest,
        )

        q = self._bm25_queries()
        docs = h.spark.read.parquet(f"{self.p}/docs_in")
        want = self._ranked(bm25_topk(docs, q, k=10))
        got = self._ranked(bm25_topk_at_rest(h.spark, f"{self.p}/bm25", q, k=10))
        return got == want, f"bm25 at-rest {got[:3]}... != ad-hoc {want[:3]}..."

    def _check_sq8_recall(self, rows) -> tuple[bool, str]:
        """Recall of the SQ8 top-10 against the exact L2 top-10 over every
        vector streamed so far."""
        import numpy as np
        import pyarrow.parquet as pq

        t = pq.read_table(f"{self.p}/vecs_in")
        ids = t.column("vec_id").to_numpy()
        vecs = np.array(t.column("embedding").to_pylist())
        d = ((vecs - np.array(self.batch["probe_vec"])) ** 2).sum(axis=1)
        exact = set(ids[np.argsort(d, kind="stable")[:10]].tolist())
        recall = len(exact & {int(r["vec_id"]) for r in rows}) / len(exact)
        return recall >= SQ8_RECALL_FLOOR, f"sq8 recall@10 {recall:.2f} < {SQ8_RECALL_FLOOR}"

    def _check_compact(self, h) -> tuple[bool, str]:
        """The compacted index answers exactly as the delta tree does."""
        from pyspark_airflow_weather_etl_spark.operators.retrieval import (
            bm25_index_current,
            bm25_topk_at_rest,
        )

        q = self._bm25_queries()
        spark = h.spark
        want = self._ranked(bm25_topk_at_rest(spark, f"{self.p}/bm25", q, k=10))
        cur = bm25_index_current(spark, f"{self.p}/bm25_compacted")
        got = self._ranked(bm25_topk_at_rest(spark, cur, q, k=10))
        return got == want, f"compacted bm25 {got[:3]}... != delta tree {want[:3]}..."


WORKLOADS = {w.name: w for w in (EtlBatch, IngestStream)}
