"""One benchmark run: a cold set-up that ends with a verification pass,
and a timed closed loop of whole passes over the workload's operation
list.

Single process, one client thread: each operation starts only after
the previous one returned. With tracing off the run reports the
end-to-end metrics; with tracing on, the per-layer metrics.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
import traceback

from .core import (
    Ledger,
    Tracer,
    all_pass,
    median,
    metric,
    tail_percentile,
    wall_seconds,
)
from .workloads import FAMILIES

#: Untimed passes after the verification pass: JIT compilation still
#: moved the second pass's wall time by ~18 % and CPU time by ~30 %.
WARMUP_PASSES = 1

#: (layer, span name) -> the per-layer metric that span's self time feeds
SPAN_METRIC = {
    ("sources", "write_serving_version"): "sources.write_s",
    ("pipeline", "run_silver"): "pipeline.silver_s",
    ("pipeline", "run_gold"): "pipeline.gold_s",
    ("pipeline", "serve"): "pipeline.serve_s",
    ("caching", "release_cached"): "caching.release_s",
    ("index", "bm25_index_compact"): "index.compact_s",
}
#: Spans whose metric is their whole duration, not their self time:
#: ``serve`` only plans the merge, which runs in the nested write.
INCLUSIVE = {("pipeline", "serve")}


class Harness:
    def __init__(self, root: str, workload, seed: int, seconds: float, trace: bool):
        self.root, self.wl, self.seed = root, workload, seed
        self.seconds, self.trace = seconds, trace
        self.work = os.path.join(root, ".bench_work", workload.name)
        self.cpus = min(4, os.cpu_count() or 1)
        self.ledger = Ledger()
        self.tracer = Tracer(enabled=False)
        self.spark = None
        self.listener = None
        self.session_start_s = 0.0
        self.setup_s = 0.0

    # ---------------------------------------------------------------- set-up

    def _start_session(self) -> None:
        from pyspark_airflow_weather_etl_spark.session import get_spark

        from .sparkside import session_confs

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.wl.name}", cpus=self.cpus, driver_memory="2g",
            extra_confs=session_confs(self.work, self.trace),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0

    def setup(self) -> None:
        """The cold set-up, timed as ``setup_s``: session start (the JVM
        launch included), input generation, prebuilds, and the
        verification pass, which is also every operation's first call
        (JIT, code generation, first-use caches). Then, untimed, the
        inputs are generated a second time and must hash identically."""
        from .gen import fixtures_intact
        from .sparkside import PhaseListener, job_group_tracer

        shutil.rmtree(self.work, ignore_errors=True)
        self.ledger.record("fixtures_intact", *fixtures_intact())
        t0 = time.perf_counter()
        self._start_session()
        if self.trace:
            self.listener = PhaseListener()
            self.tracer = job_group_tracer(self.spark.sparkContext)
            self.tracer.enabled = False
        inp = self.wl.generate(self.seed, os.path.join(self.work, "in"))
        self.wl.prebuild(self, inp)
        self.verify()
        self.setup_s = time.perf_counter() - t0
        again = self.wl.generate(self.seed, os.path.join(self.work, "in_again"))
        self.ledger.record(
            "inputs_deterministic", again["digest"] == inp["digest"],
            "the same seed generated different inputs",
        )
        shutil.rmtree(again["dir"], ignore_errors=True)

    # ---------------------------------------------------------------- passes

    def _release(self) -> None:
        from pyspark_airflow_weather_etl_spark.caching import release_cached

        with self.tracer.span("release_cached", "caching"):
            release_cached()

    def _run_op(self, op, pass_no: int, checking: bool):
        """Time one operation; returns its latency, or None if it failed."""
        if op.prepare:
            op.prepare()
        run = op.verify_run if checking and op.verify_run else op.run
        t0 = time.perf_counter()
        try:
            with self.tracer.op(op.name, pass_no=pass_no, unit=op.unit):
                result = run()
                self._release()
        except Exception:  # an engine failure is a measured outcome
            self.ledger.record(op.name, False, traceback.format_exc(limit=4))
            return None
        dt_s = time.perf_counter() - t0
        checks = [c for c in (op.check if checking else None, op.recheck) if c]
        self.ledger.check(op.name, lambda: all_pass(checks, result))
        return dt_s

    def verify(self) -> None:
        """Verification pass: every operation once, every check on,
        outside the timed window."""
        self.verify_s = {}
        for op in self.wl.ops(self):
            t0 = time.perf_counter()
            self._run_op(op, -1, checking=True)
            self.verify_s[op.name] = time.perf_counter() - t0

    def measure(self) -> dict:
        """After :data:`WARMUP_PASSES` untimed passes, whole passes until
        ``seconds`` elapsed, at least one, and no more than the
        workload's inputs allow. With tracing, even passes are traced
        and odd passes are not (at least two passes), so tracing
        overhead is measured in the same process."""
        ops = self.wl.ops(self)
        max_passes = self.wl.max_passes
        if max_passes is not None:
            max_passes -= 1 + WARMUP_PASSES  # the verification and warm-up passes
        for _ in range(WARMUP_PASSES):
            for op in ops:
                self._run_op(op, -1, checking=False)
        samples = {True: {}, False: {}}
        unit = {True: [], False: []}
        windows = []
        t_start = time.perf_counter()
        pass_no = 0
        while True:
            traced = self.trace and pass_no % 2 == 0
            if self.trace:
                self.tracer.enabled = traced
            p0 = time.time()
            for op in ops:
                dt_s = self._run_op(op, pass_no, checking=False)
                if dt_s is not None:
                    samples[traced].setdefault(op.name, []).append(dt_s)
                    if op.unit:
                        unit[traced].append(dt_s)
            windows.append((pass_no, traced, p0, time.time()))
            pass_no += 1
            if pass_no == max_passes or (
                    time.perf_counter() - t_start >= self.seconds and pass_no >= 1 + self.trace):
                break
        self.tracer.enabled = False
        return {"samples": samples, "unit": unit, "windows": windows,
                "passes": pass_no}

    def run(self) -> tuple[dict, list[str]]:
        self.setup()
        t0 = time.perf_counter()
        m = self.measure()
        lines = self._report(m)
        lines.insert(1, f"phases: setup {self.setup_s:.1f} s (session start "
                        f"{self.session_start_s:.1f} s), warm-up and measurement "
                        f"{time.perf_counter() - t0:.1f} s")
        if not self.trace:
            metrics = self._end_to_end(m)
            self.spark.stop()
            return metrics, lines
        metrics, per_pass = self._layer_metrics(m)
        self.listener.settle()
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()  # closes the event log
        metrics.update(self._task_metrics(m, app_id, per_pass))
        return metrics, lines

    # --------------------------------------------------------------- metrics

    def _end_to_end(self, m: dict) -> dict:
        samples = m["samples"][False]
        if not samples:
            raise RuntimeError("no successful timed operation")
        return {
            "wall_s": metric(wall_seconds(samples), "s"),
            "setup_s": metric(self.setup_s, "s"),
        }

    def _report(self, m: dict) -> list[str]:
        """Human-readable lines: every metric by name and unit, including
        the workload-specific latencies the JSON line does not gate."""
        unit = m["unit"][False] + m["unit"][True]
        name = self.wl.UNIT_METRIC
        lines = [
            f"workload {self.wl.name} seed {self.seed} cpus {self.cpus} "
            f"passes {m['passes']} trace {int(self.trace)}",
            f"attempted {self.ledger.attempted} ops, failed {self.ledger.failed}, "
            f"error_ratio {self.ledger.error_ratio:.4f}",
            f"setup_s {self.setup_s:.3f} s",
        ]
        if unit:
            p90 = tail_percentile(unit, 90)
            lines += [
                f"{name} {median(unit):.4f} s (n={len(unit)})",
                name.replace("p50", "p90") + " " + (
                    f"{p90:.4f} s" if p90 is not None
                    else f"not published (n={len(unit)} < 100)"),
            ]
        lines += self.wl.report_lines(m["samples"][False], unit)
        lines.append("verification pass: " + ", ".join(
            f"{k} {v:.2f} s" for k, v in self.verify_s.items()))
        for op_name, xs in m["samples"][False].items():
            lines.append(f"op {op_name} median_s {median(xs):.4f} n {len(xs)}")
        for op, reason in self.ledger.failures[:10]:
            lines.append(f"FAILED {op}: {reason.strip().splitlines()[-1][:300]}")
        return lines

    def _layer_metrics(self, m: dict) -> tuple[dict, dict]:
        """Per-layer numbers from the traced passes: span self times per
        layer, per pass, median over traced passes. Also returns the
        per-pass sums, keyed by pass number."""
        tr = self.tracer
        self_t = tr.self_times()
        roots = {s.span_id: s for s in tr.spans if s.parent is None}
        traced_passes = sorted({s.attrs["pass_no"] for s in roots.values()})
        per_pass = {p: {} for p in traced_passes}

        def add(p, key, v):
            per_pass[p][key] = per_pass[p].get(key, 0.0) + v

        fam_samples: dict[str, list[float]] = {}
        for s in tr.spans:
            p = roots[s.op_id].attrs["pass_no"]
            st = self_t[s.span_id]
            layer_key = SPAN_METRIC.get((s.layer, s.name))
            if layer_key:
                add(p, layer_key, s.duration if (s.layer, s.name) in INCLUSIVE else st)
            if s.layer == "sources" and s.name != "write_serving_version":
                add(p, "sources.load_s", st)
            if s.layer == "sources" and "files" in s.attrs:
                add(p, "sources.files_written", s.attrs["files"])
                add(p, "sources.bytes_written", s.attrs["bytes"])
            if s.layer == "plans":
                add(p, "plans.build_s", st)
            if s.layer == "operators":
                add(p, "operators.exec_s", st)
            if "delta_count" in s.attrs:
                per_pass[p]["index.delta_count"] = max(
                    per_pass[p].get("index.delta_count", 0), s.attrs["delta_count"])
            fam = s.attrs.get("family")
            if fam:
                kind = "plans.build_s" if s.layer == "plans" else "operators.exec_s"
                fam_samples.setdefault(f"{kind}.{fam}", []).append(st)
            if s.parent is None:
                add(p, "_op_s", s.duration)

        keys = [
            "sources.load_s", "sources.write_s", "sources.files_written",
            "sources.bytes_written", "pipeline.silver_s", "pipeline.gold_s",
            "pipeline.serve_s", "plans.build_s", "operators.exec_s",
            "caching.release_s", "index.compact_s", "index.delta_count",
        ]
        units = {k: ("count" if k.endswith(("_written", "_count")) else "s")
                 for k in keys}
        units["sources.bytes_written"] = "bytes"
        out = {}
        for k in keys:
            out[k] = metric(median([per_pass[p].get(k, 0.0) for p in traced_passes]), units[k])
        out["session.start_s"] = metric(self.session_start_s, "s")
        for fam in FAMILIES:
            for kind in ("plans.build_s", "operators.exec_s"):
                xs = fam_samples.get(f"{kind}.{fam}", [])
                out[f"{kind}.{fam}"] = metric(median(xs) if xs else 0.0, "s")
        traced_wall = wall_seconds(m["samples"][True])
        plain_wall = wall_seconds(m["samples"][False])
        out["trace.wall_s"] = metric(traced_wall, "s")
        out["trace.overhead_s"] = metric(traced_wall - plain_wall, "s")
        return out, per_pass

    def _task_metrics(self, m: dict, app_id: str, per_pass: dict) -> dict:
        """Job, stage and task counts and task metrics from the event log,
        attributed to spans by job group (by time for streaming batches),
        plus the streaming listener's micro-batch phases."""
        from .sparkside import attribute_jobs, job_totals, read_event_log

        tr = self.tracer
        by_span = attribute_jobs(tr.spans, read_event_log(self.work, app_id))
        roots = {s.span_id: s for s in tr.spans if s.parent is None}
        spans = {s.span_id: s for s in tr.spans}
        passes = sorted(per_pass)
        jobs_pass = {p: [] for p in passes}
        build_jobs = {p: 0 for p in passes}
        fam_counts: dict[str, list[int]] = {}
        op_jobs: dict[int, list[dict]] = {}
        for sid, jobs in by_span.items():
            s = spans[sid]
            p = roots[s.op_id].attrs["pass_no"]
            jobs_pass[p].extend(jobs)
            op_jobs.setdefault(s.op_id, []).extend(jobs)
            if s.layer == "plans":
                build_jobs[p] += len(jobs)
        op_family = {s.op_id: s.attrs["family"] for s in tr.spans if "family" in s.attrs}
        for op_id, fam in op_family.items():
            t = job_totals(op_jobs.get(op_id, []))
            fam_counts.setdefault(f"operators.jobs.{fam}", []).append(t["jobs"])
            fam_counts.setdefault(f"operators.tasks.{fam}", []).append(t["tasks"])
        totals = {p: job_totals(jobs_pass[p]) for p in passes}
        op_s = {p: per_pass[p].get("_op_s", 0.0) for p in passes}

        def med(f):
            return median([f(p) for p in passes])

        out = {
            "plans.build_jobs": metric(med(lambda p: build_jobs[p]), "count"),
            "operators.jobs": metric(med(lambda p: totals[p]["jobs"]), "count"),
            "operators.stages": metric(med(lambda p: totals[p]["stages"]), "count"),
            "operators.tasks": metric(med(lambda p: totals[p]["tasks"]), "count"),
            "operators.failed_tasks": metric(med(lambda p: totals[p]["failed_tasks"]), "count"),
            "operators.task_run_s": metric(med(lambda p: totals[p]["run_ms"] / 1e3), "s"),
            "operators.task_cpu_s": metric(med(lambda p: totals[p]["cpu_ns"] / 1e9), "s"),
            "operators.gc_s": metric(med(lambda p: totals[p]["gc_ms"] / 1e3), "s"),
            "operators.shuffle_read_bytes": metric(
                med(lambda p: totals[p]["shuffle_read"]), "bytes"),
            "operators.shuffle_write_bytes": metric(
                med(lambda p: totals[p]["shuffle_write"]), "bytes"),
            "operators.spill_bytes": metric(med(lambda p: totals[p]["spill"]), "bytes"),
            "operators.slot_util": metric(med(
                lambda p: totals[p]["run_ms"] / 1e3 / (op_s[p] * self.cpus)
                if op_s[p] else 0.0), "ratio"),
        }
        for fam in FAMILIES:
            for kind in ("operators.jobs", "operators.tasks"):
                xs = fam_counts.get(f"{kind}.{fam}", [])
                out[f"{kind}.{fam}"] = metric(median(xs) if xs else 0, "count")
        out.update(self._stream_metrics(m))
        return out

    def _stream_metrics(self, m: dict) -> dict:
        phases = {
            "streaming.trigger_ms": "triggerExecution",
            "streaming.add_batch_ms": "addBatch",
            "streaming.query_planning_ms": "queryPlanning",
            "streaming.wal_commit_ms": "walCommit",
            "streaming.latest_offset_ms": "latestOffset",
        }
        traced = [(p0, p1) for _, t, p0, p1 in m["windows"] if t]
        events = []
        for ev in self.listener.progress if self.listener else []:
            ts = dt.datetime.strptime(ev["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
                tzinfo=dt.timezone.utc).timestamp()
            for i, (p0, p1) in enumerate(traced):
                if p0 <= ts <= p1 and ev["rows"] > 0:
                    events.append((i, ev))
        out = {}
        for name, key in phases.items():
            xs = [ev["duration_ms"].get(key, 0) for _, ev in events]
            out[name] = metric(median(xs) if xs else 0.0, "ms")
        n_pass = max(len(traced), 1)
        per = [[ev for i, ev in events if i == k] for k in range(n_pass)]
        out["streaming.batches"] = metric(median([len(x) for x in per]), "count")
        out["streaming.input_rows"] = metric(
            median([sum(ev["rows"] for ev in x) for x in per]), "count")
        out["index.append_s"] = metric(median(
            [sum(ev["duration_ms"].get("addBatch", 0) for ev in x) / 1e3 for x in per]), "s")
        return out

