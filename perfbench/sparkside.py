"""Spark-facing measurement: session confs, job-group tagging per span,
event-log task metrics, and a streaming progress listener.

All of it observes the engine from outside through public Spark
surfaces — a job group per span, a local event-log directory, and a
``StreamingQueryListener`` — so nothing is traced inside the package.
"""

from __future__ import annotations

import glob
import json
import os
import time

from pyspark.sql.streaming import StreamingQueryListener

from .core import Span, Tracer

GROUP_PREFIX = "pb-"


def session_confs(work: str, trace: bool) -> dict[str, str]:
    """Static confs that keep every file the session writes inside the
    benchmark's work directory; with ``trace`` also a local event log."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        ),
        "spark.hadoop.hadoop.tmp.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": logs,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return confs


def job_group_tracer(sc) -> Tracer:
    """A tracer whose spans each own a Spark job group: jobs a span's
    code submits carry ``pb-<span id>``, and the enclosing span's group
    is restored on exit, so each job is attributed to the innermost
    span that ran it."""

    def enter(span: Span) -> None:
        span.attrs["epoch_start"] = time.time()
        sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{span.span_id}")

    def exit_(span: Span, parent: Span | None) -> None:
        span.attrs["epoch_end"] = time.time()
        sc.setLocalProperty(
            "spark.jobGroup.id",
            f"{GROUP_PREFIX}{parent.span_id}" if parent else None,
        )

    return Tracer(True, enter, exit_)


class PhaseListener(StreamingQueryListener):
    """Collects the micro-batch phase durations Spark reports per batch."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append({
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "rows": p.numInputRows,
            "timestamp": p.timestamp,
            "duration_ms": dict(p.durationMs),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def settle(self, timeout: float = 5.0) -> None:
        """Wait until the asynchronous listener bus stops delivering."""
        deadline = time.time() + timeout
        n = -1
        while time.time() < deadline and n != len(self.progress):
            n = len(self.progress)
            time.sleep(0.3)


def read_event_log(work: str, app_id: str) -> dict:
    """Jobs, stages and task metrics of one application's event log.

    Returns ``{job_id: job}``; each job has its group, submission time
    (epoch s), and per-stage task counts and task-metric sums."""
    paths = [p for p in glob.glob(os.path.join(work, "eventlog", f"*{app_id}*"))
             if os.path.isfile(p)]
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submitted": ev.get("Submission Time", 0) / 1000.0,
                    "stages": {},
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                st = jobs[jid]["stages"].setdefault(ev["Stage ID"], _zero_stage())
                _add_task(st, ev)
    return jobs


def _zero_stage() -> dict:
    return {"tasks": 0, "failed_tasks": 0, "run_ms": 0, "cpu_ns": 0,
            "gc_ms": 0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0}


def _add_task(st: dict, ev: dict) -> None:
    st["tasks"] += 1
    info = ev.get("Task Info") or {}
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    if info.get("Failed") or reason != "Success":
        st["failed_tasks"] += 1
    m = ev.get("Task Metrics") or {}
    st["run_ms"] += m.get("Executor Run Time", 0)
    st["cpu_ns"] += m.get("Executor CPU Time", 0)
    st["gc_ms"] += m.get("JVM GC Time", 0)
    rd = m.get("Shuffle Read Metrics") or {}
    st["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)


def attribute_jobs(spans: list[Span], jobs: dict[int, dict]) -> dict[int, list[dict]]:
    """Jobs per span id. A job tagged with a span's group belongs to that
    span. Untagged jobs — a streaming query runs its batches under its
    own run-id group — go to the innermost span whose wall-clock
    interval contains the job's submission."""
    by_id = {s.span_id: s for s in spans}
    out: dict[int, list[dict]] = {}
    timed = sorted(
        (s for s in spans if "epoch_start" in s.attrs),
        key=lambda s: s.attrs["epoch_end"] - s.attrs["epoch_start"],
    )
    for job in jobs.values():
        g = job["group"] or ""
        sid = None
        if g.startswith(GROUP_PREFIX) and int(g[len(GROUP_PREFIX):]) in by_id:
            sid = int(g[len(GROUP_PREFIX):])
        else:
            for s in timed:  # shortest containing span = innermost
                if s.attrs["epoch_start"] <= job["submitted"] <= s.attrs["epoch_end"]:
                    sid = s.span_id
                    break
        if sid is not None:
            out.setdefault(sid, []).append(job)
    return out


def job_totals(jobs: list[dict]) -> dict:
    """Counts and task-metric sums over ``jobs``; a stage counts once it
    ran at least one task (skipped stages are not work)."""
    t = {"jobs": len(jobs), "stages": 0, **_zero_stage()}
    for job in jobs:
        for st in job["stages"].values():
            if st["tasks"]:
                t["stages"] += 1
            for k, v in st.items():
                t[k] += v
    return t
