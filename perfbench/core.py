"""Engine-independent helpers: percentiles, failure accounting, spans,
and metric assembly. Nothing here imports Spark, so the helpers are
unit-tested without a session (``perfbench/tests``)."""

from __future__ import annotations

import math
import os
import statistics
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

#: A tail percentile is published only with this many samples beyond it.
MIN_BEYOND = 10


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def samples_beyond(n: int, p: float) -> int:
    """Samples ranked above the nearest-rank ``p``-th percentile of ``n``."""
    return n - math.ceil(p / 100.0 * n)


def tail_percentile(xs: list[float], p: float) -> float | None:
    """Nearest-rank ``p``-th percentile, or None when fewer than
    :data:`MIN_BEYOND` samples lie beyond it (p90 needs 100 samples)."""
    n = len(xs)
    if n == 0 or samples_beyond(n, p) < MIN_BEYOND:
        return None
    return sorted(xs)[math.ceil(p / 100.0 * n) - 1]


# ------------------------------------------------------------------ failures


@dataclass
class Ledger:
    """Operations attempted and failed; a wrong result is a failure."""

    attempted: int = 0
    failed: int = 0
    failures: list[tuple[str, str]] = field(default_factory=list)

    def record(self, op: str, ok: bool, reason: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append((op, reason))
        return ok

    def check(self, op: str, fn) -> bool:
        """Run the check ``fn() -> (ok, reason)``; an exception is a miss."""
        try:
            ok, reason = fn()
        except Exception:  # the check's failure is the measurement
            ok, reason = False, traceback.format_exc(limit=3)
        return self.record(op, ok, reason)

    @property
    def error_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def all_pass(checks, result) -> tuple[bool, str]:
    """Apply each check ``(result) -> (ok, reason)`` in turn; the first
    miss is the outcome. No checks is a pass."""
    for check in checks:
        ok, reason = check(result)
        if not ok:
            return False, reason
    return True, ""


# --------------------------------------------------------------------- spans


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """Duration minus the part of the span's interval its children
    cover (overlapping children count once)."""
    iv = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.duration - covered


class Tracer:
    """In-memory spans around the benchmark's calls into the engine.

    ``on_enter(span)`` / ``on_exit(span, parent)`` let the Spark side
    set and restore a job group per span. A disabled tracer records
    nothing and calls no hooks, so untraced runs pay no tracing cost.
    """

    def __init__(self, enabled: bool = True, on_enter=None, on_exit=None):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0
        self._on_enter = on_enter
        self._on_exit = on_exit

    def _new_id(self) -> int:
        self._next_id += 1
        return self._next_id

    @contextmanager
    def op(self, name: str, layer: str = "op", **attrs):
        """A root span: spans opened inside share its op id."""
        with self.span(name, layer, _root=True, **attrs) as s:
            yield s

    @contextmanager
    def span(self, name: str, layer: str, _root: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = self._new_id()
        op_id = sid if (_root or parent is None) else parent.op_id
        s = Span(sid, name, layer, op_id, parent.span_id if parent else None,
                 time.perf_counter(), attrs=dict(attrs))
        self._stack.append(s)
        if self._on_enter:
            self._on_enter(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            if self._on_exit:
                self._on_exit(s, self._stack[-1] if self._stack else None)

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_times(self) -> dict[int, float]:
        kids = self.children()
        return {s.span_id: self_time(s, kids.get(s.span_id, [])) for s in self.spans}


# ---------------------------------------------------------------- processes


def _parents(proc: str) -> dict[int, int]:
    """pid -> parent pid of every live process."""
    out = {}
    for entry in os.listdir(proc):
        if not entry.isdigit():
            continue
        try:
            with open(f"{proc}/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process exited while we listed
            continue
        out[int(entry)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def descendants(root_pid: int, proc: str = "/proc") -> set[int]:
    """``root_pid`` and every live process below it."""
    parents = _parents(proc)
    out = set()
    for pid in parents:
        p = pid
        while p not in (root_pid, 0, 1) and p in parents:
            p = parents[p]
        if p == root_pid:
            out.add(pid)
    return out


# ------------------------------------------------------------------- metrics


def seconds_total(values: list[tuple[float, str]]) -> float:
    """Sum timings; a value in any unit but seconds is refused, so a
    count can never inflate a seconds metric."""
    bad = [u for _, u in values if u != "s"]
    if bad:
        raise ValueError(f"refusing to sum non-seconds units into seconds: {bad}")
    return sum(v for v, _ in values)


def wall_seconds(op_samples: dict[str, list[float]]) -> float:
    """Time to run the operation list once: the sum over operations of
    each one's median latency (seconds)."""
    return seconds_total([(median(xs), "s") for xs in op_samples.values()])


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def result_line(ledger: Ledger, metrics: dict[str, dict]) -> dict:
    return {
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": metrics,
    }
