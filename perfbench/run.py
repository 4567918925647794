"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 5 --trace 0

Run from the repository root. Prints human-readable lines, then as the
last line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Exits non-zero without a result when the
engine package is missing or a run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _environment() -> None:
    """Keep every file inside the checkout and let Spark's Python workers
    import the engine: they see the package only through PYTHONPATH,
    not through the Spark driver's ``sys.path``."""
    tmp = os.path.join(ROOT, ".bench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import pyspark_airflow_weather_etl_spark as engine
    except ImportError as e:
        print(f"engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
        print(f"engine package imported from {engine.__file__}, not {ROOT}", file=sys.stderr)
        return 2

    from perfbench.core import result_line
    from perfbench.harness import Harness

    h = Harness(ROOT, WORKLOADS[args.workload](), args.seed, args.seconds, bool(args.trace))
    try:
        metrics, lines = h.run()
    finally:
        _stop_children()
    for line in lines:
        print(line)
    print(json.dumps(result_line(h.ledger, metrics)), flush=True)
    return 0


def _stop_children(timeout: float = 60.0) -> None:
    """Stop the Spark JVM this process launched and wait until it and
    every process below it (the Python worker daemon) have ended."""
    from pyspark import SparkContext

    from perfbench.core import descendants

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=timeout)
    deadline = time.time() + timeout
    while True:
        left = [p for p in descendants(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                os.kill(p, signal.SIGKILL)
            return
        time.sleep(0.2)


if __name__ == "__main__":
    _environment()
    sys.exit(main())
