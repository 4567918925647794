"""Query catalog — importing this package populates the registry.

The correctness driver walks ``queries()`` in dict order under a
per-round budget (~50 names a round) and records each round's rows in
``CORRECTNESS_r<N>.json`` at the repository root. The registry is
ordered from those records by :func:`.registry.schedule`: names never
sampled, or whose newest row is not green, first; then the rest by the
round of their newest row, oldest round first, so stale green (code
refactored since it was last checked) re-runs before fresh green.
Within a group, and with no records at all, names keep their
registration order (module import order below, then definition order).
"""

from pathlib import Path

from . import (  # noqa: F401
    relational,
    simplans,
    sqlplans,
    statplans,
    streamplans,
    temporal,
    textplans,
    weatherplans,
    bucketplans,
    tpchplans,
    curationplans,
    bpeplans,
    pqplans,
    kmeansplans,
    unigramplans,
    classifierplans,
    pcaplans,
    bloomplans,
    sketchplans,
    retrievalplans,
)
from .registry import REGISTRY, oracles, queries, schedule  # noqa: F401

_RECORDS_DIR = Path(__file__).resolve().parents[2]

for _name in schedule(list(REGISTRY), _RECORDS_DIR):
    REGISTRY[_name] = REGISTRY.pop(_name)
