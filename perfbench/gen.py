"""Seeded input generators for the benchmark workloads.

The relational tables and the document and embedding corpus are the
repository's ``sf0.01`` fixture tables, shipped read-only under
``fixtures/sf0.01`` (:data:`FIXTURES`). What changes with the seed is
generated here into plain files (JSON lines through ``json``, parquet
through pyarrow) — no Spark, so the engine under test never touches
input preparation:

- Open-Meteo bronze landings (one JSON document per location-day) for
  the pipeline's backfill and day refreshes;
- micro-batches for the ingest workload, drawn from the fixture corpus
  with seeded token edits and vector perturbations.

The same seed gives byte-identical files; :func:`tree_digest` hashes a
generated tree so a run can check that.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The fixture tables every workload reads, inside the checkout.
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01")

#: SHA-256 of each fixture file; set-up refuses a changed fixture.
FIXTURE_SHA256 = {
    "customer": "a7748ced9c4d47fe054c27a2805636a6c034e95abea9eef49cf9b5fd1d1a4fcb",
    "documents": "3882fed1c345efc5111415b19fba244a14ef57410e9d9b20cae2201317be6d84",
    "embeddings": "5bd2b0f09265a0662f08b1eae03a396df1c566e4d387e2ac7bd0b2d278df9cde",
    "events": "bb5b2c28f8905d984c38279d3894d4db0edc24cb025763bfdfada8adc58789c0",
    "lineitem": "4838c2d835f3035ec106897d3659af94bb76dd8245401f0e937f9a60fab282ee",
    "nation": "590830f49a4bd515abef3c3e70cd5ec083b2977574ca9867317d5545413b3696",
    "orders": "5676f9128455769b5b05d42c22f98cf2ce9ee7dc965a02c85a3813127dee6ba8",
    "part": "bd41856c401f578da41a6cb44c863f8a98081b611257a4e4c5cbc6ec970a11e1",
    "region": "ce0717013cdeb77e1b29870f1f191f46bd2f0c661a18364441ac008e0e5c00a0",
    "supplier": "d7424445156dfe7e4c39d79919e548f373530edbb56d4bbc4a0742fca82e4ee6",
}

#: Sizes of every generated input, by workload. README.md records why.
SIZES = {
    "etl_batch": {
        "locations": 8,
        "backfill_days": 4,
        "refresh_days": 2,
        "dup_rate": 0.10,
        "missing_metric_rate": 0.05,
    },
    "ingest_stream": {
        "batches": 6,
        "docs_per_batch": 100,
        "vecs_per_batch": 100,
        "token_edit_rate": 0.1,
        "vec_noise": 0.05,
    },
}

_STREAMS = {"bronze": 9, "batches": 14}

#: Streamed documents and vectors get ids above every fixture id.
ID_BASE = 1_000_000


def rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, input): adding an input never
    shifts another input's values."""
    return np.random.default_rng([seed, _STREAMS[stream]])


def fixtures_intact(root: str = FIXTURES) -> tuple[bool, str]:
    """Every fixture file is present with its recorded digest."""
    for name, want in FIXTURE_SHA256.items():
        path = f"{root}/{name}.parquet"
        if not os.path.exists(path):
            return False, f"missing fixture {path}"
        with open(path, "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != want:
                return False, f"fixture {path} changed"
    return True, ""


# ------------------------------------------------------------------ weather


def bronze_days(seed: int, sizes: dict) -> dict[dt.date, list[dict]]:
    """Open-Meteo bronze documents by landing day: one document per
    location-day with 24 parallel hourly arrays. A fixed share of
    documents lands twice (duplicate delivery) and a fixed share lacks
    one metric array (schema drift); both are drawn from the seed."""
    r = rng(seed, "bronze")
    n_loc = sizes["locations"]
    lats = np.round(r.uniform(-60, 70, n_loc), 2)
    lons = np.round(r.uniform(-170, 170, n_loc), 2)
    metrics = ["temperature_2m", "relative_humidity_2m", "precipitation"]
    n_days = sizes["backfill_days"] + sizes["refresh_days"]
    out: dict[dt.date, list[dict]] = {}
    for k in range(n_days):
        day = dt.date(2024, 3, 1) + dt.timedelta(days=k)
        docs = []
        for i in range(n_loc):
            hourly = {"time": [f"{day.isoformat()}T{h:02d}:00" for h in range(24)]}
            base = r.uniform(-5, 25)
            hourly["temperature_2m"] = np.round(base + r.normal(0, 3, 24), 2).tolist()
            hourly["relative_humidity_2m"] = np.round(r.uniform(20, 100, 24), 1).tolist()
            hourly["precipitation"] = np.round(
                r.exponential(0.4, 24) * (r.random(24) < 0.3), 2).tolist()
            if r.random() < sizes["missing_metric_rate"]:
                del hourly[metrics[int(r.integers(0, 3))]]
            doc = {"latitude": float(lats[i]), "longitude": float(lons[i]),
                   "timezone": "UTC", "hourly": hourly}
            docs.append(doc)
            if r.random() < sizes["dup_rate"]:
                docs.append(doc)
        out[day] = docs
    return out


def write_bronze_day(day: dt.date, docs: list[dict], bronze_dir: str) -> None:
    """Land one day under the hive layout ``y=/m=/d=`` as JSON lines."""
    d = f"{bronze_dir}/y={day.year}/m={day.month:02d}/d={day.day:02d}"
    os.makedirs(d, exist_ok=True)
    with open(f"{d}/openmeteo_{day.isoformat()}.json", "w") as f:
        for doc in docs:
            f.write(json.dumps(doc) + "\n")


def expected_gold(days: dict[dt.date, list[dict]]) -> dict[tuple, tuple]:
    """Reference answer for silver→gold over ``days``: hourly rows
    deduplicated on (lat, lon, hour), then per-day min/max/avg
    temperature, precipitation sum and average humidity (nulls skipped,
    as SQL aggregates do)."""
    out = {}
    for day, docs in days.items():
        seen = {}
        for doc in docs:
            h = doc["hourly"]
            for j, t in enumerate(h["time"]):
                key = (doc["latitude"], doc["longitude"], t)
                seen[key] = tuple(
                    h[m][j] if m in h else None
                    for m in ("temperature_2m", "relative_humidity_2m", "precipitation")
                )
        cols = list(zip(*seen.values()))
        temp, hum, prec = ([v for v in c if v is not None] for c in cols)
        out[(day.year, day.month, day.day)] = (
            min(temp), max(temp), sum(temp) / len(temp),
            sum(prec), sum(hum) / len(hum),
        )
    return out


# --------------------------------------------------------- text and vectors


def _edit_tokens(r: np.random.Generator, text: str, vocab: np.ndarray, rate: float) -> str:
    """Replace each token with a random vocabulary token at ``rate``."""
    toks = np.array(text.split(" "), dtype=object)
    hit = r.random(len(toks)) < rate
    toks[hit] = vocab[r.integers(0, len(vocab), int(hit.sum()))]
    return " ".join(toks)


def stream_batches(seed: int, out_dir: str, sizes: dict) -> list[dict]:
    """Micro-batch files for the ingest workload, drawn from the fixture
    ``documents`` and ``embeddings``: sampled rows under fresh ids,
    seeded token edits on the text and Gaussian noise on the (re-
    normalised) vectors. Each document batch plants one marker token in
    one of its documents, so a read-after-write BM25 probe has exactly
    one right answer from that batch."""
    r = rng(seed, "batches")
    docs = pq.read_table(f"{FIXTURES}/documents.parquet")
    texts = docs.column("text").to_pylist()
    vocab = np.array(sorted({w for t in texts for w in t.split(" ")}))
    emb_table = pq.read_table(f"{FIXTURES}/embeddings.parquet")
    emb = np.array(emb_table.column("embedding").to_pylist(), dtype="float64")
    labels = emb_table.column("label").to_numpy()
    nd, nv = sizes["docs_per_batch"], sizes["vecs_per_batch"]
    out = []
    for b in range(sizes["batches"]):
        rows = r.choice(len(texts), nd, replace=False)
        doc_ids = ID_BASE + b * nd + np.arange(nd)
        batch = docs.take(pa.array(rows)).set_column(
            0, "doc_id", pa.array(doc_ids, pa.int64()))
        new_texts = [_edit_tokens(r, texts[i], vocab, sizes["token_edit_rate"]) for i in rows]
        marker_row = int(r.integers(0, nd))
        marker = f"zqx{b}mark"
        new_texts[marker_row] = f"{new_texts[marker_row]} {marker}"
        batch = batch.set_column(1, "text", pa.array(new_texts))
        batch = batch.set_column(
            4, "n_chars", pa.array([len(t) for t in new_texts], pa.int64()))

        vrows = r.choice(len(emb), nv, replace=False)
        v = emb[vrows]
        v = v + r.normal(0, sizes["vec_noise"], v.shape)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        vec_ids = ID_BASE + b * nv + np.arange(nv)
        vecs = pa.table({
            "vec_id": pa.array(vec_ids, pa.int64()),
            "embedding": pa.array(list(v.astype("float32")), pa.list_(pa.float32())),
            "label": pa.array(labels[vrows], pa.int32()),
        })
        probe_row = int(r.integers(0, nv))
        doc_file = f"{out_dir}/docs/part-{b:05d}.parquet"
        vec_file = f"{out_dir}/vecs/part-{b:05d}.parquet"
        _write(batch, doc_file)
        _write(vecs, vec_file)
        out.append({
            "doc_file": doc_file,
            "vec_file": vec_file,
            "marker": marker,
            "marker_doc": int(doc_ids[marker_row]),
            "probe_vec": vecs.column("embedding")[probe_row].as_py(),
            "probe_vec_id": int(vec_ids[probe_row]),
            "rows": nd + nv,
        })
    return out


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table.replace_schema_metadata(None), path, compression="snappy")


# ------------------------------------------------------------- determinism


def tree_digest(root: str) -> str:
    """SHA-256 over every file under ``root`` (relative path + bytes),
    in sorted order."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
