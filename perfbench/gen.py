"""Seeded input generators for the benchmark.

Everything here is pure Python/NumPy and depends only on its seed, so the
same seed gives byte-identical inputs.  Nothing here touches Spark: the
engine receives only what these functions produce.

* ``write_tables`` — the fixture-shaped parquet tables (``events``,
  ``documents``, ``embeddings``) that the registered queries read, in the
  fixture schemas of ``FIXTURES.md``.
* ``nginx_lines`` — nginx JSON access-log lines in the reference wire
  format, including the edge rows the parser branches on, with the count
  of lines the producer validation keeps.
* ``doc_batches`` — document micro-batches for the corpus dedup loop:
  fresh docs plus near-duplicates of docs admitted in earlier batches.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np

# Table scale used by ``query_mix`` (about sf0.02 for events, with the
# corpus tables sized so the heavy corpus queries stay near one second).
TABLE_ROWS = {"events": 20_000, "documents": 1_000, "embeddings": 400}
TABLE_SEED = 42  # the query_mix tables are fixed; the run seed picks the ops
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
WORDS = (
    "query row stream the spark line small fast group customer batch sort value "
    "hash filter big data dup part column order scan a slow agg key window table "
    "merge vector join"
).split()
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
SCRUBBED_UA = "promtail/2.2.1"
N_IPS = 300  # distinct client addresses in the nginx lines


def _ts_us(rng: np.random.Generator, n: int, days: int) -> np.ndarray:
    """Sorted microsecond timestamps spread over ``days`` from EPOCH."""
    off = np.sort(rng.integers(0, days * 86_400_000_000, n))
    return np.datetime64("2024-01-01T00:00:00", "us") + off.astype("timedelta64[us]")


def _texts(rng: np.random.Generator, n: int, lo: int = 12, hi: int = 90) -> list[str]:
    lens = rng.integers(lo, hi, n)
    words = np.array(WORDS)
    return [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]


def _near_dup(rng: np.random.Generator, text: str) -> str:
    """One word replaced: word-3-shingle Jaccard stays above 0.85 for the
    lengths generated here."""
    toks = text.split()
    toks[int(rng.integers(0, len(toks)))] = "zz" + str(int(rng.integers(0, 1000)))
    return " ".join(toks)


def table_frames(seed: int = TABLE_SEED, rows: dict[str, int] | None = None) -> dict:
    """Fixture-schema tables as pyarrow Tables."""
    import pyarrow as pa

    rows = {**TABLE_ROWS, **(rows or {})}
    out = {}

    rng = np.random.default_rng([seed, 1])
    n = rows["events"]
    k = rng.integers(0, 100, n)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(_ts_us(rng, n, 30), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.lognormal(3.55, 1.1, n), 2)),
        "props": pa.array([f'{{"k": {int(v)}}}' for v in k]),
    })

    rng = np.random.default_rng([seed, 2])
    n = rows["documents"]
    texts = _texts(rng, n)
    # plant near-duplicate and exact-duplicate clusters so the pair
    # queries have work to verify
    for i in range(0, n, 25):
        j = int(rng.integers(0, n))
        if j != i:
            texts[j] = _near_dup(rng, texts[i]) if i % 50 else texts[i]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(["en", "es", "zh", "de", "fr"])[rng.integers(0, 5, n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    rng = np.random.default_rng([seed, 3])
    n = rows["embeddings"]
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n)
    vec = 0.5 * centers[label] + rng.normal(0, 1.0, (n, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    for i in range(0, n, 20):  # near-identical vectors for the cosine pairs
        vec[(i + 7) % n] = vec[i] + rng.normal(0, 0.01, 64)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    return out


def write_tables(dest: str) -> str:
    """Write the fixed tables as ``<dest>/<name>.parquet``."""
    import pyarrow.parquet as pq

    os.makedirs(dest, exist_ok=True)
    for name, table in table_frames().items():
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"))
    return dest


@dataclass
class LogBatch:
    """One file of nginx JSON lines and what the parser must keep of it."""

    lines: list[str]
    valid: int  # lines the producer validation and UA scrub keep
    per_date: dict[str, int] = field(default_factory=dict)
    rows: list[tuple] = field(default_factory=list)  # (ip, request_id, status, rt, ts)


def nginx_lines(
    seed: int, batch: int, n: int, start: datetime, span: timedelta
) -> LogBatch:
    """``n`` nginx events of one micro-batch, event time in [start, start+span).

    Edge rows (FIXTURES.md §A): 4% promtail agents (scrubbed), 2% missing
    ``status`` (dropped by producer validation), 1% malformed JSON, 3%
    non-numeric ``request_time`` (kept, cast to NULL), 3% shallow URIs."""
    rng = np.random.default_rng([seed, batch])
    kind = rng.random(n)
    offs = np.sort(rng.integers(0, int(span.total_seconds() * 1e6), n))
    ips = rng.integers(0, N_IPS, n)
    status = np.array([200, 200, 200, 301, 404, 500])[rng.integers(0, 6, n)]
    rt = np.round(rng.lognormal(-2.5, 1.0, n), 3)
    types = np.array(EVENT_TYPES)[rng.integers(0, 5, n)]
    out = LogBatch([], 0)
    for i in range(n):
        ts = start + timedelta(seconds=int(offs[i] // 1_000_000))  # nginx logs whole seconds
        rid = f"{seed:x}-{batch}-{i}"
        ip = f"10.{ips[i] // 256}.{ips[i] % 256}.7"
        uri = "/healthz" if 0.10 <= kind[i] < 0.13 else f"/api/{types[i]}/u{ips[i]}"
        ev = {
            "time_iso8601": ts.strftime("%Y-%m-%dT%H:%M:%S+00:00"),
            "remote_addr": ip,
            "request": f"GET {uri} HTTP/1.1",
            "request_uri": uri,
            "status": str(status[i]),
            "request_time": "-" if 0.13 <= kind[i] < 0.16 else f"{rt[i]:.3f}",
            "http_user_agent": SCRUBBED_UA if kind[i] < 0.04 else f"agent/{i % 7}",
            "request_method": "GET",
            "request_id": rid,
            "body_bytes_sent": str(int(rng.integers(100, 50_000))),
            "geoip2_country_code": "" if i % 11 == 0 else "US",
        }
        if 0.04 <= kind[i] < 0.06:
            del ev["status"]
        line = json.dumps(ev)
        if 0.06 <= kind[i] < 0.07:
            out.lines.append(line[: len(line) // 2])
            continue
        out.lines.append(line)
        if kind[i] < 0.06:
            continue
        out.valid += 1
        day = ts.strftime("%Y-%m-%d")
        out.per_date[day] = out.per_date.get(day, 0) + 1
        rtv = None if 0.13 <= kind[i] < 0.16 else float(f"{rt[i]:.3f}")
        out.rows.append((ip, rid, int(status[i]), rtv, ts.replace(tzinfo=None)))
    return out


@dataclass
class DocBatch:
    ids: list[int]
    texts: list[str]
    fresh: list[int]  # ids the loop must admit


def doc_batches(seed: int, size: int, dup_share: float = 0.2):
    """Endless document micro-batches: ``size`` docs each, ``dup_share`` of
    them near-duplicates (one word replaced) of docs admitted by earlier
    batches, the rest fresh random texts long enough that a fresh doc
    never collides with the store."""
    rng = np.random.default_rng([seed, 7])
    admitted: list[str] = []
    next_id = 0
    while True:
        n_dup = int(round(size * dup_share)) if admitted else 0
        fresh = _texts(rng, size - n_dup, 40, 90)
        src = rng.integers(0, max(len(admitted), 1), n_dup)
        docs = [(t, True) for t in fresh] + [
            (_near_dup(rng, admitted[int(s)]), False) for s in src
        ]
        docs = [docs[int(o)] for o in rng.permutation(size)]
        ids = list(range(next_id, next_id + size))
        yield DocBatch(ids, [t for t, _ in docs], [i for i, (_, f) in zip(ids, docs) if f])
        admitted += fresh
        next_id += size
