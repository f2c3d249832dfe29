"""Seeded input generators. The same seed always gives the same inputs.

Two kinds of input:

- metric stores (``dash_ingest``): hosts x metric families,
  labels ``hostname`` and ``dc``, one sample per minute. Counter families
  are monotone so RATE is meaningful; gauge families wander.
- registry tables (``batch_heavy``): ``events``, ``documents`` and
  ``embeddings`` parquet files with the column shapes the registry
  queries read (FIXTURES.md section 2): events over January 2024 (the
  registry pins NOW to 2024-01-31), documents drawn from a small
  vocabulary with about 5% near-duplicates, unit-norm 64-d embeddings.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MINUTE_MS = 60_000
DAY_MS = 86_400_000
# Fixed simulated clock: inputs never depend on the wall clock.
EPOCH_MS = int(dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc).timestamp() * 1000)

# family -> kind. "counter" series are cumulative (RATE target);
# "gauge" series wander around a per-series level.
FAMILIES = {
    "/bench/net/rx_bytes": "counter",
    "/bench/disk/ops": "counter",
    "/bench/cpu/user": "gauge",
    "/bench/mem/used": "gauge",
}
N_DC = 4


def host_name(h: int) -> str:
    return f"host{h:04d}"


def dc_name(h: int) -> str:
    return f"dc{h % N_DC}"


def series_labels(h: int) -> dict:
    return {"hostname": host_name(h), "dc": dc_name(h)}


def series_values(rng: np.random.Generator, kind: str, n: int) -> np.ndarray:
    """n consecutive one-minute samples of one series, rounded to
    1/1024 so sums are exact in binary floating point."""
    if kind == "counter":
        steps = rng.gamma(4.0, 250.0, size=n)
        vals = np.cumsum(steps) + rng.uniform(0, 1e6)
    else:
        level = rng.uniform(10, 90)
        vals = level + np.cumsum(rng.normal(0, 0.5, size=n))
    return np.round(vals * 1024) / 1024


def metric_points(seed: int, hosts: int, families: dict, start_ms: int,
                  n_minutes: int) -> pa.Table:
    """Points table (name, labels, ts, dval, sval) for every
    host x family series over ``n_minutes`` one-minute samples."""
    rng = np.random.default_rng(seed)
    names, labels, ts, vals = [], [], [], []
    t = start_ms + MINUTE_MS * np.arange(n_minutes, dtype=np.int64)
    for fam, kind in families.items():
        for h in range(hosts):
            lab = list(series_labels(h).items())
            names.append(np.full(n_minutes, fam, dtype=object))
            labels.extend([lab] * n_minutes)
            ts.append(t)
            vals.append(series_values(rng, kind, n_minutes))
    n = len(labels)
    return pa.table({
        "name": pa.array(np.concatenate(names), pa.string()),
        "labels": pa.array(labels, pa.map_(pa.string(), pa.string())),
        "ts": pa.array(np.concatenate(ts) * 1000, pa.timestamp("us")),
        "dval": pa.array(np.concatenate(vals), pa.float64()),
        "sval": pa.nulls(n, pa.string()),
    })


# ---- registry tables ------------------------------------------------------

_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_VOCAB = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    start = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    ts = np.sort(rng.integers(0, 30 * DAY_MS * 1000, size=n)) + start
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, size=n), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, size=n), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
                          pa.string()),
    })


def documents_table(rng: np.random.Generator, n: int, dup_share: float = 0.05) -> pa.Table:
    vocab = np.array(_VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=rng.integers(6, 100))])
             for _ in range(n)]
    # near-duplicates: a copy of another document with one token appended
    for i in np.flatnonzero(rng.random(n) < dup_share):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, size=n, p=_LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    x = rng.normal(size=(n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
    })


def write_registry_tables(seed: int, out_dir: str, n_events: int,
                          n_docs: int, n_vecs: int) -> dict:
    """Write events/documents/embeddings parquet files; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "events": events_table(rng, n_events),
        "documents": documents_table(rng, n_docs),
        "embeddings": embeddings_table(rng, n_vecs),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
