"""Benchmark inputs.

Two kinds of input, both built here and nowhere else:

* ``analyze_bodies()``: ``/analyze`` request bodies in the reference
  wire shape. Documents are named by key, every observation carries a
  ``date`` string plus nested numeric fields addressed by dot-path
  (``data.summary.value``), and the correlations sit under camelCase
  ``analyticsOptions.correlations``. The observations are an events
  stream (the shape of the ``events`` table of the TPC-H-style test
  data), split into one document per event type.
* ``write_batch_tables(out_dir)``: the parquet tables the bench.py
  B-queries and S-probes read (``events``, ``orders``, ``customer``,
  ``nation``, ``documents``, ``embeddings``), with the schemas and the
  value distributions measured on the sf0.1 test data, at
  ``BATCH_SCALE`` of its row counts.

Both are generated from fixed seeds (``ANALYZE_DATA_SEED``,
``BATCH_DATA_SEED``), so the outputs ``record_golden.py`` recorded
(``golden_analyze.json``, ``golden_batch.json``) hold for every run; the
workload seed orders the operations (``request_schedule``, and the
query order of each batch pass). Nothing is read from outside the
checkout: every value comes from numpy's ``default_rng``.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np

#: documents of one analyze_small request, one per event type
EVENT_DOCUMENTS = ("clicks", "views", "purchases")
#: observations per document (about 3k per request)
OBS_PER_DOCUMENT = 1000
#: history covered by a request, in days
HISTORY_DAYS = 30
#: distinct request bodies; clients send them in a seeded order
BODY_POOL = 2

ANALYZE_DATA_SEED = 20240102
BATCH_DATA_SEED = 20240101

_START = dt.datetime(2024, 1, 1)


def _observations(rng: np.random.Generator, n: int, level: float) -> list[dict]:
    """Events of one type: a daily cycle plus gamma noise, sorted by time."""
    secs = np.sort(rng.integers(0, HISTORY_DAYS * 86400, n))
    hour = (secs % 86400) / 3600.0
    daily = 1.0 + 0.5 * np.sin(2 * np.pi * (hour - 6.0) / 24.0)
    value = np.round(level * daily * rng.gamma(4.0, 0.25, n), 2)
    count = rng.poisson(5.0 * daily)
    stamps = np.datetime64(_START, "s") + secs.astype("timedelta64[s]")
    return [
        {
            "date": str(s).replace("T", " "),
            "data": {"summary": {"value": float(v), "count": int(c)}},
        }
        for s, v, c in zip(stamps, value, count)
    ]


def _correlations() -> list[dict]:
    """Prophet, granger and univariateStatistics; D and H grains."""
    value, count = "data.summary.value", "data.summary.count"
    return [
        {
            "id": "clicksByViews",
            "type": "prophet",
            "fromData": "views",
            "fromIndex": value,
            "toData": "clicks",
            "toIndex": value,
            "dataSetGranularity": "D",
            "dataAggregationType": "sum",
            "unitsToForecast": 7,
        },
        {
            "id": "purchasesGrangerViews",
            "type": "granger",
            "fromData": "views",
            "fromIndex": value,
            "toData": "purchases",
            "toIndex": value,
            "dataSetGranularity": "H",
            "dataAggregationType": "sum",
        },
        {
            "id": "countStatistics",
            "type": "univariateStatistics",
            "fromData": "views",
            "fromIndex": count,
            "toData": "clicks",
            "toIndex": count,
            "dataSetGranularity": "H",
            "dataAggregationType": "mean",
        },
    ]


def analyze_body(index: int) -> dict:
    """Request body ``index`` of the pool, from ``ANALYZE_DATA_SEED``."""
    rng = np.random.default_rng([ANALYZE_DATA_SEED, index])
    documents = {
        name: {
            "description": f"{name} events",
            "data": _observations(rng, OBS_PER_DOCUMENT, level=20.0 * (i + 1)),
        }
        for i, name in enumerate(EVENT_DOCUMENTS)
    }
    return {
        "documents": documents,
        "analyticsOptions": {"correlations": _correlations()},
    }


def analyze_bodies() -> list[bytes]:
    """The request pool, encoded as the client sends it."""
    return [json.dumps(analyze_body(i)).encode("utf-8") for i in range(BODY_POOL)]


def request_schedule(seed: int, n: int) -> list[int]:
    """Which pool body the k-th request of a run with ``seed`` sends."""
    rng = np.random.default_rng([seed, 7])
    return [int(i) for i in rng.integers(0, BODY_POOL, n)]


# ---- batch tables ---------------------------------------------------------

#: vocabulary of the sf0.1 ``documents`` text: 30 lowercase words, no
#: digits, punctuation, capitals or line breaks (measured on the test data)
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_LANGS = ("en",) * 41 + ("zh", "es", "fr", "de") * 15
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

#: row counts of the sf0.1 test data the bench.py queries were sized on
SF01_ROWS = {
    "events": 100_000,
    "orders": 150_000,
    "customer": 15_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
#: share of the sf0.1 row counts the batch tables have. Value ranges,
#: date ranges and distributions are those of sf0.1, so the bucketed
#: series (30 daily and 720 hourly buckets of events, ~2,400 days of
#: orders) and the per-document work are the same; only the row counts
#: of the scans, and the number of documents the llm operators process,
#: shrink. A tenth keeps a warm pass of all twelve queries near 13 s and
#: the cold first pass near 34 s on a 4-core machine; at full sf0.1 they
#: take 33 s and 55 s.
BATCH_SCALE = 0.1
BATCH_ROWS = {name: int(n * BATCH_SCALE) for name, n in SF01_ROWS.items()}
EMBEDDING_DIM = 64
#: share of documents that are a copy of another one plus the word "dup"
DUP_SHARE = 0.05


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """sf0.1-shaped text: 10-99 uniform words per document, and one
    document in twenty a copy of another with " dup" appended, so the
    near-duplicate and repetition operators find pairs."""
    words = np.array(_WORDS)
    out = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]) for _ in range(n)]
    dups = rng.choice(n, int(n * DUP_SHARE), replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for i in dups:
        out[i] = out[int(rng.choice(originals))] + " dup"
    return out


def batch_tables() -> dict:
    """The batch tables as pyarrow Tables, from ``BATCH_DATA_SEED``, with
    the schemas, value ranges and distributions of the sf0.1 test data."""
    import pyarrow as pa

    rng = np.random.default_rng(BATCH_DATA_SEED)
    n_ev = BATCH_ROWS["events"]
    ev_secs = np.sort(rng.integers(0, HISTORY_DAYS * 86400 * 10**6, n_ev))
    events = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(
                np.datetime64(_START, "us") + ev_secs.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": rng.integers(0, 1500, n_ev),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    n_o, n_c = BATCH_ROWS["orders"], BATCH_ROWS["customer"]
    first_day = np.datetime64("1995-01-01", "D")
    days = (np.datetime64("2001-08-01", "D") - first_day).astype(int) + 1
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_o, dtype=np.int64),
            "o_custkey": rng.integers(0, n_c, n_o),
            "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n_o)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_o), 2),
            "o_orderdate": pa.array(
                (first_day + rng.integers(0, days, n_o).astype("timedelta64[D]")).astype(
                    "datetime64[us]"
                ),
                pa.timestamp("us"),
            ),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_o)],
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_c)],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    n_d = BATCH_ROWS["documents"]
    texts = _texts(rng, n_d)
    documents = pa.table(
        {
            "doc_id": np.arange(n_d, dtype=np.int64),
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_d)],
            "source": [f"src{i % 20}" for i in range(n_d)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    # unit vectors around ten label centres; as in sf0.1 the centres are
    # weak (a label's mean vector has norm ~0.07)
    n_e = BATCH_ROWS["embeddings"]
    labels = rng.integers(0, 10, n_e)
    centers = rng.normal(size=(10, EMBEDDING_DIM))
    centers *= 0.52 / np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = centers[labels] + rng.normal(size=(n_e, EMBEDDING_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": np.arange(n_e, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return {
        "events": events,
        "orders": orders,
        "customer": customer,
        "nation": nation,
        "documents": documents,
        "embeddings": embeddings,
    }


def write_batch_tables(out_dir: str) -> str:
    """Write the batch tables as ``<out_dir>/<name>.parquet``."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, table in batch_tables().items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
