"""Seeded synthetic input tables for the benchmark.

The tables reproduce the engine's test fixtures (``TESTDATA.md``) at a
smaller size: ``events`` is the message log (one row per message, ``props``
is the JSON payload ``{"k": <0..99>}``) and ``documents`` is the text corpus
the curation operators read. Schema, value domains and distributions follow
the fixtures: 31-word vocabulary, 10-99 words per document, exactly 5% of
documents a copy of another plus the token ``dup``, languages 40% ``en``
and 15% each of four others, 20 sources, users 1.5% of messages, exponential
values and inter-arrival gaps over 30 days. Sizes are fixed by the workload;
the seed only changes values, so two seeds give the same amount of work.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LOG_START = dt.datetime(2024, 1, 1)
LOG_SPAN_S = 30 * 86400
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def events_table(n: int, seed: int) -> pa.Table:
    """``n`` messages spread over 30 days, ``event_id`` 0..n-1 in time order."""
    rng = np.random.default_rng(seed)
    # exponential gaps, scaled so that the log ends a few seconds before
    # the 30 days are up, as in the fixtures
    gaps = rng.exponential(1.0, n + 1)
    offs_us = np.cumsum(gaps)[:-1] / gaps.sum() * (LOG_SPAN_S - 1) * 1e6
    start_us = int((LOG_START - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    ts = (start_us + offs_us.astype(np.int64)).astype("datetime64[us]")
    users = rng.integers(0, max(1, n * 15 // 1000), n)
    kinds = rng.integers(0, len(EVENT_TYPES), n)
    keys = rng.integers(0, 100, n)
    value = np.round(rng.exponential(50.0, n), 2)
    etype = [EVENT_TYPES[i] for i in kinds]
    props = [f'{{"k": {k}}}' for k in keys.tolist()]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users.astype(np.int64)),
            "event_type": pa.array(etype, pa.string()),
            "value": pa.array(value),
            "props": pa.array(props, pa.string()),
        }
    )


def documents_table(n: int, seed: int) -> pa.Table:
    """``n`` documents of 10-99 words; exactly ``n // 20`` of them are a
    copy of another document plus the token ``dup`` (the near-duplicates
    the dedup operators look for)."""
    rng = np.random.default_rng(seed)
    texts = [
        " ".join(WORDS[w] for w in rng.integers(0, len(WORDS), int(rng.integers(10, 100))))
        for _ in range(n)
    ]
    base = list(texts)
    for i in rng.choice(n, n // 20, replace=False).tolist():
        j = int(rng.integers(0, n - 1))
        texts[i] = base[j + (j >= i)] + " dup"
    langs = rng.choice(len(LANGS), n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in langs], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_table(table: pa.Table, path: str, row_group_size: int | None = None) -> int:
    """Write ``table`` as one parquet file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group_size)
    return os.path.getsize(path)
