"""Seeded synthetic `events` and `documents` tables for the benchmark.

The tables follow the shape of the engine's test data so that every
benchmarked entry does real work on them:

- `events`: `1e6 * sf` rows ordered by event time over 30 days from
  2024-01-01 (native `timestamp[us]`), 5 event types in equal shares,
  `15000 * sf` users, an exponential `value` with mean 50 and a
  `props` JSON carrying an item key `k` in 0..99.
- `documents`: `50000 * sf` docs of 10..99 words over a 30-word
  vocabulary, 5 languages, source `src{doc_id % 20}`. One doc in
  twenty is another doc's text plus the word `dup`, so the admission
  cascade sees exact and near duplicates.

The same (seed, sf) always writes the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
VOCAB = (
    "query row stream the spark line small fast group customer batch sort value"
    " hash filter big data part column order scan a slow agg key window table"
    " merge vector join"
).split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_WEIGHTS = [0.41, 0.15, 0.14, 0.15, 0.15]
_DAY_US = 86_400_000_000
_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def write_events(path: str, sf: float, rng: np.random.Generator) -> int:
    n = int(round(1_000_000 * sf))
    users = max(int(round(15_000 * sf)), 10)
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + _T0_US
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    pq.write_table(table, path)
    return n


def write_documents(path: str, sf: float, rng: np.random.Generator) -> int:
    n = int(round(50_000 * sf))
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 100))]) for _ in range(n)]
    dup_ids = rng.choice(n, size=n // 20, replace=False)
    originals = set(range(n)) - set(dup_ids.tolist())
    pool = np.array(sorted(originals))
    for d in dup_ids:
        texts[d] = texts[int(rng.choice(pool))] + " dup"
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, size=n, p=LANG_WEIGHTS)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    pq.write_table(table, path)
    return n


def generate(out_dir: str, sf: float, seed: int, tables: tuple[str, ...]) -> dict[str, int]:
    """Write the named tables under `out_dir`; returns their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    writers = {"events": write_events, "documents": write_documents}
    rows = {}
    for name in tables:
        rng = np.random.default_rng([seed, list(writers).index(name)])
        rows[name] = writers[name](os.path.join(out_dir, f"{name}.parquet"), sf, rng)
    return rows
