"""Seeded input tables for the benchmark, shaped like the engine's testdata.

Every table the benchmark's workloads read (``documents``,
``embeddings`` and ``events``) is generated here from a seed, so the
benchmark needs nothing outside its checkout. Schemas, key ranges and
value domains follow the testdata the registry queries are written
against; ``scale`` plays the role of the scale factor (0.1 gives 5,000
documents, 2,000 embeddings and 100,000 events).
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.145, 0.15, 0.145, 0.15]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_US_PER_DAY = 86_400_000_000


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad texts over a 31-word vocabulary, 10-100 words each;
    about 5% are near-duplicates of an earlier text (one word swapped
    for ``dup``), which is what the dedup operators look for."""
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n)
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(vocab[rng.integers(0, len(vocab), lengths[i])])
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": list(rng.choice(LANGS, n, p=LANG_P)),
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    """Unit vectors scattered around ``labels`` random centres."""
    centres = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    vec = centres[label] + rng.normal(scale=0.8, size=(n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    start = int((datetime(2024, 1, 1) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    micros = start + np.sort(rng.integers(0, 30 * _US_PER_DAY, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(micros, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": list(rng.choice(EVENT_TYPES, n)),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def write_tables(out_dir: str, seed: int, scale: float, tables: set[str]) -> dict[str, int]:
    """Generate the named tables into ``out_dir/<table>.parquet``;
    returns their row counts. The same (seed, scale) gives the same
    files."""
    os.makedirs(out_dir, exist_ok=True)
    gen: dict[str, pa.Table] = {}
    # One generator stream per table, so a table's content does
    # not depend on which other tables were asked for.
    if "documents" in tables:
        gen["documents"] = documents(np.random.default_rng([seed, 1]), int(50_000 * scale))
    if "embeddings" in tables:
        gen["embeddings"] = embeddings(np.random.default_rng([seed, 2]), int(20_000 * scale))
    if "events" in tables:
        gen["events"] = events(np.random.default_rng([seed, 3]), int(1_000_000 * scale), int(15_000 * scale))
    for name, table in gen.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in gen.items()}
