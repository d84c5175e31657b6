"""Seeded benchmark inputs in the shape of the engine's fixture tables.

Every table is a pure function of the seed: the same seed writes the same
rows. The shapes follow the fixture tables the engine is tested on
(FIXTURES.md section 2), with the row counts, key sets, vocabulary and
duplicate shares read from the fixture files (perfbench/README.md lists
them): `events` with a JSON `props` column, `documents` drawn from a
30-word vocabulary with planted near-duplicates and exact copies, and
unit-norm 64-dimensional `embeddings`.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


def events(rng: np.random.Generator, n: int = 100_000) -> pa.Table:
    """`n` events over January 2024, ordered by time like an append log.
    `ts` is timestamp[us], as in the fixture files' own footers."""
    start = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span, n))
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in k.tolist()]),
    })


def documents(rng: np.random.Generator, n: int = 5000) -> pa.Table:
    """`n` documents of 10-100 vocabulary words. As in the fixture, one in
    twenty is a near-duplicate (an edited copy of an earlier document
    marked with the word `dup`) and 8 in 5,000 are exact copies of an
    earlier document, so every dedup operator has work."""
    vocab = np.array(VOCAB)
    near, copies = n // 20, n * 8 // 5000
    picked = rng.choice(np.arange(1, n), near + copies, replace=False).tolist()
    kind = dict.fromkeys(picked[:near], "near") | dict.fromkeys(picked[near:], "copy")
    texts: list[str] = []
    for i in range(n):
        if kind.get(i) == "near":
            words = texts[rng.integers(0, i)].split()
            edits = rng.integers(0, len(words), max(1, len(words) // 10))
            for e in edits:
                words[e] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words + ["dup"]))
        elif kind.get(i) == "copy":
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng: np.random.Generator, n: int = 2000, dim: int = 64) -> pa.Table:
    """`n` unit-norm float32 vectors with a label in 0..9."""
    x = rng.standard_normal((n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def write_table(table: pa.Table, path: str, files: int) -> None:
    """One single-row-group parquet file at `path`, the fixture layout, or
    a directory of `files` part files of equal row counts with 4096-row
    groups, a layout that Spark scans in several partitions."""
    if files == 1:
        pq.write_table(table, path, row_group_size=table.num_rows)
        return
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(path, f"part-{i:05d}.parquet"),
            row_group_size=4096,
        )
