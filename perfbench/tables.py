"""Seeded generator for the ``curation_batch`` tables.

Writes ``documents`` and ``embeddings`` (the tables the curation queries
read through ``catalog.load_table``) as one parquet file each, with the
column names, types and value distributions the query registry is
written against. The same ``seed`` and ``sf`` always give
byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_NAMES = ["documents", "embeddings"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 0x7B])
    n_doc = int(50_000 * sf)
    n_emb = int(20_000 * sf)
    t: dict[str, pa.Table] = {}

    words = np.asarray(WORDS, dtype=object)
    lengths = rng.integers(8, 90, n_doc)
    texts = [" ".join(words[rng.integers(0, len(WORDS), m)]) for m in lengths]
    # a few exact duplicates, as a crawled corpus has
    for i in range(0, n_doc - 1, 631):
        texts[i + 1] = texts[i]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.integers(0, len(LANGS), n_doc)]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
    })
    centers = rng.normal(0.0, 0.15, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (n_emb, 64))).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write every table under ``out_dir`` as ``<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in build_tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
