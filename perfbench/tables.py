"""Seeded synthetic corpus tables in the shape the declared queries read.

Writes ``documents`` and ``embeddings`` (FIXTURES.md section A) at scale
factor 0.1: 5,000 documents of 10–100 words from a 31-word vocabulary,
with a few exact and near duplicates, and 2,000 64-dimensional
embeddings around 10 labelled centres.  Column types, value domains and
row counts follow the fixture tables; the values are drawn from
``seed``, so the same seed always writes byte-identical files and a
different seed writes different data of the same shape.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS = ("documents", "embeddings")

_WORDS = ("query row stream the part column order scan a slow agg key "
          "window table merge vector join batch sort value hash filter "
          "big data dup spark line small fast group customer").split()
_LANGS = ["en", "fr", "es", "zh", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def documents(rng) -> pa.Table:
    n = 5_000
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in rng.integers(10, 101, n)]
    # a few exact and near duplicates, so the dedup queries find pairs
    for i in rng.choice(n, 60, replace=False):
        src = texts[int(rng.integers(0, n))].split()
        if rng.random() < 0.5 and len(src) > 12:
            src[int(rng.integers(0, len(src)))] = str(words[0])
        texts[int(i)] = " ".join(src)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_LANGS, pa.string()).take(
            rng.choice(len(_LANGS), n, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng) -> pa.Table:
    n, dim = 2_000, 64
    labels = rng.integers(0, 10, n)
    centres = rng.normal(0.0, 0.06, (10, dim))
    vecs = (centres[labels] + rng.normal(0.0, 0.11, (n, dim))).astype(
        np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(out_dir: str, seed: int) -> str:
    """Write both tables under ``out_dir`` (one parquet file each, one row
    group, like the fixture files); returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for i, build in enumerate((documents, embeddings)):
        pq.write_table(build(np.random.default_rng([seed, i])),
                       os.path.join(out_dir, f"{CORPUS[i]}.parquet"),
                       row_group_size=1 << 30)
    return out_dir
