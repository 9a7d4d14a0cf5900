"""Seeded generator for the operator workloads' parquet tables.

The operator ops read two of the repository's testdata tables (FIXTURES.md §B):
``documents`` (the text and dedup ops) and ``embeddings``
(``sim_knn_bucket_join``). This module writes look-alikes of them from a
seed, with the value distributions of those tables:

- documents: 10–100 words drawn from the testdata's 31-word vocabulary, five
  languages (``en`` 40 %), sources ``src0``…``src19`` by ``doc_id % 20``, and
  a few exact-duplicate texts;
- embeddings: 64 float32 components, N(0, 0.125), labels 0–9.

Text is ASCII only, so the engines' known unicode divergences
(lower() of dotted İ, byte- vs code-point levenshtein) cannot occur.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, size=n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), size=k)]) for k in lengths]
    # exact duplicates, about 0.2 % of the rows, as in the testdata
    for dst in rng.choice(np.arange(1, n), size=max(1, n // 600), replace=False):
        texts[dst] = texts[int(rng.integers(0, dst))]
    doc_id = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": rng.choice(LANGS, size=n, p=LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.normal(0.0, 0.125, size=(n, dim)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, size=n).astype(np.int32),
        }
    )


def generate(out_dir: str, seed: int, docs: int, vecs: int) -> dict[str, str]:
    """Write ``documents``/``embeddings`` parquet files under
    ``out_dir`` (the layout ``load_table`` reads); returns name → path."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in (
        ("documents", documents(rng, docs)),
        ("embeddings", embeddings(rng, vecs)),
    ):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
