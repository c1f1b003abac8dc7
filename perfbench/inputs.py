"""Seeded input generation. Every input the program sees is made here.

The ``documents`` and ``embeddings`` tables have the shape and value
distribution of the engine's synthetic test tables: random text over a
30-word vocabulary at 10-100 words per document, ~5% near-duplicates
(another document's text plus the token ``dup``), a few exact duplicate
texts, five languages, 20 sources, and unit-norm 64-d float32 embeddings
with integer labels.

Their content comes from the fixed ``CORPUS_SEED``, like a fixed test
table; the run's seed permutes rows and, for heavy documents, picks the
tiling and the ids. So every oracle holds on every seed, and work that
depends on the data (dedup rounds, retrieval fallbacks) does not vary
from seed to seed. The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
LANGS = ("en", "zh", "fr", "es", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EMBED_DIM = 64
CORPUS_SEED = 20261016


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lengths.sum()))
    vocab = np.array(VOCAB, dtype=object)[words]
    ends = np.cumsum(lengths)
    return [" ".join(vocab[e - k:e]) for e, k in zip(ends, lengths)]


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """``documents(doc_id, text, lang, source, n_chars)`` with planted
    near- and exact duplicates, rows in an order drawn from ``rng``."""
    fixed = np.random.default_rng(CORPUS_SEED)
    texts = _texts(fixed, n)
    n_near = max(1, n // 20)
    n_exact = max(1, n // 625)
    picks = fixed.permutation(n)
    for i in picks[:n_near]:
        texts[i] = texts[int(fixed.integers(0, n))] + " dup"
    for i in picks[n_near:n_near + n_exact]:
        texts[i] = texts[int(fixed.integers(0, n))]
    doc_id = np.arange(n, dtype=np.int64)
    lang = np.array(LANGS, dtype=object)[fixed.choice(len(LANGS), n, p=LANG_P)]
    order = rng.permutation(n)
    return pa.table(
        {
            "doc_id": doc_id[order],
            "text": pa.array([texts[i] for i in order], pa.string()),
            "lang": pa.array(lang[order].tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in order], pa.string()),
            "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """``embeddings(vec_id, embedding list<float>, label int)``, unit norm,
    rows in an order drawn from ``rng``."""
    fixed = np.random.default_rng(CORPUS_SEED + 1)
    v = fixed.standard_normal((n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    order = rng.permutation(n)
    flat = pa.array(v[order].ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(order.astype(np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(fixed.integers(0, 10, size=n).astype(np.int32)[order]),
        }
    )


def heavy_documents(
    rng: np.random.Generator, n_docs: int, repeat: int, n_base: int
) -> pa.Table:
    """``(doc_id, text)`` heavy documents: each is ``repeat`` texts of the
    fixed corpus joined (~54 words each, so ~1000+ words); ``rng`` picks
    the texts and permutes the ids."""
    base = _texts(np.random.default_rng(CORPUS_SEED), n_base)
    idx = rng.integers(0, n_base, size=(n_docs, repeat))
    ids = rng.permutation(n_docs).astype(np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array([" ".join(base[j] for j in row) for row in idx]),
        }
    )


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def write_parts(table: pa.Table, dir_path: str, parts: int) -> str:
    """``table`` as ``parts`` parquet files, so a scan of it runs
    ``parts`` tasks."""
    os.makedirs(dir_path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(
            table.slice(i * step, step), os.path.join(dir_path, f"part-{i:03d}.parquet")
        )
    return dir_path
