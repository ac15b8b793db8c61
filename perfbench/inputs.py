"""Seeded input tables for the benchmark.

Every table is a pure function of ``(seed, size)``: the same seed
writes byte-identical parquet. The shapes follow the engine's own test
corpora (``documents``: doc_id, text, lang, source, n_chars;
``embeddings``: vec_id, 64-dim float embedding, label), so the engine
receives tables it already knows and nothing else.

The seed also shifts the doc_id range. The engine derives media
placement, query routing and the mega-document stratum from doc_id
arithmetic, so a new seed moves all three, not just the words.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data table query scan sort join group agg filter window row "
    "column part line order key value hash merge batch stream vector "
    "spark fast slow big small customer"
).split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.41, 0.15, 0.15, 0.145, 0.145)
N_SOURCES = 20
EMBED_DIMS = 64
N_LABELS = 10
# doc_id shift per seed; stays far below the engine's replica stride
# (10^7) and its duplicate-id offset (10^12)
ID_SHIFT = 9_973


def id_base(seed: int) -> int:
    return (seed % 500) * ID_SHIFT


def documents_table(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    lens = rng.integers(8, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    vocab = np.array(VOCAB, dtype=object)
    texts, at = [], 0
    for ln in lens:
        texts.append(" ".join(vocab[words[at : at + ln]]))
        at += ln
    ids = id_base(seed) + np.arange(n, dtype=np.int64)
    langs = np.array(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)]
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(list(langs), pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(seed: int, n: int) -> pa.Table:
    """Label-clustered vectors; every 20th vector is a near copy of
    its predecessor so semantic dedup has true positives."""
    rng = np.random.default_rng([seed, 2])
    centers = rng.normal(0.0, 0.15, size=(N_LABELS, EMBED_DIMS))
    labels = rng.integers(0, N_LABELS, size=n)
    v = centers[labels] + rng.normal(0.0, 0.08, size=(n, EMBED_DIMS))
    near = np.arange(1, n)[np.arange(1, n) % 20 == 0]
    v[near] = v[near - 1] + rng.normal(0.0, 0.002, size=(len(near), EMBED_DIMS))
    labels[near] = labels[near - 1]
    v = v.astype(np.float32)
    ids = id_base(seed) + np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def query_terms_table(seed: int, n_queries: int, terms: int = 3) -> pa.Table:
    """External BM25 query table (query_id, term): ``terms`` distinct
    vocabulary words per query, independent of the corpus."""
    rng = np.random.default_rng([seed, 3])
    qid, term = [], []
    for q in range(n_queries):
        for t in rng.choice(len(VOCAB), size=terms, replace=False):
            qid.append(q)
            term.append(VOCAB[t])
    return pa.table(
        {"query_id": pa.array(qid, pa.int64()), "term": pa.array(term, pa.string())}
    )


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
