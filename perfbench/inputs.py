"""Seeded benchmark inputs, written to parquet before any timing starts.

Every input is a pure function of the seed, so one seed gives the same
files on every host. The engine sees only these files.

- Crawls come from ``synth.page_rows_for_index(i, n_total, seed)`` over ONE
  page universe of ``n_total`` pages. A base crawl and every later drop are
  index ranges of that universe: generating a drop with its own page count
  would rename every url (``num_sites = n_pages // 50``).
- The near-duplicate corpus has the schema of the ``documents`` and
  ``embeddings`` fixture tables and plants known near-duplicate copies,
  chosen from the seed, with the perturbation ``_near_dup_corpus`` uses.
"""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pargraph_spark import synth

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

# near-dup corpus shape
N_DOCS = 1000
N_VECS = 1000
DIM = 64
N_PLANTED = 50
COPY_ID_OFFSET = 1_000_000
# 2^-6, exact in double (the `_near_dup_corpus` perturbation step)
PERT_EPS = 0.015625
# vectors are drawn with this norm so a planted copy sits at cos ~0.998:
# far above the 0.9 threshold and the ~0.6 background, and found by the
# 8x8 hyperplane banding with miss odds below 1e-6 per pair
VEC_NORM = 2.0
_WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query key window row table stream merge data vector "
    "join customer big a the edge page rank link crawl index shard node"
).split()


def write_pages(path: str, first: int, last: int, n_total: int, seed: int) -> int:
    """Pages [first, last) of the seeded universe of ``n_total`` pages as
    one parquet file; returns the number of rows (recrawls included)."""
    rows = [r for i in range(first, last)
            for r in synth.page_rows_for_index(i, n_total, seed)]
    table = pa.Table.from_pylist(rows, schema=PAGES_SCHEMA)
    pq.write_table(table, path)
    return len(rows)


def _doc_text(rng: random.Random) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randrange(12, 90)))


def _near_copy(text: str, rng: random.Random) -> str:
    """A copy with about one word in twenty replaced: bigram Jaccard ~0.8."""
    words = text.split(" ")
    for j in range(len(words)):
        if rng.random() < 0.05:
            words[j] = rng.choice(_WORDS)
    return " ".join(words)


def make_corpus(seed: int) -> dict:
    """The near-dup inputs, in memory: documents (with planted near-copies),
    float32 embeddings, and the planted (original, copy) vector pairs."""
    rng = random.Random(seed * 7_919 + 17)
    texts = {i: _doc_text(rng) for i in range(N_DOCS)}
    planted_docs = sorted(rng.sample(range(N_DOCS), N_PLANTED))
    for i in planted_docs:
        texts[i + COPY_ID_OFFSET] = _near_copy(texts[i], rng)

    nrng = np.random.default_rng(seed)
    vecs = nrng.standard_normal((N_VECS, DIM))
    vecs = (VEC_NORM * vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    planted_vecs = sorted(int(i) for i in nrng.choice(N_VECS, N_PLANTED, replace=False))
    vectors = {i: vecs[i].astype(np.float64) for i in range(N_VECS)}
    comp = np.arange(DIM)
    for i in planted_vecs:
        sign = np.where((i + comp) % 3 == 0, 1.0, -1.0)
        vectors[i + COPY_ID_OFFSET] = vectors[i] + PERT_EPS * sign
    return {
        "texts": texts,
        "vectors": vectors,
        "labels": nrng.integers(0, 10, N_VECS),
        "planted_vecs": [(i, i + COPY_ID_OFFSET) for i in planted_vecs],
    }


def write_corpus(corpus: dict, docs_path: str, vecs_path: str) -> None:
    """documents(doc_id, text, lang, source, n_chars) and
    embeddings(vec_id, embedding array<double>, label) parquet files; the
    embeddings table holds the originals and their planted copies."""
    ids = sorted(corpus["texts"])
    texts = [corpus["texts"][i] for i in ids]
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(ids), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), docs_path)
    vids = sorted(corpus["vectors"])
    labels = corpus["labels"]
    pq.write_table(pa.table({
        "vec_id": pa.array(vids, pa.int64()),
        "embedding": pa.array([corpus["vectors"][i].tolist() for i in vids],
                              pa.list_(pa.float64())),
        "label": pa.array([int(labels[i % N_VECS]) for i in vids], pa.int32()),
    }), vecs_path)
