"""Product quantization (PQ) — compressed-vector ANN for embedding columns.

Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search" (TPAMI 2011): split each d-dim vector into m subvectors, learn a
k-centroid codebook PER SUBSPACE (k-means), and store each vector as m
small codes (m·log2(k) bits — 64 floats → 4 bytes at m=4, k=16). Query
scoring is ADC (asymmetric distance computation): per query, a m×k table
of subspace inner products is built once, and each database vector's
score is m table lookups — no float vector ever leaves storage. This is
the standard way a 100-TB embedding corpus becomes RAM-resident; IVF
(similarity.py) prunes candidates, PQ compresses them — together they
are the FAISS IVFADC layout.

Determinism (the clustering.py discipline, shared 12-decimal QUANT):
codebook init = the k smallest-id vectors' slices; L2 assignment argmin
over distances ROUNDED to 12 decimals, ties → smaller code; centroid
means rounded to 12 decimals, empty codes keep the previous centroid;
fixed iteration count. ADC per-subspace table entries are rounded to 12
decimals, the m-term score is accumulated in fixed subspace order, and
the final ranking orders by round(score, 9) — all reproduced by an
unrolled SQL oracle.

Scale shape: per training iteration, ONE mapInPandas assignment pass
(all m subspace argmins in a single Arrow pass, model broadcast as an
(m,k,dsub) numpy array), then the centroid means as an id-join of the
assignments back to the corpus + posexplode + partial-combined
(subspace, code, pos) aggregate; the driver holds m·k·dsub doubles,
never data. (A known cheaper form emits the mean partials from the
same Arrow pass as the argmins — no join, no explode; the join form is
kept because the unrolled SQL oracle mirrors it term for term.) Encoding is one mapInPandas pass. ADC search broadcasts the
query tables (nq·m·k doubles) and scans codes with m lookups per row;
the per-query top-k compiles to WindowGroupLimit (map-side cut). No
E-scale state beyond the (id, m-byte codes) table — the point of PQ.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

QUANT = 12  # shared with clustering.py: noise ~1e-15 sits 3 orders below


@dataclass
class PQModel:
    codebooks: np.ndarray  # (m, k, dsub), quantized to QUANT decimals
    m: int
    k: int
    dim: int


def _encode_df(corpus: DataFrame, model: PQModel, id_col: str, vec_col: str) -> DataFrame:
    """(id, subspace, code): per-subspace argmin of round(||v_j − c||², 12),
    ties → smaller code (np.argmin takes the first minimum)."""
    C = model.codebooks
    m, _k, dsub = C.shape
    src = corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            ids, subs, codes = [], [], []
            for j in range(m):
                Vj = V[:, j * dsub:(j + 1) * dsub]
                # (n, k) squared L2 distances to subspace-j codebook
                d2 = np.round(
                    ((Vj[:, None, :] - C[j][None, :, :]) ** 2).sum(axis=2), QUANT
                )
                cj = np.argmin(d2, axis=1)
                ids.append(pdf["_id"].to_numpy())
                subs.append(np.full(len(pdf), j, dtype=np.int32))
                codes.append(cj.astype(np.int32))
            yield pd.DataFrame({
                "id": np.concatenate(ids),
                "subspace": np.concatenate(subs),
                "code": np.concatenate(codes),
            })

    return src.mapInPandas(gen, schema="id long, subspace int, code int")


def pq_train(
    corpus: DataFrame,
    m: int = 4,
    k: int = 16,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> PQModel:
    """Learn m per-subspace codebooks by fixed-iteration L2 Lloyd's.
    All m subspaces train simultaneously: one assignment pass + one
    mean shuffle per iteration."""
    first = corpus.select(vec_col).first()
    if first is None:
        raise ValueError("pq_train requires a non-empty corpus")
    dim = len(first[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    seed_rows = (
        corpus.orderBy(F.asc(id_col)).limit(k).select(id_col, vec_col).collect()
    )
    if len(seed_rows) < k:
        raise ValueError(f"corpus has fewer than k={k} vectors")
    S = np.round(np.array([list(r[vec_col]) for r in seed_rows]), QUANT)
    C = np.stack([S[:, j * dsub:(j + 1) * dsub] for j in range(m)])  # (m,k,dsub)
    model = PQModel(C, m, k, dim)
    # `iterations` counts ASSIGNMENT passes (the oracle unrolls a0..a{N-1}
    # the same way): consecutive passes re-estimate the codebook between
    # them, so N passes = N-1 centroid updates, and the FINAL pass is the
    # pq_encode the caller runs on the returned model, so it is not
    # built here
    for _ in range(max(iterations - 1, 0)):
        assign = _encode_df(corpus, model, id_col, vec_col)
        comp = (
            corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v"))
            .join(assign, "id")
            .select(
                "subspace", "code",
                F.posexplode(F.col("_v").cast("array<double>")).alias("i", "x"),
            )
            .where(F.floor(F.col("i") / dsub) == F.col("subspace"))
            .groupBy("subspace", "code", (F.col("i") % dsub).alias("pos"))
            .agg(F.round(F.avg("x"), QUANT).alias("mval"))
            .collect()
        )
        newC = C.copy()  # empty codes keep the previous centroid
        for r in comp:
            newC[r["subspace"], r["code"], r["pos"]] = r["mval"]
        C = newC
        model = PQModel(C, m, k, dim)
    return model


def pq_encode(
    corpus: DataFrame,
    model: PQModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>) — the m-byte compressed representation."""
    return (
        _encode_df(corpus, model, id_col, vec_col)
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("subspace", "code"))
                ),
                lambda s: s["code"],
            ).alias("codes")
        )
    )


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    model: PQModel,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC inner-product search: (qid, id, score9, rn) — per query, the
    top-k database codes by Σ_j round(q_j · C_j[code_j], 12), ranked on
    round(score, 9) desc with id tiebreak. `queries` is a small
    (broadcastable) DataFrame with real vectors; `codes` is pq_encode
    output. Scores accumulate in fixed subspace order."""
    C = model.codebooks
    m, k, dsub = C.shape
    q_rows = queries.select(id_col, vec_col).collect()
    if not q_rows:
        raise ValueError("pq_adc_topk requires at least one query")
    qids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    Q = np.array([list(r[vec_col]) for r in q_rows], dtype=np.float64)
    # (nq, m, k) per-subspace inner-product tables, quantized
    T = np.round(
        np.einsum("qjd,jkd->qjk", Q.reshape(len(Q), m, dsub), C), QUANT
    )

    src = codes.select(F.col("id").alias("_id"), F.col("codes").alias("_c"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            cb = np.stack(pdf["_c"].to_numpy()).astype(np.int64)  # (n, m)
            n = len(pdf)
            out_q, out_id, out_s = [], [], []
            for qi in range(len(qids)):
                # fixed-order accumulation: subspace 0, 1, ..., m-1
                acc = T[qi, 0][cb[:, 0]].copy()
                for j in range(1, m):
                    acc += T[qi, j][cb[:, j]]
                out_q.append(np.full(n, qids[qi]))
                out_id.append(pdf["_id"].to_numpy())
                out_s.append(acc)
            yield pd.DataFrame({
                "qid": np.concatenate(out_q),
                "id": np.concatenate(out_id),
                "score": np.concatenate(out_s),
            })

    scored = src.mapInPandas(gen, schema="qid long, id long, score double")
    w = Window.partitionBy("qid").orderBy(F.desc("score9"), F.asc("id"))
    return (
        scored.select("qid", "id", F.round("score", 9).alias("score9"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= int(topk))
    )
