"""Deterministic k-means over embeddings — the diversity/curation
clustering step of a training-data pipeline (cluster-balanced sampling,
near-dup group analysis).

Everything is pinned for cross-engine reproducibility (the DuckDB oracle
unrolls the identical iterations):

- init: seed centroids = the k smallest-id corpus vectors (no RNG);
- assignment: argmax cosine similarity, computed at quantized precision —
  similarities are rounded to 12 decimals before the argmax and ties break
  to the smaller cluster id, so the ~1e-15 summation-order noise between
  engines can never flip an assignment;
- update: per-component mean of assigned vectors, rounded to 12 decimals
  (again burying float noise far below the quantum); empty clusters keep
  their previous centroid;
- fixed iteration count (no data-dependent convergence test).

Scale shape: the centroid model is k×d doubles — it lives on the driver
and enters each assignment scan as a broadcast numpy matrix inside ONE
vectorized mapInPandas (a matmul per Arrow batch, same pattern as
similarity.hyperplane_signatures). The update is a single shuffle of
(cluster, component, value) partial aggregates — map-side combine makes
hot clusters safe. Driver holds k×d only — never data.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

QUANT = 12  # decimals: similarity + centroid quantization (both engines)


@dataclass
class KMeansResult:
    assignments: DataFrame   # (id, cluster int)
    centroids: np.ndarray    # (k, dim) quantized
    iterations: int


def _assign_df(corpus: DataFrame, C: np.ndarray, id_col: str, vec_col: str) -> DataFrame:
    """(id, cluster): argmax_j round(cos(v, C_j), QUANT), ties → smaller j."""
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    src = corpus.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
            sims = np.round(Vn @ Cn.T, QUANT)
            cluster = np.argmax(sims, axis=1)  # first max = smaller id on ties
            yield pd.DataFrame({"id": pdf["_id"], "cluster": cluster.astype(np.int32)})

    return src.mapInPandas(gen, schema="id long, cluster int")


def kmeans_cosine(
    corpus: DataFrame,
    k: int = 8,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> KMeansResult:
    """Fixed-iteration Lloyd's k-means under cosine similarity."""
    if k < 1:
        raise ValueError(f"kmeans_cosine requires k >= 1, got {k}")
    if iterations < 1:
        # iterations=0 would return assignments=None and crash callers
        # far from the misuse
        raise ValueError(f"kmeans_cosine requires iterations >= 1, got {iterations}")
    seed_rows = (
        corpus.orderBy(F.asc(id_col)).limit(k).select(id_col, vec_col).collect()
    )
    if not seed_rows:
        raise ValueError("kmeans_cosine requires a non-empty corpus")
    C = np.round(
        np.array([list(r[vec_col]) for r in seed_rows], dtype=np.float64), QUANT
    )
    dim = C.shape[1]
    assign = None
    for it in range(iterations):
        assign = _assign_df(corpus, C, id_col, vec_col)
        if it == iterations - 1:
            break  # the returned assignment uses the current model
        comp = (
            corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("_v"))
            .join(assign, "id")
            .select("cluster", F.posexplode(F.col("_v").cast("array<double>")).alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg("x"), QUANT).alias("m"))
            .collect()
        )
        newC = C.copy()  # empty clusters keep previous centroid
        for r in comp:
            newC[r["cluster"], r["pos"]] = r["m"]
        C = newC
    return KMeansResult(assign, C, iterations)


def cluster_sizes(assignments: DataFrame) -> DataFrame:
    return assignments.groupBy("cluster").agg(F.count("*").alias("n"))
