"""Similarity search over an embedding column (array<float>).

Tiers (mirroring the reference's naive-path / GraphBLAS-path split,
/root/reference/README.md:160-162 — a correctness baseline plus a path
that survives scale):

- cosine_topk: brute-force top-k — the correctness baseline. The dot
  product is F.zip_with + F.aggregate (ordered left-to-right fold, JVM
  expression codegen — no Python). Queries are broadcast: candidates
  never shuffle, so the plan is a single scan of the corpus per batch of
  queries. Cost is O(|Q|·|C|·d) compute, not shuffle; the ranking
  shuffle is bounded by a map-side partial top-k (see _partial_topk).

- cosine_near_dup_pairs: brute all-pairs near-dup — correctness tier
  only (cartesian-class theta-join; O(n²) at any scale).

- cosine_near_dup_bucketed: the SCALE path for near-dup. Random-
  hyperplane LSH banding, same shape as text MinHash→LSH→Jaccard:
  each vector gets `num_tables` band signatures (planes_per_table sign
  bits each); candidate pairs are vectors sharing a (table, signature)
  bucket; exact cosine verifies candidates. Only (id, table, sig) rows
  shuffle for candidate generation — never the embedding payload; the
  payload moves once, for the candidate set only.

- lsh_ann_topk: the ANN scale path — multi-table OR-amplification
  (L tables × r planes) with 1-bit multi-probe on the query side, exact
  re-rank of the candidate union. Recall is tunable via (L, r, probes);
  gated ≥0.9 vs the brute baseline in tests/test_similarity.py.

Hyperplane model: plane component signs come from md5 digests — a fresh
16-byte digest per 128 components (md5(f"plane:{t}:{p}:{i//128}")), so
components NEVER repeat at any dim (one cycled digest would repeat beyond
dim 128 and correlate the planes). Deterministic, engine-
independent, no stored model — the DuckDB oracles bake the identical
sign literals.

Signatures are computed by ONE vectorized numpy matmul per Arrow batch
(mapInPandas): (batch × dim) @ (dim × L·r). A per-plane Catalyst fold
would re-walk each vector L·r times in interpreted HOF expressions
(Catalyst does no CSE across HOFs); the matmul is the 10-100× Pandas-UDF
path the 100-TB plan wants.

Float policy (shared with the oracles): float32 → double BEFORE any
product (exact in double), so engines differ only in summation order
(~1e-15 relative) — far below the 1e-6 rounding of compared columns and
the sign margins of plane dots.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    # Cast to double BEFORE multiplying: a float32×float32 product is exact
    # in double (24+24 ≤ 53 mantissa bits), so the per-element products are
    # engine-independent and only the (tiny) summation-order effect remains.
    # Ordered left-to-right fold => deterministic result for a given pair.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    # zero-norm clamp (the _assign_df discipline): an all-zeros vector
    # otherwise scores 0/0 = NaN, which Spark's desc-sort ranks ABOVE 1.0
    # while the pandas partial top-k sorts it last — partition-dependent
    # top-k output. The clamp is a no-op for any real vector
    # (norms are either 0 or >> 1e-300), so oracled values are unchanged.
    return _dot(a, b) / F.greatest(_norm(a) * _norm(b), F.lit(1e-300))


def _partial_topk(scored: DataFrame, k: int) -> DataFrame:
    """Map-side partial top-k per query_id (narrow — no shuffle): each Arrow
    batch keeps at most k rows per query by (cos DESC, neighbor_id ASC), so
    the subsequent global row_number window shuffles O(batches·|Q|·k) rows
    instead of |Q|·|C|. Every global top-k row
    survives its own batch's filter, so the final result is byte-identical;
    cos values pass through Arrow as float64 unchanged."""
    schema = scored.schema

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                pdf = pdf.sort_values(
                    ["query_id", "cos", "neighbor_id"],
                    ascending=[True, False, True],
                    kind="mergesort",
                )
                yield pdf.groupby("query_id", sort=False).head(k)

    return scored.mapInPandas(gen, schema=schema)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Deterministic global top-k per query: (cos DESC, neighbor_id ASC),
    preceded by the map-side partial cut."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        _partial_topk(scored, k)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cos) — exact top-k by cosine, self excluded.

    Deterministic ranking: (cos DESC, neighbor_id ASC). Queries are
    broadcast; corpus is scanned once; ranking shuffle bounded map-side.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("cos"))
    )
    return _rank_topk(scored, k)


def cosine_near_dup_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a < b, cos ≥ threshold).

    Brute-force all-pairs — the CORRECTNESS tier (cartesian theta-join).
    The scale path is cosine_near_dup_bucketed; tests assert set-equality
    between the two on the fixtures.
    """
    a = corpus.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = corpus.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select("a", "b", cosine(F.col("va"), F.col("vb")).alias("cos"))
        .where(F.col("cos") >= threshold)
    )


# --------------------------------------------------------------------------
# hyperplane LSH model
# --------------------------------------------------------------------------

def plane_signs(table: int, plane: int, dim: int) -> list[float]:
    """±1 components of hyperplane (table, plane): bit i of the md5 digest
    chain md5(f"plane:{table}:{plane}:{i//128}") — a fresh digest per 128
    components, so signs never cycle at any dim. Shared verbatim by the
    DuckDB oracle generators (__spark_entry__)."""
    signs: list[float] = []
    digest = b""
    for i in range(dim):
        block, bit = divmod(i, 128)
        if bit == 0:
            digest = hashlib.md5(f"plane:{table}:{plane}:{block}".encode()).digest()
        signs.append(1.0 if (digest[bit // 8] >> (bit % 8)) & 1 else -1.0)
    return signs


def _plane_matrix(dim: int, num_tables: int, planes_per_table: int) -> np.ndarray:
    """(dim × num_tables·planes_per_table) ±1 matrix, column (t·r + p) =
    plane (t, p)."""
    cols = [
        plane_signs(t, p, dim)
        for t in range(num_tables)
        for p in range(planes_per_table)
    ]
    return np.asarray(cols, dtype=np.float64).T


def hyperplane_signatures(
    df: DataFrame,
    dim: int,
    num_tables: int,
    planes_per_table: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_id: str = "vec_id",
) -> DataFrame:
    """(out_id, t, sig) — per-table band signature, bit p of table t's sig
    is [dot(vec, plane(t,p)) > 0]. One numpy matmul per Arrow batch."""
    M = _plane_matrix(dim, num_tables, planes_per_table)
    T, R = num_tables, planes_per_table
    weights = (1 << np.arange(R, dtype=np.int64))

    src = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["_v"].to_numpy()).astype(np.float64)  # (n, dim)
            bits = (V @ M) > 0.0  # (n, T·R)
            sigs = (
                bits.reshape(len(pdf), T, R).astype(np.int64) * weights
            ).sum(axis=2)  # (n, T)
            ids = pdf["_id"].to_numpy()
            yield pd.DataFrame(
                {
                    out_id: np.repeat(ids, T),
                    "t": np.tile(np.arange(T, dtype=np.int32), len(pdf)),
                    "sig": sigs.reshape(-1),
                }
            )

    return src.mapInPandas(gen, schema=f"{out_id} long, t int, sig long")


def cosine_near_dup_bucketed(
    corpus: DataFrame,
    threshold: float,
    dim: int,
    num_tables: int = 16,
    planes_per_table: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via hyperplane-LSH banding + exact verify —
    the scale path of cosine near-dup search (never all-pairs).

    Plan shape (the MinHash→LSH→Jaccard shape, for embeddings):
      1. signatures: one corpus scan, (id, t, sig) rows only — 16 B/row
         × num_tables, never the payload;
      2. candidates: self-join bucketed by (t, sig) with a < b, distinct —
         shuffle keyed on the band signature, id-only rows;
      3. verify: candidate ids join the corpus payload twice, exact cosine,
         filter ≥ threshold. Payload moves only for candidates.

    Recall is 1 - (1 - p^r)^L per pair (p = 1 - angle/π); defaults
    (L=16, r=2) give >0.999 per-pair recall at cos ≥ 0.4 — the fixtures'
    near-dup band — and tests assert exact set-equality with the brute
    tier there. At production thresholds (≥0.9) use r=8-12, L=8-16.
    """
    # persist: the signature pass (full-corpus Arrow matmul) feeds BOTH
    # self-join sides with different projections — unpersisted it runs
    # twice. Lazy persist; backing cache released with the
    # session (the winnow_pairs/hits convention for result-backing caches).
    sigs = hyperplane_signatures(
        corpus, dim, num_tables, planes_per_table, id_col, vec_col, out_id="_sid"
    ).persist()
    if max_bucket is not None:
        # declared hot-bucket cap (the dedup.py _drop_hot_buckets
        # discipline): a dense (t, sig) bucket — duplicated
        # boilerplate embeddings, or low r on a big corpus — grows the
        # self-join quadratically in its size; members of buckets over
        # the cap pair through their OTHER tables only. At r=2 defaults
        # (4 buckets/table) a cap is effectively mandatory at corpus
        # scale; default None preserves the exact contract.
        hot = (
            sigs.groupBy("t", "sig")
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") > int(max_bucket))
            .select("t", "sig")
        )
        sigs = sigs.join(F.broadcast(hot), ["t", "sig"], "left_anti")
    left = sigs.select(F.col("_sid").alias("a"), "t", "sig")
    right = sigs.select(F.col("_sid").alias("b"), "t", "sig")
    cand = (
        left.join(right, ["t", "sig"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    va = corpus.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    vb = corpus.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .select("a", "b", cosine(F.col("va"), F.col("vb")).alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    num_tables: int = 8,
    planes_per_table: int = 6,
    multiprobe_bits: int = 1,
) -> DataFrame:
    """Approximate top-k: multi-table OR-amplified hyperplane LSH with
    query-side multi-probe, exact re-rank of the candidate union.

    - num_tables independent hash tables (OR across tables lifts recall:
      miss probability is (1-p^r)^L, not 1-p^r);
    - multiprobe_bits=1 probes, per table, the query's own bucket plus the
      r single-bit-flip neighbor buckets (the most likely alternate
      buckets for a true neighbor) — recall of ~2 tables for the price of
      one table's storage;
    - candidates are exact-cosine re-ranked; ranking shuffle bounded by
      the map-side partial top-k.
    """
    csig = hyperplane_signatures(
        corpus, dim, num_tables, planes_per_table, id_col, vec_col, out_id="neighbor_id"
    )
    qsig = hyperplane_signatures(
        queries, dim, num_tables, planes_per_table, id_col, vec_col, out_id="query_id"
    )
    if multiprobe_bits >= 1:
        # probe the query's own bucket plus every bucket within Hamming
        # distance <= multiprobe_bits (every radius up to bits, not just
        # radius 1, or the recall knob does nothing)
        from itertools import combinations

        masks = [0] + [
            sum(1 << p for p in bits)
            for r_ in range(1, min(multiprobe_bits, planes_per_table) + 1)
            for bits in combinations(range(planes_per_table), r_)
        ]
        probes = F.array(
            *[F.col("sig").bitwiseXOR(F.lit(m)) for m in masks]
        )
        qsig = qsig.select(
            "query_id", "t", F.explode(probes).alias("sig")
        )
    cand = (
        csig.join(F.broadcast(qsig), ["t", "sig"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    scored = (
        cand.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("cos"))
    )
    return _rank_topk(scored, k)


IVF_QUANT = 12  # decimals: cell-assignment similarity quantization


def _assign_cells(
    df: DataFrame, idname: str, cent_ids: np.ndarray, Cn: np.ndarray, keep: int
) -> DataFrame:
    """(idname, cent_id): per-vector top-``keep`` centroids by
    round(cos, IVF_QUANT), ties → smaller cent_id.

    ZERO-shuffle assignment: the centroid model (C×d, model-sized) rides
    into a mapInPandas closure and each Arrow batch does one normalized
    matmul + argmax/stable-argsort — the clustering._assign_df pattern (a
    crossJoin+row_number form would shuffle |corpus|·C rows through a
    Window just to take an argmax). Similarities
    are quantized to IVF_QUANT decimals before ranking so ~1e-15 cross-
    engine summation noise can never flip a cell (same policy as k-means);
    cent_ids is ascending, so numpy's first-max / stable sort == the
    smaller-cent_id tie-break the DuckDB oracle uses."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
            sims = np.round(Vn @ Cn.T, IVF_QUANT)
            if keep == 1:
                top = np.argmax(sims, axis=1)[:, None]  # first max = min cent_id
            else:
                top = np.argsort(-sims, axis=1, kind="stable")[:, :keep]
            yield pd.DataFrame(
                {
                    idname: np.repeat(pdf["_id"].to_numpy(), top.shape[1]),
                    "cent_id": cent_ids[top.reshape(-1)],
                }
            )

    src = df.select(F.col(idname).alias("_id"), F.col("_v"))
    return src.mapInPandas(gen, schema=f"{idname} long, cent_id long")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the partition-based ANN
    family, complementing hyperplane LSH (lsh_ann_topk).

    Deterministic seed centroids: the ``num_centroids`` corpus vectors with
    the smallest ids (no RNG; the model is a driver-side C×d matrix the
    DuckDB oracle reproduces exactly). Every corpus vector is assigned to
    its nearest centroid by quantized cosine (ties → smaller centroid id);
    a query probes its ``nprobe`` nearest centroid cells and exact-reranks
    only those cells' members.

    Scale shape: assignment is ONE corpus scan with a broadcast matmul
    argmax per Arrow batch — no shuffle, no window (the inverted file then
    shuffles once, keyed by cell id, inside the candidate join); queries
    touch |corpus|·nprobe/C candidates. At 10^9+ vectors the seed
    centroids would come from a trained quantizer — the plan shape
    (broadcast model, cell-keyed candidate join, per-cell rerank) is
    identical."""
    cent_rows = sorted(
        corpus.orderBy(F.asc(id_col)).limit(num_centroids)
        .select(id_col, vec_col).collect(),
        key=lambda r: r[id_col],
    )
    cent_ids = np.array([r[id_col] for r in cent_rows], dtype=np.int64)
    C = np.array([list(r[vec_col]) for r in cent_rows], dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)

    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_v"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_v"))
    cells = _assign_cells(c, "neighbor_id", cent_ids, Cn, 1)
    probes = _assign_cells(q, "query_id", cent_ids, Cn, nprobe)
    cand = (
        cells.join(F.broadcast(probes), "cent_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    scored = (
        cand.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("cos"))
    )
    return _rank_topk(scored, k)
