"""HITS (Kleinberg hubs & authorities) — fixed-iteration power method.

    a_{t+1}(v) ∝ Σ_{u→v} h_t(u)        (authority = endorsed by hubs)
    h_{t+1}(u) ∝ Σ_{u→v} a_{t+1}(v)    (hub = endorses authorities)

Cross-engine determinism: after each half-step the scores are
L1-normalized and QUANTIZED to the binary grid 2^-30 — round(x·2^30)/2^30.
Power-of-two scaling and the final division are EXACT IEEE operations, so
a quantized value is bit-identical across engines whenever the engines
agree on round-to-integer — and they do except at exact .5 midpoints
(probability ~2^-23 per value; decimal round(x, k) by contrast diverges
whenever the shortest-decimal vs scaled-double rounding paths disagree,
observed at ~1e-3 per run). Normalized scores sum to 1, so the ~1e-16
absolute sum noise sits seven orders below the ~1e-9 grid quantum and can
never compound across iterations. Initial h_0 = 1/|V|. Outputs are the
grid values themselves — re-rounding them to fewer decimals would
reintroduce the midpoint pathology.
Vertices without in-edges get authority 0; without out-edges, hub 0.

Plan shape per iteration: two partial-combined aggregations (groupBy dst
sum, groupBy src sum), each probing a persisted edge copy CO-PARTITIONED
on its own probe key — `e_src` (hash(src)) for the forward half-step,
`e_dst` (hash(dst)) for the backward one — + one broadcast 1-row
normalizer each. Holding TWO cached copies of the edge table (2× memory,
spill-safe) buys ZERO E-scale exchanges inside the loop: a single copy
partitioned on src would re-shuffle the full edge table, on the skewed
dst key, on every backward half-step. No driver collect in the loop.

The loop is plans/fixpoint.py, run for exactly `iterations` supersteps;
one superstep is both half-steps. The state is one table (id, hub,
authority). The authority half-step feeds the hub half-step and the next
state, so the step materializes it (a checkpoint job and its
normalizer's broadcast job) and the driver releases it; the hub
normalizer's broadcast and the driver's stats job make four Spark jobs
per superstep. hits() and salsa() share that loop, `_hub_authority`;
they differ only in the edge annotation and the two per-edge terms.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pargraph_spark.plans.fixpoint import run_fixpoint
from pargraph_spark.session import size_based_partitions

GRID = float(1 << 30)  # quantization grid 2^-30 (~1e-9)


def quantize(c: Column) -> Column:
    return F.round(c * F.lit(GRID)) / F.lit(GRID)


def _norm_quant(df: DataFrame, col: str) -> DataFrame:
    """L1-normalize `col` over the frame (broadcast 1-row total) and
    quantize."""
    tot = df.agg(F.coalesce(F.sum(col), F.lit(0.0)).alias("_t"))
    return (
        df.crossJoin(F.broadcast(tot))
        .select(
            "id",
            quantize(
                F.when(F.col("_t") > 0, F.col(col) / F.col("_t")).otherwise(F.lit(0.0))
            ).alias(col),
        )
    )


def _hub_authority(
    spark: SparkSession,
    name: str,
    edges: DataFrame,
    vertices: DataFrame | None,
    iterations: int,
    num_partitions: int | None,
    auth_term: Column,
    hub_term: Column,
    annotate: Callable[[DataFrame], DataFrame] = lambda e: e,
) -> tuple[DataFrame, int]:
    """The alternating power iteration behind hits() and salsa(). The
    distinct non-loop edge table goes through `annotate` (extra per-edge
    columns the terms read); each iteration sums `auth_term` (over the
    `hub` column) into authorities by dst, then `hub_term` (over
    `authority`) into hubs by src, L1-normalizing and quantizing after
    each half-step. Returns ((id, hub, authority), iterations)."""
    if iterations < 1:
        raise ValueError(f"{name} requires iterations >= 1, got {iterations}")
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    P = size_based_partitions(edges, P)  # guide §2.2, size-derived cap
    e0 = annotate(
        edges.where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    # Dual co-partitioned persisted copies: each half-step probes the copy
    # partitioned on its own join key, so NO E-scale exchange ever happens
    # inside the iteration loop (2x cache for iterations x shuffle saved).
    e_src = e0.repartition(P, "src").persist()
    e_dst = e0.repartition(P, "dst").persist()
    n_edges = e_src.count()
    e_dst.count()
    verts = (
        vertices.select("id")
        if vertices is not None
        else e_src.select(F.col("src").alias("id"))
        .unionByName(e_src.select(F.col("dst").alias("id")))
        .distinct()
    ).repartition(P, "id").persist()
    n = verts.count()
    if n == 0:
        # empty graph: return the empty frame, don't ZeroDivisionError on
        # the uniform init
        verts.unpersist()
        e_src.unpersist()
        e_dst.unpersist()
        return spark.createDataFrame([], "id long, hub double, authority double"), 0

    def half(e: DataFrame, key: str, out: str, scores: DataFrame, term: Column,
             col: str) -> DataFrame:
        """Sum `term` over e's edges, whose `key` end carries `scores`,
        into `col` of their `out` end; normalized and quantized."""
        raw = (
            e.join(scores.withColumnRenamed("id", key).hint("shuffle_hash"), key)
            .groupBy(F.col(out).alias("id"))
            .agg(F.sum(term).alias(col))
        )
        return _norm_quant(
            verts.join(raw.hint("shuffle_hash"), "id", "left")
            .select("id", F.coalesce(col, F.lit(0.0)).alias(col)),
            col,
        )

    def step(state: DataFrame, prev) -> tuple[DataFrame, list[DataFrame]]:
        # the authorities feed the hub half-step and the next state, so
        # they are materialized once
        a = half(e_src, "src", "dst", state.select("id", "hub"), auth_term,
                 "authority").localCheckpoint()
        h = half(e_dst, "dst", "src", a, hub_term, "hub")
        # union + aggregate, not a join: Spark estimates a join as a
        # product, and the checkpoint carries the estimate on
        none = F.lit(None).cast("double")
        return (
            h.select("id", "hub", none.alias("authority"))
            .unionByName(a.select("id", none.alias("hub"), "authority"))
            .groupBy("id")
            .agg(F.max("hub").alias("hub"), F.max("authority").alias("authority"))
        ), [a]

    res = run_fixpoint(
        spark,
        lambda: verts.select("id", quantize(F.lit(1.0 / n)).alias("hub"),
                             F.lit(0.0).alias("authority")),
        step, [F.count("*")], lambda s, prev: False,
        name=name, P=P, max_iter=iterations, edges=n_edges,
    )
    e_src.unpersist()
    e_dst.unpersist()
    verts.unpersist()
    return res.state, res.iterations


@dataclass
class HitsResult:
    scores: DataFrame  # (id, hub double, authority double)
    iterations: int


def hits(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    iterations: int = 5,
    num_partitions: int | None = None,
) -> HitsResult:
    return HitsResult(*_hub_authority(
        spark, "hits", edges, vertices, iterations, num_partitions,
        F.col("hub"), F.col("authority"),
    ))


@dataclass
class SalsaResult:
    scores: DataFrame  # (id, hub double, authority double)
    iterations: int


def salsa(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    iterations: int = 5,
    num_partitions: int | None = None,
) -> SalsaResult:
    """SALSA (Lempel & Moran 2001): the random-walk cousin of HITS —
    contributions are DEGREE-NORMALIZED, so scores converge to the
    stationary distribution of the alternating bipartite walk instead of
    the dominant eigenvector, which famously resists HITS's
    tightly-knit-community (TKC) topic-drift:

        a_{t+1}(v) ∝ Σ_{u→v} h_t(u)/outdeg(u)
        h_{t+1}(u) ∝ Σ_{u→v} a_{t+1}(v)/indeg(v)

    Cross-engine determinism extends the HITS grid discipline one step:
    the PER-EDGE term h/outdeg is itself quantized to the 2^-30 grid
    before summing — grid multiples with total mass ≤ 1 sum EXACTLY in
    IEEE doubles (fixed-point in disguise), so the aggregate is
    order-independent and the unrolled SQL oracle matches bit-for-bit.
    Same plan as hits(): the degree columns are joined into the edge
    table once, before its two co-partitioned copies are persisted."""

    def with_degrees(e0: DataFrame) -> DataFrame:
        od = e0.groupBy("src").agg(F.count("*").alias("_od"))
        idg = e0.groupBy("dst").agg(F.count("*").alias("_id"))
        return e0.join(od, "src").join(idg, "dst")

    return SalsaResult(*_hub_authority(
        spark, "salsa", edges, vertices, iterations, num_partitions,
        quantize(F.col("hub") / F.col("_od")),
        quantize(F.col("authority") / F.col("_id")),
        annotate=with_degrees,
    ))
