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
`e_dst` (hash(dst)) for the backward one. Holding TWO cached copies of
the edge table (2× memory, spill-safe) buys ZERO E-scale exchanges
inside the loop: a single copy partitioned on src would re-shuffle the
full edge table, on the skewed dst key, on every backward half-step.

The loop is plans/fixpoint.py, run for exactly `iterations` supersteps;
one superstep is both half-steps. The state is one table (id, hub,
authority) whose hub column holds the RAW (unnormalized) hub sums: the
driver's stats aggregate totals them, and the next superstep (or the
final output) normalizes with that total as a literal. The authority
half-step feeds the hub half-step and the next state, so the step
checkpoints its raw sums and collects their total from the checkpoint.
Each normalizer thus reads something already materialized, and each
half-step's E-scale join runs once per superstep: three Spark jobs per
superstep (the authority checkpoint, its V-scale total, the stats job).
Raw sums of 2^-30 grid multiples are exact, so a total does not depend
on the order it is summed in. hits() and salsa() share that loop,
`_hub_authority`; they differ only in the edge annotation and the two
per-edge terms.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pargraph_spark.plans.fixpoint import run_fixpoint
from pargraph_spark.plans.metrics import JobMetrics
from pargraph_spark.session import size_based_partitions

GRID = float(1 << 30)  # quantization grid 2^-30 (~1e-9)


def quantize(c: Column) -> Column:
    return F.round(c * F.lit(GRID)) / F.lit(GRID)


def _norm_quant(df: DataFrame, col: str, total: float) -> DataFrame:
    """L1-normalize `col` by its precomputed `total` and quantize."""
    return df.withColumn(
        col, quantize(F.col(col) / F.lit(total) if total > 0 else F.lit(0.0)))


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
    each half-step. Returns ((id, hub, authority), iterations, metrics)."""
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
        # empty graph: return the empty frame (an empty hub total is null)
        verts.unpersist()
        e_src.unpersist()
        e_dst.unpersist()
        return (spark.createDataFrame([], "id long, hub double, authority double"),
                0, JobMetrics(name))

    def half(e: DataFrame, key: str, out: str, scores: DataFrame, term: Column,
             col: str) -> DataFrame:
        """Sum `term` over e's edges, whose `key` end carries `scores`,
        into `col` of their `out` end, 0 for a vertex with no such edge;
        not normalized."""
        raw = (
            e.join(scores.withColumnRenamed("id", key).hint("shuffle_hash"), key)
            .groupBy(F.col(out).alias("id"))
            .agg(F.sum(term).alias(col))
        )
        return verts.join(raw.hint("shuffle_hash"), "id", "left").select(
            "id", F.coalesce(col, F.lit(0.0)).alias(col))

    def step(state: DataFrame, prev) -> tuple[DataFrame, list[DataFrame]]:
        hub = _norm_quant(state.select("id", "hub"), "hub", prev["_th"])
        # the authorities feed the hub half-step and the next state, so
        # their raw sums are materialized once and normalized from there
        a_raw = half(e_src, "src", "dst", hub, auth_term, "authority").localCheckpoint()
        a = _norm_quant(a_raw, "authority", a_raw.agg(F.sum("authority")).first()[0])
        h = half(e_dst, "dst", "src", a, hub_term, "hub")
        # union + aggregate, not a join: Spark estimates a join as a
        # product, and the checkpoint carries the estimate on
        none = F.lit(None).cast("double")
        return (
            h.select("id", "hub", none.alias("authority"))
            .unionByName(a.select("id", none.alias("hub"), "authority"))
            .groupBy("id")
            .agg(F.max("hub").alias("hub"), F.max("authority").alias("authority"))
        ), [a_raw]

    # raw hub 1.0 everywhere: its total is n, so the first superstep
    # starts from the uniform quantize(1/n)
    res = run_fixpoint(
        spark,
        lambda: verts.select("id", F.lit(1.0).alias("hub"),
                             F.lit(0.0).alias("authority")),
        step, [F.count("*"), F.sum("hub").alias("_th")], lambda s, prev: False,
        name=name, P=P, max_iter=iterations, edges=n_edges,
        plan=f"{name}_superstep",
    )
    scores = _norm_quant(res.state, "hub", res.stats["_th"])
    e_src.unpersist()
    e_dst.unpersist()
    verts.unpersist()
    return scores, res.iterations, res.metrics


@dataclass
class HitsResult:
    scores: DataFrame  # (id, hub double, authority double)
    iterations: int
    metrics: JobMetrics = field(default_factory=lambda: JobMetrics("hits"))


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
    metrics: JobMetrics = field(default_factory=lambda: JobMetrics("salsa"))


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
