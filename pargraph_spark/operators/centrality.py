"""Katz centrality — truncated power iteration over the directed graph.

Katz (1953) status index: x(v) = Σ_k α^k · |paths of length k ending at v|,
computed as the fixpoint of x ← β·1 + α·Aᵀx. The web-ranking sibling of
PageRank without the out-degree normalization — a hub passes its FULL
score to every target, so Katz rewards being linked from well-linked
pages regardless of how many other links those pages carry. Truncated at
a fixed iteration count the iterate is a polynomial in exact path counts,
deterministic for any α (the usual α < 1/λ_max convergence condition only
matters for the infinite sum), which is what makes the unrolled SQL
oracle exact to float-rounding noise.

The superstep loop is plans/fixpoint.py, run for exactly `iters`
supersteps. The state is one table, (id, xs) on the exact path or (id,
katz) on the float path; one step serves both and only the per-vertex
term differs. The edge table is persisted partitioned on src and probed
in place by the state; the messages and every vertex's own row meet in
one union + aggregate keyed by id (map-side partial combine before the
shuffle). Zero E-scale exchanges and one Spark job per superstep, the
driver's stats job.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pargraph_spark.operators.edges import adjacency
from pargraph_spark.plans.fixpoint import run_fixpoint
from pargraph_spark.plans.metrics import JobMetrics
from pargraph_spark.session import size_based_partitions


@dataclass
class KatzResult:
    scores: DataFrame  # (id, katz)
    iterations: int
    metrics: JobMetrics = field(default_factory=lambda: JobMetrics("katz"))


def katz_centrality(
    spark: SparkSession,
    edges: DataFrame,
    alpha: float = 0.05,
    beta: float = 1.0,
    iters: int = 5,
    num_partitions: int | None = None,
    exact_denominator: int | None = None,
) -> KatzResult:
    """edges(src, dst) directed → (id, katz) after `iters` supersteps of
    x ← β + α·Σ_{u→v} x(u), from x₀ = β.

    exact_denominator=D (requires β=1) sets α=1/D and runs the EXACT
    integer recurrence on X_t = x_t·D^t:  X_{t+1}(v) = D^{t+1} + Σ X_t(u),
    X_0 = 1 — accumulated in decimal(38,0) (order-independent, exact), so
    the emitted katz = X_iters / D^iters is ONE correctly-rounded IEEE
    division of exactly-converted operands: bit-identical across engines
    with no rounding grid. The float path (exact_denominator=None) is the
    10^12-scale tier (X grows like Σ_k D^{iters-k}·|paths_k| and can pass
    decimal range on deep runs over hub-dense graphs); truncation depth
    and semantics are identical either way."""
    if exact_denominator is not None:
        if beta != 1.0:
            raise ValueError("exact_denominator requires beta == 1.0")
        alpha = 1.0 / exact_denominator
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    P = size_based_partitions(edges, P)  # guide §2.2, size-derived cap
    e, n_edges = adjacency(
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long")), P)
    verts = (
        e.select(F.col("u").alias("id"))
        .unionByName(e.select(F.col("v").alias("id")))
        .distinct()
        .repartition(P, "id")
    )
    if exact_denominator is not None:
        D = int(exact_denominator)
        col, typ = "xs", "decimal(38,0)"

        def term(t: int, s):
            # Decimal-sum overflow past 38 digits THROWS under ANSI (this
            # repo's default config); a non-ANSI session would turn it
            # into a null, so exact-mode Katz requires ANSI on
            return (F.lit(D ** t).cast(typ)
                    + F.coalesce(s, F.lit(0).cast(typ))).cast(typ)
    else:
        col, typ = "katz", "double"

        def term(t: int, s):
            return F.lit(float(beta)) + F.lit(float(alpha)) * F.coalesce(s, F.lit(0.0))

    t = 0

    def step(x: DataFrame, prev) -> DataFrame:
        nonlocal t
        t += 1
        # every vertex's own null row keeps vertices without in-edges;
        # union + aggregate, not a join: Spark estimates a join as a
        # product, and the checkpoint carries the estimate on
        msgs = e.join(
            x.select(F.col("id").alias("u"), F.col(col).alias("_s"))
            .hint("shuffle_hash"), "u",
        ).select(F.col("v").alias("id"), "_s")
        return (
            x.select("id", F.lit(None).cast(typ).alias("_s"))
            .unionByName(msgs)
            .groupBy("id")
            .agg(F.sum("_s").alias("_s"))
            .select("id", term(t, F.col("_s")).alias(col))
        )

    res = run_fixpoint(
        spark, lambda: verts.select("id", term(0, F.lit(None)).alias(col)), step,
        [F.count("*")], lambda s, prev: False,
        name="katz", P=P, max_iter=iters, edges=n_edges,
        delta=lambda s, prev: float("nan"),
    )
    e.unpersist()
    x = res.state
    if exact_denominator is not None:
        x = x.select(
            "id", (F.col("xs").cast("double") / F.lit(float(D ** iters))).alias("katz")
        )
    return KatzResult(x, res.iterations, res.metrics)
