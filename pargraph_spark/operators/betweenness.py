"""Betweenness centrality — bounded-distance multi-source Brandes.

Brandes (J. Math. Sociol. 2001) computes betweenness as a per-source
BFS (path counting) plus a reverse dependency accumulation:

    δ_s(v) = Σ_{w : (v,w)∈E, d(w)=d(v)+1}  (σ_v/σ_w) · (1 + δ_s(w))
    BC(v)  = Σ_{s∈S, v≠s} δ_s(v)

Exact all-pairs Brandes is O(V·E) — at web scale the standard estimator
is SAMPLED sources (Brandes & Pich, 2007) with a DISTANCE BOUND
(k-betweenness, Pfeffer & Carley WWW'12): only shortest paths of length
≤ h contribute. Both cuts are declared semantics here, not silent
truncation: callers pass the source set and the bound, and the result is
the exact bounded-distance betweenness for that (S, h) — which an
unrolled SQL oracle reproduces bit-for-bit.

Cross-engine determinism (the hits.py grid discipline): path counts σ
are exact BIGINT sums; each dependency term (σ_v/σ_w)·(1+δ_w) is a
product of an exact IEEE division and a grid multiple, QUANTIZED to the
2^-30 binary grid before summing. Grid multiples with bounded magnitude
sum EXACTLY in doubles (fixed-point in disguise), so level sums, source
sums, and the final BC are order-independent — the engine and the oracle
agree to the bit with no output rounding at all.

Plan shape: the forward pass is plans/fixpoint.py over ONE state table
(s, v, sigma, dist) on hash(s, v): every (source, vertex) pair reached
so far, with its path count and distance. A level costs ONE Spark job,
the driver's (count, max dist, sources) aggregate. Its step takes the
frontier (dist = the last level), joins it against the persisted
hash(src) adjacency in place (edges.adjacency: no E-scale exchange), sums
the path counts per (s, v), anti-joins the state in place and unions the
new level into it — so neither the edge table nor the visited set is
re-shuffled per level; only the frontier and its messages move, at
(s, v) scale. The pass stops when a level adds no pair. The backward
pass reads level d as the state's dist = d rows and probes the same
adjacency; its delta levels are lazily checkpointed and materialized by
the one eager scores checkpoint. With |S| sampled sources the state is
|S|·V, the knob that makes the operator budgetable at 100 TB.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pargraph_spark.operators.edges import adjacency
from pargraph_spark.plans.debug import dump_plan
from pargraph_spark.plans.fixpoint import release, run_fixpoint
from pargraph_spark.plans.metrics import JobMetrics
from pargraph_spark.session import no_aqe, size_based_partitions

GRID = float(1 << 30)  # 2^-30 binary grid (hits.py policy)


def _quant(c):
    return F.round(c * F.lit(GRID)) / F.lit(GRID)


@dataclass
class BetweennessResult:
    scores: DataFrame  # (id, bc double) — bounded-distance betweenness
    max_depth: int
    n_sources: int
    metrics: JobMetrics  # the forward pass's superstep metrics


def betweenness(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame | None = None,
    max_depth: int = 4,
    directed: bool = True,
    num_partitions: int | None = None,
) -> BetweennessResult:
    """Bounded-distance Brandes betweenness from `sources` (DataFrame
    (id); None = every vertex — exact k-betweenness, affordable only on
    small graphs). Returns (id, bc) over the full vertex set; vertices on
    no bounded shortest path score 0. `directed=False` symmetrizes.

    Convention: scores accumulate per ROOTED traversal, so with
    directed=False and all-vertex sources every geodesic contributes
    from both endpoints — exactly 2x the NetworkX undirected value
    (their final division by 2 is deliberately not applied: it would be
    wrong for sampled `sources`, the operator's primary mode, where the
    estimator is per-root accumulation scaled by the sample). Halve the
    output to compare against NetworkX's betweenness_centrality on a
    full undirected run."""
    if max_depth < 1:
        raise ValueError(f"betweenness requires max_depth >= 1, got {max_depth}")
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    P = size_based_partitions(edges, P)  # guide §2.2, size-derived cap
    adj, n_adj = adjacency(edges, P, symmetric=not directed)
    # the same hash(u) table under the backward chain's names (a renaming
    # projection keeps the partitioning)
    e = adj.select(F.col("u").alias("src"), F.col("v").alias("dst"))
    verts = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .repartition(P, "id")
        .persist()
    )
    # duplicate seed ids would silently double sigma and every delta
    # contribution — dedup here instead of documenting a uniqueness
    # precondition
    srcs = (sources.select("id").distinct() if sources is not None else verts)

    # ---- forward: level-synchronous multi-source BFS with path counts ----
    def step(state: DataFrame, prev) -> DataFrame:
        hop = prev["hop"] or 0  # None: no sources, nothing to expand
        frontier = state.where(F.col("dist") == hop)
        # path counts sum per (s, v); the aggregate leaves hash(s, v), so
        # the anti-join probes the state in place
        nxt = (
            e.join(frontier.hint("shuffle_hash"), e["src"] == frontier["v"])
            .groupBy(frontier["s"].alias("s"), e["dst"].alias("v"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(state.select("s", "v").hint("shuffle_hash"), ["s", "v"], "left_anti")
            .withColumn("dist", F.lit(hop + 1))
        )
        return state.unionByName(nxt)

    res = run_fixpoint(
        spark,
        lambda: srcs.select(
            F.col("id").alias("s"), F.col("id").alias("v"),
            F.lit(1).cast("long").alias("sigma"), F.lit(0).alias("dist"),
        ).repartition(P, "s", "v"),
        step,
        [F.count("*").alias("n"), F.max("dist").alias("hop"),
         F.count_if(F.col("dist") == 0).alias("n_src")],
        lambda s, prev: s["n"] == prev["n"],
        name="betweenness", P=P, max_iter=max_depth, edges=n_adj,
        delta=lambda s, prev: float(s["n"] - prev["n"]),  # new pairs
        plan="betweenness_forward_level",
    )
    levels = [
        res.state.where(F.col("dist") == d).select("s", "v", "sigma")
        for d in range((res.stats["hop"] or 0) + 1)
    ]

    with no_aqe(spark, P):
        # ---- backward: dependency accumulation, deepest level first ----
        # delta[d] carries (s, v, sigma, delta); the deepest level has δ = 0.
        deltas: list[DataFrame | None] = [None] * len(levels)
        deltas[-1] = levels[-1].withColumn("delta", F.lit(0.0))
        for d in range(len(levels) - 2, 0, -1):
            nx = deltas[d + 1].select(
                F.col("s").alias("_s"), F.col("v").alias("_w"),
                F.col("sigma").alias("_sw"), F.col("delta").alias("_dw"),
            )
            lv = levels[d]
            contrib = (
                e.join(lv.hint("shuffle_hash"), e["src"] == lv["v"])
                .join(nx.hint("shuffle_hash"), (lv["s"] == nx["_s"]) & (e["dst"] == nx["_w"]))
                .groupBy(lv["s"].alias("s"), lv["v"].alias("v"))
                .agg(
                    F.sum(
                        _quant(
                            (F.col("sigma").cast("double") / F.col("_sw").cast("double"))
                            * (F.lit(1.0) + F.col("_dw"))
                        )
                    ).alias("_delta")
                )
            )
            dd = (
                lv.join(contrib, ["s", "v"], "left")
                .select(
                    "s", "v", "sigma",
                    F.coalesce(F.col("_delta"), F.lit(0.0)).alias("delta"),
                )
            )
            dump_plan(dd, "betweenness_backward_level")
            # lazy: the WHOLE delta chain is computed and cached inside
            # the one eager scores job below; with
            # checkpointAllMarkedAncestors off, that job truncates only the
            # outermost marked RDD's lineage. Until scores materializes,
            # the state, `e` and every deltas[d] are still needed: the
            # release at the end runs after it.
            deltas[d] = dd.localCheckpoint(eager=False)

        if len(levels) > 1:
            all_d = deltas[1]
            for d in range(2, len(levels)):
                all_d = all_d.unionByName(deltas[d])
            bc = all_d.groupBy(F.col("v").alias("id")).agg(F.sum("delta").alias("bc"))
        else:
            bc = spark.createDataFrame([], "id long, bc double")
        scores = (
            verts.join(bc, "id", "left")
            .select("id", F.coalesce("bc", F.lit(0.0)).alias("bc"))
        )
        scores = scores.localCheckpoint(eager=True)
    # scores is materialized and independent: free the adjacency, the
    # vertex set, the forward state and the backward delta levels
    adj.unpersist()
    verts.unpersist()
    for df in (res.state, *deltas[1:]):
        release(df)
    return BetweennessResult(scores, max_depth, res.stats["n_src"], res.metrics)
