"""Weighted single-source(-set) shortest paths — frontier Bellman-Ford.

The natural completion of the frontier family next to bfs_distances
(operators/bfs.py): the same expansion discipline, with a min-plus
semiring instead of reachability — the direct Spark re-expression of the
reference's frontier semiring kernel
(/root/reference/pargraph/utility/graphlib_graphblas.py:156-167).

Round t relaxes only the FRONTIER (vertices whose distance improved in
round t-1) against the once-partitioned edge table:

    cand(v)  = min over frontier edges (u,v) of dist(u) + w(u,v)
    improved = cand(v) < dist(v)  (or v unseen)

After k rounds dist(v) = min weight over paths of ≤ k edges — identical
to full Bellman-Ford relaxation (a settled vertex's final distance has
already been delivered to its neighbors the round after it last
improved), which is exactly what the unrolled min-plus CTE oracle
computes. Converges when the frontier empties (≤ |V|-1 rounds for
non-negative weights; no negative-cycle detection — link-graph weights
are non-negative).

Scale shape: the edge table is built once by edges.adjacency
(symmetrized when asked, parallel edges min-combined, persisted on the
join key) — it never moves again; per round only frontier-sized
(id, dist) rows shuffle, the min-combine is a partial (map-side)
aggregate so hub fan-in is safe, and the V-scale dist merge is one
outer join on the id-partitioned table. Unreached vertices are absent
from the output (at web scale, most of the graph — materializing ∞ rows
would dwarf the answer). The round loop is plans/fixpoint.py: each
round's state is checkpointed to truncate lineage (the ref-count-release
analogue, reference engine.py:63-76) and costs one Spark job.

Determinism: distances are pure min-plus values — no tie-breaks exist;
with integer (or exactly-representable) weights results are bit-identical
across engines and partitionings.
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
class SsspResult:
    distances: DataFrame  # (id, dist) — reached vertices only
    rounds: int           # relaxation rounds actually run
    exhausted: bool       # True if the frontier emptied before max_rounds
    metrics: JobMetrics = field(default_factory=lambda: JobMetrics("sssp"))


def sssp(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str = "w",
    max_rounds: int = 10,
    symmetric: bool = True,
    num_partitions: int | None = None,
) -> SsspResult:
    """edges(src, dst, weight_col) + sources(id) → (id, dist) where dist
    is the min-plus shortest distance over paths of ≤ max_rounds edges.

    symmetric=True treats edges as undirected; parallel edges keep the
    MINIMUM weight (the only weight min-plus can ever use). The dist
    column keeps the weight column's type: integer weights give exact
    integer distances (the cross-engine-exact contract configuration)."""
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    P = size_based_partitions(edges, P)  # guide §2.2, size-derived cap
    adj, n_adj = adjacency(edges.select("src", "dst", F.col(weight_col).alias("w")), P,
                           symmetric=symmetric, weight="min")

    zero = F.lit(0).cast(dict(adj.dtypes)["w"])

    def step(state: DataFrame, prev) -> DataFrame:
        # the frontier: vertices whose distance improved last round (every
        # source in round 1)
        frontier = state.where(F.col("_imp")).select("id", F.col("dist").alias("_fd"))
        cand = (
            adj.join(frontier, adj["u"] == F.col("id"))
            .select(adj["v"].alias("id"), (F.col("_fd") + adj["w"]).alias("nd"))
            .groupBy("id")
            .agg(F.min("nd").alias("nd"))  # partial+final min: hub-safe
        )
        return state.select("id", "dist").join(cand, "id", "full_outer").select(
            "id",
            F.when(
                F.col("dist").isNull() | (F.col("nd") < F.col("dist")),
                F.col("nd"),
            ).otherwise(F.col("dist")).alias("dist"),
            (
                F.col("nd").isNotNull()
                & (F.col("dist").isNull() | (F.col("nd") < F.col("dist")))
            ).alias("_imp"),
        )

    res = run_fixpoint(
        spark,
        lambda: sources.select("id").distinct()
        .select("id", zero.alias("dist"), F.lit(True).alias("_imp"))
        .repartition(P, "id"),
        step, [F.count_if("_imp")], lambda s, prev: s[0] == 0,
        name="sssp", P=P, max_iter=max_rounds, edges=n_adj,
    )
    adj.unpersist()
    # rounds counts relaxations that improved something: the round that
    # finds an empty frontier is not one
    return SsspResult(res.state.select("id", "dist"),
                      res.iterations - res.converged, res.converged, res.metrics)
