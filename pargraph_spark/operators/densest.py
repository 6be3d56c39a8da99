"""Densest subgraph: 2(1+ε)-approximate greedy peeling.

Charikar's greedy (STOC'00 approx) in its parallel MapReduce form
(Bahmani, Kumar, Vassilvitskii, "Densest Subgraph in Streaming and
MapReduce", VLDB'12): each round removes EVERY vertex whose degree is
≤ 2(1+ε)·m/n in the current subgraph; some round's survivor set has
density ≥ ρ*/(2(1+ε)), and the loop empties in O(log_{1+ε} n) rounds
(a min-degree vertex always sits ≤ the threshold, so every round peels).
On web graphs this is the link-spam / mutual-admiration-society detector
— the densest core is where rank-collusion lives.

Determinism & exactness: the peel decision `deg(v)·n·den ≤ 2(den+num)·m`
is an exact integer comparison (accumulated in decimal — deg·n overflows
BIGINT at 10^12 scale), so the per-round (n, m) trajectory — and hence
the whole run — is reproducible bit-for-bit by an unrolled SQL oracle;
the reported density m/n is one IEEE division of exact ints. The best
round is chosen by exact cross-multiplied fraction comparison, and the
winning vertex set is re-materialized by replaying the deterministic
peel to that round (two passes beat persisting every round's V-scale
vertex set — the pass count is O(log n), the memory saved is O(V·rounds)).

Plan shape per round: one partial-combined degree aggregate over the
surviving symmetric edge set + two semi-joins to shrink it; the edge set
is re-persisted partitioned on its probe key each round (survivor-scale,
strictly shrinking).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pargraph_spark.operators.edges import adjacency
from pargraph_spark.plans.metrics import JobMetrics


@dataclass
class DensestResult:
    stats: DataFrame      # (round, n_vertices, n_edges, density) per round
    vertices: DataFrame   # (id) — survivor set of the densest round
    best_round: int
    best_density: float
    rounds: int
    metrics: JobMetrics = field(default_factory=lambda: JobMetrics("densest"))


def _peel_round(e: DataFrame, n: int, m: int, num: int, den: int) -> DataFrame:
    """Survivor vertex set of one peel: keep v iff deg(v)·n·den > 2(den+num)·m."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("id")).agg(F.count("*").alias("deg"))
    lhs = F.col("deg").cast("decimal(38,0)") * F.lit(n).cast("decimal(38,0)") * F.lit(den)
    rhs = F.lit(2 * (den + num)).cast("decimal(38,0)") * F.lit(m).cast("decimal(38,0)")
    return deg.where(lhs > rhs).select("id")


def densest_subgraph(
    spark: SparkSession,
    edges: DataFrame,
    eps_num: int = 1,
    eps_den: int = 2,
    max_rounds: int = 60,
    num_partitions: int | None = None,
    materialize_best: bool = True,
) -> DensestResult:
    """edges(src, dst) treated undirected → per-round peel trajectory and
    the densest survivor set. ε = eps_num/eps_den (rational, so the
    threshold stays integer-exact); default ε = 1/2 → a 3-approximation
    in ≤ log_{1.5} n rounds."""
    if eps_num < 0 or eps_den <= 0:
        raise ValueError("eps must be a non-negative rational")
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))

    def trajectory(stop_round: int | None):
        """Run the peel; returns (stats, final-vertex-set-at-stop)."""
        # each undirected edge once as (u < v)
        e, m = adjacency(edges.select(F.least("src", "dst").alias("src"),
                                      F.greatest("src", "dst").alias("dst")), P)
        verts = (
            e.select(F.col("u").alias("id"))
            .unionByName(e.select(F.col("v").alias("id")))
            .distinct()
            .persist()
        )
        n = verts.count()
        stats: list[tuple[int, int, int]] = []
        k = 0
        while n > 0 and k < max_rounds:
            stats.append((k, n, m))
            if stop_round is not None and k == stop_round:
                e.unpersist()
                return stats, verts
            keep = _peel_round(e, n, m, eps_num, eps_den).persist()
            n_new = keep.count()
            new_e = (
                e.join(keep.select(F.col("id").alias("u")), "u", "left_semi")
                .join(keep.select(F.col("id").alias("v")), "v", "left_semi")
                .repartition(P, "u")
                .persist()
            )
            m = new_e.count()
            e.unpersist()
            verts.unpersist()
            e, verts, n = new_e, keep, n_new
            k += 1
        e.unpersist()
        return stats, verts

    stats, last = trajectory(None)
    last.unpersist()
    if not stats:
        empty_v = spark.createDataFrame([], "id long")
        empty_s = spark.createDataFrame(
            [], "round long, n_vertices long, n_edges long, density double"
        )
        return DensestResult(empty_s, empty_v, 0, 0.0, 0)
    # exact fraction argmax: m/n maximal, ties → earliest round
    best_round, bn, bm = max(stats, key=lambda t: (t[2] / t[1], -t[0]))
    # (float key is for ordering only; verify exactly by cross-multiply)
    for k, nn, mm in stats:
        if mm * bn > bm * nn or (mm * bn == bm * nn and k < best_round):
            best_round, bn, bm = k, nn, mm
    if materialize_best:
        _, best_verts = trajectory(best_round)
    else:  # stats-only callers skip the replay pass
        best_verts = spark.createDataFrame([], "id long")
    stats_df = spark.createDataFrame(
        [(k, nn, mm, float(mm) / float(nn)) for k, nn, mm in stats],
        "round long, n_vertices long, n_edges long, density double",
    )
    return DensestResult(
        stats_df,
        best_verts.repartition(P, "id"),
        best_round,
        float(bm) / float(bn),
        len(stats),
    )
