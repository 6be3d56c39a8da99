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
round is chosen by exact cross-multiplied fraction comparison.

The peel is kcore's ``_peel`` on the plans/fixpoint.py driver, one
Spark job per round: its vertex state records the round each vertex was
peeled in, so the densest round's survivor set is a filter on that
column (peeled after the best round, or never), read from the one peel;
the (n, m) trajectory is the driver's per-round stats.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pargraph_spark.operators.kcore import _peel
from pargraph_spark.plans.fixpoint import release
from pargraph_spark.plans.metrics import JobMetrics


@dataclass
class DensestResult:
    stats: DataFrame      # (round, n_vertices, n_edges, density) per round
    vertices: DataFrame   # (id) — survivor set of the densest round
    best_round: int
    best_density: float
    rounds: int
    metrics: JobMetrics = field(default_factory=lambda: JobMetrics("densest"))


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
    in ≤ log_{1.5} n rounds. The trajectory holds at most max_rounds
    rounds, round 0 the whole graph. materialize_best is accepted for
    existing callers and changes nothing: the survivor set is a filter on
    the peel's state either way."""
    if eps_num < 0 or eps_den <= 0:
        raise ValueError("eps must be a non-negative rational")
    dec = "decimal(38,0)"

    def keep(prev):
        # keep v iff deg(v)·n·den > 2(den+num)·m, with m = e/2 the edges
        lhs = F.col("deg").cast(dec) * F.lit(prev["n"]).cast(dec) * F.lit(eps_den)
        rhs = F.lit(2 * (eps_den + eps_num)).cast(dec) * F.lit(prev["e"] // 2).cast(dec)
        return lhs > rhs

    # the trajectory's last round needs no peel after it
    res, traj = _peel(edges.select("src", "dst"), keep, lambda s, prev: s["n"] == 0,
                      "densest", max_rounds - 1, num_partitions)
    stats = [(k, s["n"], s["e"] // 2) for k, s in enumerate(traj[:max_rounds])
             if s["n"] > 0]
    if not stats:
        release(res.state)
        empty_v = spark.createDataFrame([], "id long")
        empty_s = spark.createDataFrame(
            [], "round long, n_vertices long, n_edges long, density double"
        )
        return DensestResult(empty_s, empty_v, 0, 0.0, 0, res.metrics)
    # exact fraction argmax: m/n maximal, ties → earliest round
    best_round, bn, bm = max(stats, key=lambda t: (t[2] / t[1], -t[0]))
    # (float key is for ordering only; verify exactly by cross-multiply)
    for k, nn, mm in stats:
        if mm * bn > bm * nn or (mm * bn == bm * nn and k < best_round):
            best_round, bn, bm = k, nn, mm
    stats_df = spark.createDataFrame(
        [(k, nn, mm, float(mm) / float(nn)) for k, nn, mm in stats],
        "round long, n_vertices long, n_edges long, density double",
    )
    best_verts = res.state.where(
        F.col("r").isNull() | (F.col("r") > best_round)).select("id")
    return DensestResult(
        stats_df,
        best_verts,
        best_round,
        float(bm) / float(bn),
        len(stats),
        res.metrics,
    )
