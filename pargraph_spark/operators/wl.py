"""Weisfeiler-Lehman color refinement (1-WL / color refinement, the
Weisfeiler-Leman 1968 canonical-role iteration and the expressiveness
ceiling of message-passing GNNs, Xu et al. ICLR'19).

Two vertices get the same color after t rounds iff their t-hop rooted
neighborhood trees are isomorphic — the standard vertex-role /
structural-equivalence signal (template pages, boilerplate nav hubs and
mirror sites land in one color class on a web graph) and the classic
cheap graph-isomorphism refutation: different color histograms =>
non-isomorphic.

Classic 1-WL rehashes label(v) | SORTED multiset of neighbor labels,
which needs a per-vertex collect_list — a hub vertex materializes its
whole neighbor list in one row (the O10 anti-pattern). This
implementation uses the commutative MULTISET-HASH form instead:

    color_{t+1}(v) = H( color_t(v), SUM_{u in N(v)} h(color_t(u)) mod M )

where h maps a color to a 60-bit md5 integer and the sum runs mod
M = 2^61 - 1. The modular SUM is commutative/associative, so Spark
partial-combines it map-side (partial_sum in the plan) and no row ever
holds a neighbor list: hub cost is the same as a degree count. A
multiset collision needs md5-60-bit sums to coincide — negligible, and
WRONG only toward coarser colors (never splits a true class).

Refinement invariant: colors only split, never merge, so the color
COUNT is monotone non-decreasing and the iteration stabilizes in at
most |V| rounds (diameter-ish in practice). Rounds past the stable
partition are identity — the fixed-round form is oracle-friendly (the
kcore/bitruss unrolled-CTE discipline).

Everything is integers + md5 — bit-identical in any engine with md5
(DuckDB oracle: the same conv/substr/md5 expressions; reference
pargraph has no graph-algorithm library — engine extension).

Scale shape per round: neighbor hash-sums probe a u-partitioned
persisted edge copy in place (persist, not localCheckpoint, so the copy
keeps reporting its partitioning); only the V-scale color table
shuffles. One E-scale exchange total, at build. The round loop is
plans/fixpoint.py: each round costs ONE Spark job, the distinct-color
count that materializes the round's checkpoint and stops the run when
a round splits nothing.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pargraph_spark.plans.fixpoint import run_fixpoint
from pargraph_spark.plans.metrics import JobMetrics
from pargraph_spark.session import size_based_partitions

from .edges import adjacency

# The multiset sum runs in DECIMAL(38,0): 60-bit terms over any real
# degree (d < 10^18) stay exact — a LONG sum would overflow at degree
# ~16 and Spark 4's ANSI mode throws on that. The aggregate still
# partial-combines (decimal sum is commutative/associative), and the
# final reduction mod a Mersenne modulus brings it back to int64
# identically on both engines.
_M = (1 << 61) - 1


def _h60(col) -> F.Column:
    """60-bit md5 integer of a column's STRING form (long -> '123', so
    the bytes match str(x).encode() / DuckDB's VARCHAR cast exactly) —
    always < 2^60 < M."""
    return F.conv(
        F.substring(F.md5(col.cast("string").cast("binary")), 1, 15), 16, 10
    ).cast("long")


@dataclass
class WLResult:
    colors: DataFrame  # (id, color) — 60-bit integer color ids
    rounds: int
    n_colors: int  # distinct colors at the final round
    converged: bool  # True iff the last round split nothing
    metrics: JobMetrics = field(default_factory=lambda: JobMetrics("wl"))


def wl_colors(
    edges: DataFrame,
    rounds: int,
    init: DataFrame | None = None,
    num_partitions: int | None = None,
) -> WLResult:
    """Run up to `rounds` rounds of 1-WL color refinement over the
    undirected view of `edges`, stopping early at the first round that
    splits no color class (rounds past it are identity: colors rehash,
    the partition stays); `init` is an optional (id, color) seed
    labeling (string or integer colors — attributes, degrees, page
    types), default all-equal. Returns 60-bit integer colors; equal
    color == equal t-hop neighborhood tree (up to md5 multiset
    collision).
    """
    if rounds < 0:
        raise ValueError(f"rounds must be >= 0, got {rounds}")
    spark = edges.sparkSession
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    P = size_based_partitions(edges, P)  # guide §2.2, size-derived cap

    # keyed on the JOIN key u — the per-round colors join probes it in
    # place (a v-keyed copy would re-exchange the E-scale table every round)
    sym, _ = adjacency(edges, P, symmetric=True)
    verts = sym.select(F.col("u").alias("id")).distinct()
    if init is not None:
        colors = verts.join(
            init.select("id", F.col("color").cast("string").alias("_c0")),
            "id", "left",
        ).select(
            "id", _h60(F.coalesce(F.col("_c0"), F.lit("_"))).alias("color")
        )
    else:
        colors = verts.select("id", _h60(F.lit("_")).alias("color"))

    def step(colors: DataFrame, prev) -> DataFrame:
        # neighbor multiset hash-sum: probe the u-partitioned edges in
        # place, partial-combine the modular sum map-side
        nbr = (
            sym.join(colors.withColumnRenamed("id", "u").hint("shuffle_hash"), "u")
            .groupBy(F.col("v").alias("id"))
            .agg(
                (F.sum(_h60(F.col("color")).cast("decimal(38,0)")) % _M)
                .cast("long")
                .alias("_ns")
            )
        )
        return colors.join(nbr.hint("shuffle_hash"), "id", "left").select(
            "id",
            _h60(
                F.concat_ws(
                    "|",
                    F.col("color").cast("string"),
                    F.coalesce(F.col("_ns"), F.lit(-1)).cast("string"),
                )
            ).alias("color"),
        )

    # refinement only splits classes, so an unchanged class count means
    # the partition is stable
    res = run_fixpoint(
        spark, lambda: colors, step, [F.count_distinct("color")],
        lambda s, prev: s[0] == prev[0],
        name="wl", P=P, max_iter=rounds, edges=0,
    )
    sym.unpersist()
    return WLResult(res.state, res.iterations, int(res.stats[0]), res.converged,
                    res.metrics)


def wl_histogram(res: WLResult) -> DataFrame:
    """Color-class size histogram (color, n) — compare two graphs'
    histograms: any difference refutes isomorphism at the WL level."""
    return res.colors.groupBy("color").agg(F.count("*").alias("n"))
