"""Distributed greedy graph coloring (Jones-Plassmann rounds).

Jones & Plassmann (1993): fix one random priority per vertex; each round
every UNCOLORED vertex whose priority beats all uncolored neighbors
takes the smallest color absent from its already-colored neighborhood.
With the priorities fixed, the parallel schedule is just a topological
execution of the priority DAG, so the final coloring equals the
SEQUENTIAL greedy coloring in priority order — deterministic, at most
Δ+1 colors, pytest-pinned against that brute-force equivalence.

Priorities here are the mis.py total-order key md5("color|0|id")+id —
each round's winner set is EXACTLY a deterministic-Luby independent-set
selection (local priority minima among undecided vertices), the same
primitive maximal_independent_set iterates; coloring is "Luby rounds,
but winners pick a color and stay instead of deleting their
neighborhood".

Link-graph uses: conflict-free scheduling of vertex-local updates
(recrawl batches where neighbors must not refresh together), register
allocation-style partitioning of overlay maintenance, symmetry breaking
for parallel greedy heuristics.

The round loop is plans/fixpoint.py. The state is one table (id,
color), color null while the vertex is uncolored, read against ONE
static symmetric edge table persisted on hash(v). A round is one join of
that table with the state: each vertex sends its neighbors its priority
while uncolored and its color once colored. One union + aggregate with
the vertices' own rows then takes the local-minima test (min neighbor
priority) and the neighbor color set, a collect_set bounded by the
number of colors used so far (≤ rounds ≤ Δ+1), never by raw degree — a
hub's adjacency reduces map-side to its distinct neighbor colors. A
winner takes the mex, an F.aggregate fold over the sorted color array.
Nothing is materialized inside a round: it costs one Spark job, the
driver's stats job (uncolored count).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pargraph_spark.operators.edges import adjacency
from pargraph_spark.operators.mis import _priority
from pargraph_spark.plans.fixpoint import run_fixpoint
from pargraph_spark.plans.metrics import JobMetrics
from pargraph_spark.session import size_based_partitions


@dataclass
class ColoringResult:
    colors: DataFrame  # (id, color) — colored vertices only
    rounds: int
    converged: bool
    metrics: JobMetrics = field(default_factory=lambda: JobMetrics("coloring"))


def _mex(arr):
    """Smallest non-negative int absent from a sorted distinct int array."""
    return F.aggregate(
        arr,
        F.lit(0),
        lambda acc, x: F.when(x == acc, acc + F.lit(1)).otherwise(acc),
    )


def greedy_coloring(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 200,
    salt: str = "color",
    num_partitions: int | None = None,
    fixed_rounds: int | None = None,
) -> ColoringResult:
    """Deterministic Jones-Plassmann coloring of the undirected graph.

    Converged output is proper (no edge monochromatic), uses ≤ Δ+1
    colors, and equals the sequential greedy coloring in ascending
    md5-priority order. fixed_rounds runs exactly that many rounds and
    never stops early (oracle parity): vertices still uncolored are
    simply absent from `colors`."""
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    P = size_based_partitions(edges, P)  # guide §2.2, size-derived cap
    # the symmetric table keyed on the probe key v: its names swapped,
    # which keeps the rows and the hash partitioning
    adj, n_edges = adjacency(edges, P, symmetric=True)
    sym = adj.select(F.col("u").alias("v"), F.col("v").alias("u"))

    def step(state: DataFrame, prev) -> DataFrame:
        # every vertex sends its neighbors its priority while uncolored,
        # its color once colored; each vertex's own row carries its own
        pk = F.when(F.col("color").isNull(), _priority(F.col("id"), 0, salt))
        no_pk, no_color = F.lit(None).cast("string"), F.lit(None).cast("int")
        msgs = sym.join(
            state.select(F.col("id").alias("v"), pk.alias("_n"),
                         F.col("color").alias("_nc")).hint("shuffle_hash"), "v",
        ).select(F.col("u").alias("id"), no_pk.alias("pk"), "_n",
                 no_color.alias("color"), "_nc")
        own = state.select("id", pk.alias("pk"), no_pk.alias("_n"), "color",
                           no_color.alias("_nc"))
        # an uncolored vertex whose priority beats every uncolored
        # neighbor's takes the smallest color its neighbors do not hold;
        # the color set is bounded by the colors used so far, not by the
        # degree
        return (
            own.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("pk").alias("pk"), F.min("_n").alias("_n"),
                 F.max("color").alias("color"),
                 F.array_sort(F.collect_set("_nc")).alias("_ncs"))
            .select(
                "id",
                F.when(F.col("color").isNotNull(), F.col("color"))
                .when(F.col("_n").isNull() | (F.col("pk") < F.col("_n")),
                      _mex(F.col("_ncs")))
                .alias("color"),
            )
        )

    res = run_fixpoint(
        spark,
        lambda: sym.select(F.col("u").alias("id")).distinct()
        .select("id", F.lit(None).cast("int").alias("color")),
        step, [F.count_if(F.col("color").isNull())],
        (lambda s, prev: False) if fixed_rounds is not None
        else (lambda s, prev: s[0] == 0),
        name="coloring", P=P,
        max_iter=fixed_rounds if fixed_rounds is not None else max_rounds,
        edges=n_edges,
    )
    adj.unpersist()
    colors = res.state.where(F.col("color").isNotNull()).select("id", "color")
    return ColoringResult(colors, res.iterations, res.converged, res.metrics)
