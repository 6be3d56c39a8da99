"""Maximal independent set via deterministic Luby rounds.

Luby's algorithm (Luby 1986), the canonical O(log n)-round distributed
MIS: each round every undecided vertex draws a priority; a vertex joins
the IS iff its priority beats every undecided neighbor's, then winners
and their neighbors leave the game. Here the per-round "random" priority
is md5("salt|round|v") — i.i.d.-uniform in distribution but a PURE
function of (vertex, round, salt), so the resulting set is deterministic
and carries an exact DuckDB oracle (the driver gate), while keeping
Luby's O(log n) expected round bound. Ties are impossible: the priority
key is the hash concatenated with the zero-padded vertex id (total
order).

Link-graph uses: IS extraction is the standard symmetry-breaking
primitive — seed selection for sparsification, landmark placement,
parallel scheduling of vertex-local updates without neighbor conflicts.

The round loop is plans/fixpoint.py. The state is one table (id, st),
st = 0 undecided, 1 member; a member's neighbors are dropped. It is
read against ONE static symmetric edge table persisted on hash(v):
joined with the undecided priorities it yields exactly the edges
between undecided vertices. The neighbor priority minimum (map-side
partial combine, hub-safe) and the own priority meet in one union +
aggregate, the win test. The winners feed their neighbors' removal and
the next state, so the step materializes them (one job; the driver
releases them); with the driver's stats job (undecided count) a round
costs two Spark jobs.
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
class MISResult:
    members: DataFrame  # (id)
    rounds: int
    converged: bool
    metrics: JobMetrics = field(default_factory=lambda: JobMetrics("mis"))


def _priority(col, rnd: int, salt: str):
    """Total-order priority key: md5 prefix + zero-padded id (no ties)."""
    return F.concat(
        F.substring(
            F.md5(
                F.concat_ws("|", F.lit(salt), F.lit(str(rnd)),
                            col.cast("string")).cast("binary")
            ),
            1, 16,
        ),
        F.lit("-"),
        F.lpad(col.cast("string"), 20, "0"),
    )


def maximal_independent_set(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 50,
    salt: str = "mis",
    num_partitions: int | None = None,
    fixed_rounds: int | None = None,
) -> MISResult:
    """Deterministic Luby MIS over the undirected graph. Returns the
    member ids; guaranteed independent (no two adjacent) and maximal
    (every non-member has a member neighbor) once converged — both
    properties are pytest-pinned. fixed_rounds runs exactly that many
    rounds and never stops early (oracle parity; rounds past
    exhaustion are identity and `converged` stays False)."""
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    P = size_based_partitions(edges, P)  # guide §2.2, size-derived cap
    # the symmetric table keyed on the probe key v: its names swapped,
    # which keeps the rows and the hash partitioning
    adj, n_edges = adjacency(edges, P, symmetric=True)
    sym = adj.select(F.col("u").alias("v"), F.col("v").alias("u"))
    rnd = 0

    def step(state: DataFrame, prev) -> tuple[DataFrame, list[DataFrame]]:
        nonlocal rnd
        rnd += 1
        pk = state.where(F.col("st") == 0).select(
            "id", _priority(F.col("id"), rnd, salt).alias("pk"))
        nbr = sym.join(
            pk.select(F.col("id").alias("v"), F.col("pk").alias("_n"))
            .hint("shuffle_hash"), "v",
        ).select(F.col("u").alias("id"), "_n")
        # materialized: otherwise each consumer reruns the E-scale join
        none = F.lit(None).cast("string")
        winners = (
            pk.select("id", "pk", none.alias("_n"))
            .unionByName(nbr.select("id", none.alias("pk"), "_n"))
            .groupBy("id")
            .agg(F.min("pk").alias("pk"), F.min("_n").alias("_n"))
            .where(F.col("pk").isNotNull()
                   & (F.col("_n").isNull() | (F.col("pk") < F.col("_n"))))
            .select("id")
            .localCheckpoint()
        )
        # sym is symmetric: the winners' v side lists their neighbors
        gone = sym.join(
            winners.select(F.col("id").alias("v")).hint("shuffle_hash"), "v"
        ).select(F.col("u").alias("id"), F.lit(None).cast("int").alias("st"),
                 F.lit(1).alias("_g"))
        # st is null only on rows for vertices no longer in the state;
        # winners join the set, their undecided neighbors leave it
        return (
            state.select("id", "st", F.lit(0).alias("_g"))
            .unionByName(winners.select("id", F.lit(1).alias("st"),
                                        F.lit(0).alias("_g")))
            .unionByName(gone)
            .groupBy("id")
            .agg(F.max("st").alias("st"), F.max("_g").alias("_g"))
            .where((F.col("st") == 1) | (F.col("_g") == 0))
            .select("id", "st")
        ), [winners]

    res = run_fixpoint(
        spark,
        lambda: sym.select(F.col("u").alias("id")).distinct()
        .select("id", F.lit(0).alias("st")),
        step, [F.count_if(F.col("st") == 0)],
        (lambda s, prev: False) if fixed_rounds is not None
        else (lambda s, prev: s[0] == 0),
        name="mis", P=P,
        max_iter=fixed_rounds if fixed_rounds is not None else max_rounds,
        edges=n_edges,
    )
    adj.unpersist()
    members = res.state.where(F.col("st") == 1).select("id")
    return MISResult(members, res.iterations, res.converged, res.metrics)
