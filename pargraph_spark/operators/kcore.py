"""k-core decomposition (fixed k): iterative peel until fixpoint.

The k-core of a graph is the maximal subgraph where every vertex has
degree ≥ k (undirected) — the standard link-graph density/robustness
primitive (spam-farm and community-core detection on web graphs). The
peel is the classic fixpoint: repeatedly delete vertices of degree < k;
what survives is exactly the k-core, independent of deletion order, so
the result is deterministic and an unrolled round-by-round SQL oracle is
exact (rounds past convergence are identity, the lpa_full pattern).

One peel, ``_peel``, serves kcore, score_core and densest_subgraph
(densest.py), and its round loop is plans/fixpoint.py. The state is one
vertex table (id, deg, m, r) on hash(id, P): the vertex's degree and its
measure (degree, or strength for score_core) among the live vertices,
and the round it was peeled in, null while it is live. A round reads
the symmetric edge table, built by edges.adjacency on hash(u, P), in
place: the vertices that fail the keep test send one decrement per edge
by a join on u, which is co-partitioned with the state; the decrements
are summed per neighbor, so the round's one exchange is at the scale of
the peeled vertices' edges, and they fold into the state by union +
aggregate. The E-scale edge table never moves, and each round's plan is
the same size: the state is a checkpoint, not the previous round's
plan. One Spark job per round, the driver's stats job (live count and
live degree sum).

core_numbers (full decomposition) is the H-index fixpoint instead, run
by plans/fixpoint.py: ONE Spark job per round (its changed-count
aggregate materializes the round's checkpoint), plus setup jobs.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from pargraph_spark.plans.fixpoint import FixpointResult, run_fixpoint
from pargraph_spark.plans.metrics import JobMetrics
from pargraph_spark.session import size_based_partitions

from .edges import adjacency


@dataclass
class KCoreResult:
    vertices: DataFrame  # (id, deg) — k-core members with their core degree
    rounds: int
    converged: bool = True  # False: max_rounds hit before the peel fixpoint
    metrics: JobMetrics = field(default_factory=lambda: JobMetrics("kcore"))


def kcore(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    max_rounds: int = 100,
    num_partitions: int | None = None,
) -> KCoreResult:
    """edges(src, dst) → the k-core's (id, deg) with deg = degree INSIDE
    the core. Edges are treated as undirected; self-loops and duplicates
    are dropped before peeling."""
    if k < 1:
        raise ValueError(f"kcore requires k >= 1, got {k}")
    return _core(edges.select("src", "dst"), k, "deg", "kcore", max_rounds, num_partitions)


def _peel(
    edges: DataFrame,
    keep: Callable[[Row], Column],
    done: Callable[[Row, Row], bool],
    name: str,
    max_rounds: int,
    num_partitions: int | None,
) -> tuple[FixpointResult, list[Row]]:
    """Peel the undirected graph ``edges(src, dst[, w])`` (self-loops
    dropped; parallel edges keep their max w): each round removes every
    live vertex that fails ``keep(prev_stats)``, a test on the state's
    deg and m (the sum of w, else the degree).

    → the driver's result, its state (id, deg, m, r) with r the round
    the vertex was peeled in (null: live), and the stats of every state
    from the initial one on: n live vertices, e their degree sum (twice
    the live edges). A superstep's delta is the edges it removed."""
    spark = edges.sparkSession
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    P = size_based_partitions(edges, P)  # guide §2.2, size-derived cap
    weighted = "w" in edges.columns
    adj, n_rows = adjacency(edges, P, symmetric=True, weight="max" if weighted else None)
    w = F.col("w") if weighted else F.lit(1)
    live = F.col("r").isNull()
    trajectory: list[Row] = []

    def step(state: DataFrame, prev: Row) -> DataFrame:
        trajectory.append(prev)
        peel = live & ~keep(prev)
        # the peeled vertices' edges, probed in place on hash(u), summed
        # per neighbor: the only exchange is at the peeled edges' scale
        lost = (
            adj.join(state.where(peel).select(F.col("id").alias("u"))
                     .hint("shuffle_hash"), "u")
            .groupBy(F.col("v").alias("id"))
            .agg((-F.count("*")).alias("deg"), (-F.sum(w)).alias("m"))
        )
        r = F.when(peel, F.lit(len(trajectory))).otherwise(F.col("r"))  # round no.
        return (
            state.select("id", "deg", "m", r.alias("r"))
            .unionByName(lost, allowMissingColumns=True)
            .groupBy("id")
            .agg(F.sum("deg").alias("deg"), F.sum("m").alias("m"), F.max("r").alias("r"))
        )

    res = run_fixpoint(
        spark,
        lambda: adj.groupBy(F.col("u").alias("id"))
        .agg(F.count("*").alias("deg"), F.sum(w).alias("m"))
        .select("id", "deg", "m", F.lit(None).cast("int").alias("r"))
        .repartition(P, "id"),
        step,
        [F.count_if(live).alias("n"),
         F.coalesce(F.sum(F.when(live, F.col("deg"))), F.lit(0)).alias("e")],
        done,
        name=name, P=P, max_iter=max_rounds, edges=n_rows, plan=f"{name}_round",
        delta=lambda s, prev: float(prev["e"] - s["e"]),
    )
    adj.unpersist()  # the state is checkpoint-materialized, lineage-free
    return res, trajectory + [res.stats]


def _core(edges: DataFrame, threshold: int, out_col: str, name: str,
          max_rounds: int, num_partitions: int | None) -> KCoreResult:
    """Peel until every live vertex has m >= threshold → (id, out_col)
    with m inside the result. The peel stops at the first round that
    removes no edge, or when no edge is left; rounds counts the rounds
    that removed an edge, and converged=False means max_rounds was hit
    first (the result is then a SUPERSET of the core)."""
    res, _ = _peel(edges, lambda prev: F.col("m") >= threshold,
                   lambda s, prev: s["e"] in (prev["e"], 0), name, max_rounds, num_partitions)
    core = res.state.where(F.col("r").isNull() & (F.col("deg") > 0))
    rounds = sum(m.delta > 0 for m in res.metrics.supersteps)
    return KCoreResult(core.select("id", F.col("m").alias(out_col)), rounds,
                       res.converged, res.metrics)


@dataclass
class CoreNumbersResult:
    cores: DataFrame  # (id, core)
    rounds: int
    converged: bool
    metrics: JobMetrics = field(default_factory=lambda: JobMetrics("core_numbers"))


def core_numbers(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 200,
    num_partitions: int | None = None,
    fixed_rounds: int | None = None,
) -> CoreNumbersResult:
    """Full k-core decomposition: every vertex's core number (the largest
    k such that it belongs to the k-core) — the query a link-graph analyst
    wants after fixed-k membership.

    Algorithm: the distributed H-index fixpoint (Lü et al. 2016, "The
    H-index of a network node and its relation to degree and coreness";
    locality per Montresor et al. 2013): initialize c0(u) = deg(u), then
    iterate  c_{t+1}(u) = H({c_t(v) : v ~ u})  where H is the h-index
    (largest h with ≥ h neighbors of value ≥ h). Estimates are pointwise
    non-increasing and converge to EXACTLY the coreness, so a fixed-round
    unrolled SQL oracle is exact past the fixpoint (identity rounds — the
    lpa_full pattern), and any correct engine agrees bit-for-bit (all
    integer arithmetic).

    Plan shape per round (skew-proof): the E-scale operation is sym ⋈
    estimates on v — co-partitioned (sym is pre-partitioned on v,
    estimates on id), so a full round has ZERO E-scale exchanges —
    feeding a groupBy(u, value) histogram whose map-side partial combine
    shrinks rows to the distinct neighbor estimates per u BEFORE its
    shuffle; the per-vertex window that extracts the h-index runs over
    those rows. A 10^8-degree hub contributes its adjacency only to the
    map-side combine; downstream it is one row per distinct neighbor
    estimate, and a graph with E edges has O(sqrt(E)) distinct
    estimates (each is at most the degree of a distinct vertex). The
    alternative row_number-over-raw-neighbors formulation serializes a
    hub's entire adjacency through one task — the 100-TB trap this plan
    avoids. The clamp at the vertex's own estimate is applied to h
    itself: H(min(values, c)) = min(H(values), c). Delta rounds filter
    sym to the candidates' edges in place (on hash(v)) and move only
    those for the estimate join.

    fixed_rounds: run exactly that many rounds and never stop early (for
    oracle parity: rounds past the fixpoint are identity; the result's
    `converged` stays False because nothing stopped on it); otherwise
    iterate until no estimate changes. Both modes run the same delta
    rounds (see `step`), one Spark job each: the plans/fixpoint.py
    driver's count of changed estimates materializes the round.

    Round-count honesty: the H-index fixpoint's iteration count is
    graph-dependent and can be LONG — 19 rounds on the sf0.01 co-graph,
    38 on sf0.1's denser one (measured on 4 vCPUs, 121 s), whose tail
    is a few dozen vertices decrementing by 1 per round for 20 rounds
    before a last cascade — the known worst case of this iteration.
    Because each round's state is a union and an aggregate of the last
    one, never a join with it, the checkpoint's size estimate grows
    linearly with the round count; a join would square it every round
    and planning would slow exponentially. If max_rounds is hit first,
    the returned estimates are still a well-defined MONOTONE UPPER BOUND
    on coreness (estimates only decrease toward the true value) with
    converged=False. For a bounded-round exact answer at a specific k,
    use kcore()'s peel instead; for full decomposition on graphs with a
    long tail, raise max_rounds — delta rounds make tail rounds
    candidate-scale, so the cost is dominated by round COUNT (driver
    scheduling), not data.
    """
    from pyspark.sql import Window

    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    P = size_based_partitions(edges, P)  # guide §2.2, size-derived cap
    # the symmetric table keyed on the probe key v: its names swapped,
    # which keeps the rows and the hash partitioning
    adj, _ = adjacency(edges, P, symmetric=True)
    sym = adj.select(F.col("u").alias("v"), F.col("v").alias("u"))
    w = Window.partitionBy("u").orderBy(F.col("x").desc())

    def step(state: DataFrame, prev) -> DataFrame:
        # Delta round: h(u) can only change if a neighbor's estimate
        # changed OR u's own did (the clamp uses it), so a round
        # recomputes ONLY cand = changed ∪ neighbors(changed) and carries
        # everyone else forward — values IDENTICAL to a full recompute (an
        # untouched vertex's histogram is unchanged), and the long tail's
        # rounds are cand-scale, not E-scale.
        if prev["changed"] == prev["n"]:
            # everything changed (round 1): every vertex is a candidate,
            # and sym is joined on v in place — no E-scale exchange
            sym_side = sym
        else:
            changed = state.where(F.col("_chg")).select(F.col("id").alias("v"))
            cand = (
                sym.join(changed.hint("shuffle_hash"), "v", "left_semi")
                .select(F.col("u").alias("v"))
                .unionByName(changed)
                .distinct()
            )
            # the candidates' edges, read from their v side (sym is
            # symmetric) so the filter runs in place on hash(v); only
            # these candidate-scale rows move for the estimate join
            sym_side = sym.join(cand.hint("shuffle_hash"), "v", "left_semi").select(
                F.col("v").alias("u"), F.col("u").alias("v"))
        # histogram of neighbor estimates: the map-side partial combine eats
        # the edge scale; shuffle_hash builds on the V-scale estimate side
        # and rules out a broadcast, which would cost its own job
        hist = (
            sym_side.join(
                state.select(F.col("id").alias("v"), F.col("c").alias("_cv"))
                .hint("shuffle_hash"), "v")
            .groupBy("u", F.col("_cv").alias("x"))
            .agg(F.count("*").alias("cnt"))
        )
        h = (
            hist.withColumn("cum", F.sum("cnt").over(w))
            .groupBy(F.col("u").alias("id"))
            .agg(F.max(F.least(F.col("cum"), F.col("x"))).alias("_h"))
        )
        # Combine by union + aggregate, not a join: a join's size estimate
        # is the product of its sides', the checkpoint carries it into the
        # next round, and a second state join per round would square it
        # every round. The clamp at the own estimate comes last:
        # H(min(values, c)) = min(H(values), c).
        none = F.lit(None).cast("long")
        return (
            state.select("id", "c", none.alias("_h"))
            .unionByName(h.select("id", none.alias("c"), "_h"))
            .groupBy("id")
            .agg(F.max("c").alias("c"), F.max("_h").alias("_h"))
            .select(
                "id",
                F.least(F.coalesce("_h", "c"), F.col("c")).alias("c"),
                F.coalesce(F.col("_h") < F.col("c"), F.lit(False)).alias("_chg"),
            )
        )

    # fixed_rounds: never done, stop at N (identity past the fixpoint)
    res = run_fixpoint(
        spark,
        lambda: sym.groupBy(F.col("u").alias("id")).agg(F.count("*").alias("c"))
        .select("id", "c", F.lit(True).alias("_chg"))
        .repartition(P, "id"),
        step,
        [F.count_if("_chg").alias("changed"), F.count("*").alias("n")],
        (lambda s, prev: False) if fixed_rounds is not None
        else (lambda s, prev: s["changed"] == 0),
        name="core_numbers", P=P,
        max_iter=fixed_rounds if fixed_rounds is not None else max_rounds,
        edges=0,
    )
    out = res.state.select("id", F.col("c").alias("core"))
    adj.unpersist()  # the state is checkpoint-materialized, lineage-free
    return CoreNumbersResult(out, res.iterations, res.converged, res.metrics)


def score_core(
    spark: SparkSession,
    wedges: DataFrame,
    s: int,
    max_rounds: int = 100,
    num_partitions: int | None = None,
) -> KCoreResult:
    """Weighted k-core (s-core): peel until every surviving vertex has
    STRENGTH (sum of incident edge weights) >= s — the weighted-graph
    generalization of kcore(), the natural density primitive on the host
    graph where w counts page-level links (Eidsaa & Almaas 2013 s-core).

    wedges: (src, dst, w) with integer weights (exact cross-engine sums);
    treated undirected, self-loops dropped, parallel edges keep max w
    (deterministic symmetrization). The same peel loop as kcore, with
    strength as the measure; result vertices carry their in-core
    strength."""
    if s < 1:
        raise ValueError(f"score_core requires s >= 1, got {s}")
    return _core(wedges.select("src", "dst", "w"), s, "strength", "score_core",
                 max_rounds, num_partitions)
