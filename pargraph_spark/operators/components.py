"""O7 — connected components via alternating small-star / large-star.

Algorithm: Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
"Connected Components in MapReduce and Beyond" (SoCC'14) — converges in
O(log n) rounds on any graph, each round a groupBy(min) + join, which is
exactly the shuffle-friendly shape Spark wants (no O(diameter)
min-propagation chains on long paths).

    large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u
    small-star(u): over edges oriented (u > v): m = min(Γ≤(u));
                   emit (v, m) for v ∈ Γ≤(u) ∪ {u}, v ≠ m

Fixpoint: the edge set stabilizes as a forest of stars (child → component
min). Detected by (count, checksum) equality of the canonical edge set —
a 64-bit sum of xxhash64(u,v), collision odds ~2^-64 per round.

The round loop is plans/fixpoint.py. A round makes two materializing
actions: an eager localCheckpoint of the large-star output, and the one
signature aggregate, which materializes the round's lazily checkpointed
edge set (lineage truncation — the analogue of the reference's ref-count
release, engine.py:63-76). The loop keeps AQE on, so each action runs as
one Spark job per query stage.

Scale notes: both stars are a single self-shuffle on u; hub vertices
(huge Γ(u)) are fine because min() partial-aggregates map-side, and the
subsequent join is on the grouping key (AQE skew-join splits hot keys).
While the round's edge side is under the broadcast threshold, each star
broadcasts its min table explicitly: left to AQE, both sides of the join
are broadcastable and the build side was whichever stage finished first,
so the same graph got a different plan (and new generated classes) from
one call to the next.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pargraph_spark.plans.fixpoint import release, run_fixpoint
from pargraph_spark.plans.metrics import JobMetrics
from pargraph_spark.session import broadcast_threshold, size_based_partitions


@dataclass
class ComponentsResult:
    components: DataFrame  # (id: long, component: long) — component = min member id
    rounds: int
    converged: bool
    metrics: JobMetrics = field(default_factory=lambda: JobMetrics("components"))


def _large_star(e: DataFrame, dedup: bool = True,
                broadcast_mins: bool = False) -> DataFrame:
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    out = (
        sym.join(F.broadcast(mins) if broadcast_mins else mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
    )
    # dedup=False (guide §2.3/§2.4): inside the fixpoint the E-scale
    # distinct here bought only ~13% row reduction at the bench graph
    # (1.196M -> 1.04M) for a full extra exchange; small-star's min-agg is
    # duplicate-insensitive and its trailing distinct restores set
    # semantics, so the round output is IDENTICAL as a set either way.
    return out.distinct() if dedup else out


def _small_star(e: DataFrame, oriented: bool = False,
                broadcast_mins: bool = False) -> DataFrame:
    # orient every edge (bigger -> smaller); large-star output is already
    # strictly u > v (it emits (v, m) with m <= u < v), so the fixpoint
    # passes oriented=True and skips the re-orientation projection
    o = e if oriented else e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = o.groupBy("u").agg(F.min("v").alias("m"))
    via_neighbors = (
        o.join(F.broadcast(mins) if broadcast_mins else mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    via_self = mins.select(F.col("u"), F.col("m").alias("v"))
    return (
        via_neighbors.unionByName(via_self)
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_rounds: int = 50,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
) -> ComponentsResult:
    """edges(src,dst) [+ optional vertices(id)] → (id, component).

    checkpoint_dir enables superstep-granular restart (O11): the per-round
    star edge set is the complete iteration state, so a resumed run replays
    from the newest committed manifest and converges to the identical
    fixpoint (tests/test_checkpoint.py)."""
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    P = size_based_partitions(edges, P)  # guide §2.2, size-derived cap
    limit = broadcast_threshold(spark)

    def init() -> DataFrame:
        # edges.adjacency's one-exchange rule, kept inline: the init is a
        # lazy plan run under AQE, and it orients each edge u > v (CC is
        # undirected — the stars symmetrize anyway, so connectivity and
        # every round's edge SET are unchanged). Canonical form also lets
        # the convergence signature skip a canonicalizing distinct.
        return (
            edges.where(F.col("src") != F.col("dst"))
            .select(F.greatest("src", "dst").alias("u"),
                    F.least("src", "dst").alias("v"))
            .repartition(P, "u")
            .dropDuplicates(["u", "v"])
        )

    def step(e: DataFrame, prev):
        # materialize the large-star output once per round (the
        # triangle_count idiom): small-star references it three times
        # (min-agg, neighbor probe, via_self) and only identical Exchange
        # nodes get runtime reuse — unmaterialized, the E-scale large-star
        # join would re-execute under the probe-side exchange every round.
        # prev["c"] edges give 2c symmetrized (u, v) rows of 24 bytes each;
        # the min tables and the large-star output have no more rows
        small = 2 * prev["c"] * 24 <= limit
        ls = _large_star(e, dedup=False, broadcast_mins=small).localCheckpoint(eager=True)
        return _small_star(ls, oriented=True, broadcast_mins=small), [ls]

    # The round signature is (count, xor-of-hashes) of the canonical
    # undirected edge SET. Every state is canonical and distinct already:
    # setup canonicalizes and dedupes, large-star emits (v, m) with v > m,
    # small-star emits (x, min) with x > min, both end in .distinct(), and
    # resume loads star-round outputs — so no canonicalizing
    # select+distinct (an E-scale exchange) precedes the aggregate.
    # bit_xor: order-independent, overflow-free (ANSI mode) checksum; safe
    # because the set is distinct (no pair cancellation).
    signature = [
        F.count("*").alias("c"),
        F.coalesce(F.bit_xor(F.xxhash64(F.least("u", "v"), F.greatest("u", "v"))),
                   F.lit(0)).alias("h"),
    ]
    # P=None: AQE stays on — the state is the edge set itself, orientation
    # flips between stars defeat co-partitioning, and AQE's runtime
    # broadcast of the star min-tables beats the static shuffle plan
    res = run_fixpoint(
        spark, init, step, signature,
        lambda s, prev: (s["c"], s["h"]) == (prev["c"], prev["h"]),
        name="components", P=None, max_iter=max_rounds, edges=lambda s0: s0["c"],
        delta=lambda s, prev: float(abs(s["c"] - prev["c"])),
        plan="cc_round", checkpoint_dir=checkpoint_dir, job="components",
        checkpoint_every=checkpoint_every, resume=resume,
        restore=lambda df: df.repartition(P, "u"),
        manifest=lambda s: {"n_edges": s["c"], "checksum": s["h"]},
    )
    e, converged = res.state, res.converged

    # vertex set: star rounds PRESERVE the edge set's vertex set —
    # large-star keeps every endpoint (a local-max u re-emits (v, u); any
    # other u survives as the v-side of a smaller neighbor's emission) and
    # small-star emits every u via via_self and every v via via_neighbors
    # or the (u, m) via_self row — so the final V-scale star forest yields
    # the full vertex set without re-scanning the E-scale input; only
    # self-loop-only vertices (absent from e by construction) need the
    # one cheap filter scan. Replaces an E-scale union+distinct with a
    # V-scale one (guide §2.3 — aggregate the small proxy, not the
    # payload). Single-consumer, so no persist either.
    all_vertices = (
        vertices.select("id")
        if vertices is not None
        else e.select(F.col("u").alias("id"))
        .unionByName(e.select(F.col("v").alias("id")))
        .unionByName(
            edges.where(F.col("src") == F.col("dst")).select(F.col("src").alias("id"))
        )
        .distinct()
    )

    # at fixpoint e is (child, parent=component-min); roots + isolated map to self
    parents = e.select(F.col("u").alias("id"), F.col("v").alias("c"))
    if not converged:
        # mid-iteration e is NOT yet a star forest: a vertex can carry
        # several parent edges, and the join below would emit duplicate
        # conflicting (id, component) rows. min() keeps the
        # one-row-per-id contract; converged runs skip the extra agg.
        parents = parents.groupBy("id").agg(F.min("c").alias("c"))
    comp = (
        all_vertices.join(parents, "id", "left")
        .select("id", F.coalesce("c", "id").alias("component"))
        .localCheckpoint(eager=True)
    )
    release(e)  # comp is materialized above, so nothing reads e again
    return ComponentsResult(comp, res.iterations, converged, res.metrics)


def connected_components_incremental(
    spark: SparkSession,
    prev_components: DataFrame,
    new_edges: DataFrame,
    **kwargs,
) -> ComponentsResult:
    """Cross-run warm start for CC over edge-store appends (the
    components counterpart of pagerank's warm_start).

    prev_components: a previous run's (id, component) assignment over the
    OLD edge set. new_edges(src, dst): the appended edges only. Returns
    components of the UNION graph (old ∪ appended), exactly equal to a
    cold run over the union.

    Why it is exact: the seed edge set replaces the old edges with the
    previous assignment's STAR edges {(id, component) : id ≠ component} —
    a spanning structure with the identical connectivity (every old
    component is one depth-1 star). CC is a pure function of
    connectivity, so the fixpoint over star ∪ appended edges equals the
    fixpoint over old ∪ appended.

    Why it is fast: the old graph's structure is already fully collapsed,
    so rounds are governed by the merge chains the APPENDED edges create
    between component roots — O(log |components touched|), independent of
    the old graph's diameter; and the seed edge set is V-scale (≤ one
    edge per old vertex), not E-scale, so every round shuffles at most
    V + |appended| rows. On a 100-TB graph receiving daily crawl
    appends, this turns CC maintenance from a full-graph job into one
    proportional to the append and the vertex dictionary.

    Isolated old vertices (id == component, no appended edge) pass
    through via the vertex union. Extra kwargs (max_rounds,
    checkpoint_dir, ...) forward to connected_components.
    """
    star = prev_components.where(F.col("id") != F.col("component")).select(
        F.col("id").alias("src"), F.col("component").alias("dst")
    )
    seed = star.unionByName(
        new_edges.where(F.col("src") != F.col("dst")).select("src", "dst")
    )
    all_vertices = (
        prev_components.select("id")
        .unionByName(new_edges.select(F.col("src").alias("id")))
        .unionByName(new_edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    return connected_components(spark, seed, vertices=all_vertices, **kwargs)
