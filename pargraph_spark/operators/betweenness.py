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

Plan shape: the edge table is persisted ONCE partitioned on src and
probed in place by every forward and backward level (both phases join on
e.src — forward expands v→dst, backward enumerates v's successors), so
the loop performs ZERO E-scale exchanges (the pagerank/core_numbers
discipline). All per-level state is (source, vertex)-scale: frontier
rows (s, v, σ) forward, (s, v, σ, δ) backward; with |S| sampled sources
the state is |S|·V, the knob that makes the operator budgetable at
100 TB. Frontiers and the visited set are eagerly localCheckpointed
(lineage truncation — see the forward-loop comment); levels are retained
for the backward pass (h is small by design).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pargraph_spark.plans.debug import dump_plan
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
    metrics: JobMetrics = field(default_factory=lambda: JobMetrics("betweenness"))


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
    base = edges.where(F.col("src") != F.col("dst")).select("src", "dst")
    if directed:
        # one E-scale setup exchange (r6, the scc idiom): partition on the
        # probe key, dedupe in place
        e = base.repartition(P, "src").dropDuplicates(["src", "dst"]).persist()
    else:
        und = (
            base.select(F.least("src", "dst").alias("src"),
                        F.greatest("src", "dst").alias("dst"))
            .distinct()
        )
        e = (
            und.unionByName(
                und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .repartition(P, "src")
            .persist()
        )
    e.count()
    verts = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .repartition(P, "id")
        .persist()
    )
    # duplicate seed ids would silently double sigma and every delta
    # contribution (ADVICE r5) — dedup here instead of documenting a
    # uniqueness precondition (all in-repo callers already pass distinct
    # sets, so results are unchanged)
    srcs = (sources.select("id").distinct() if sources is not None else verts)

    # ---- forward: level-synchronous multi-source BFS with path counts ----
    # Frontier/visited state is (source, vertex)-scale; each level is
    # eagerly localCheckpointed to truncate lineage (the anti-join over a
    # growing visited union otherwise compounds the logical plan
    # exponentially — observed as a driver OOM merely STRINGIFYING the
    # plan at depth 4). e keeps its src partitioning; the checkpointed
    # frontier re-shuffles at its own (small) scale per level.
    with no_aqe(spark, P):
        cur = srcs.select(
            F.col("id").alias("s"), F.col("id").alias("v"),
            F.lit(1).cast("long").alias("sigma"),
        ).repartition(P, "v").localCheckpoint(eager=False)
        n_sources = cur.count()  # materializes the lazy checkpoint (one job)
        visited = (
            cur.select("s", "v").repartition(P, "s", "v").localCheckpoint(eager=True)
        )
        levels: list[DataFrame] = [cur]
        dead_frontiers: list[DataFrame] = []  # empty nxt checkpoints, released at end
        for _d in range(1, max_depth + 1):
            prev = levels[-1]
            msg = (
                e.join(prev.hint("shuffle_hash"), e["src"] == prev["v"])
                .groupBy(prev["s"].alias("s"), e["dst"].alias("v"))
                .agg(F.sum("sigma").alias("sigma"))
            )
            # msg (aggregate output) and visited (checkpointed) are both
            # hash(s, v, P): the anti-join needs no exchange under no_aqe
            nxt = (
                msg.join(visited.hint("shuffle_hash"), ["s", "v"], "left_anti")
                .repartition(P, "v")
            )
            dump_plan(nxt, "betweenness_forward_level")
            # lazy (r6): the emptiness count below materializes the level
            # in the same job — one job per forward level instead of two
            nxt = nxt.localCheckpoint(eager=False)
            if nxt.count() == 0:
                dead_frontiers.append(nxt)
                break
            old_visited = visited
            visited = (
                visited.unionByName(nxt.select("s", "v"))
                .repartition(P, "s", "v")
                .localCheckpoint(eager=True)
            )
            # only the latest visited union is ever probed again — release the
            # superseded (|S|·V)-scale copy immediately (ADVICE r5 leak class)
            old_visited.unpersist()
            levels.append(nxt)

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
            # lazy: no action runs per level, so nothing is materialized
            # here. The WHOLE delta chain (every level's dd, down to
            # deltas[1]) is computed and cached inside the one scores job
            # below, an EAGER checkpoint downstream of all of them; with
            # checkpointAllMarkedAncestors off, that job truncates only the
            # outermost marked RDD's lineage, so the intermediate deltas
            # keep theirs. Until scores materializes, every level, `e` and
            # every deltas[d] is still needed to compute the chain: none of
            # them may be unpersisted before it (the unpersist sweep at the
            # end runs after it).
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
    # scores is materialized and independent — release EVERY iteration
    # cache: forward levels, backward deltas, the final visited union and
    # any empty terminal frontier ((|S|·V)-scale each, ~3(h+1) tables; the
    # ADVICE r5 leak — they pinned block-manager memory for the session
    # and pressured every subsequent job in the app)
    e.unpersist()
    verts.unpersist()
    visited.unpersist()
    for df in levels:
        df.unpersist()
    for df in deltas:
        if df is not None:
            df.unpersist()
    for df in dead_frontiers:
        df.unpersist()
    return BetweennessResult(scores, max_depth, n_sources)
