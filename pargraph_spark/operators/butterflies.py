"""Butterfly (bipartite 4-cycle) counting.

The butterfly — two left vertices sharing two right vertices — is the
smallest cohesive motif of a bipartite graph (Wang, Fu, Cheng, VLDB'14;
Sanei-Mehri, Sariyüce, Tirthapura, KDD'18): on web data the host↔page,
order↔part, or doc↔term incidence graphs, butterfly density is the
bipartite analogue of the clustering coefficient, and k-bitruss / dense
bipartite-community mining all start from per-edge or per-vertex
butterfly counts.

Counting identity: for each left pair (a, b), let c(a,b) = |Γ(a)∩Γ(b)|
(shared right vertices). Every butterfly is exactly one such pair with
two shared neighbors, so

    total = Σ_pairs C(c, 2);  per-left-vertex(v) = Σ_{pairs ∋ v} C(c, 2)

All counts are exact integers — no float policy at all — and the SQL
oracle is the verbatim identity.

Scale shape (the linkpred.py wedge discipline): the pair enumeration
fans out deg(w)² per RIGHT vertex w, so a 10^8-degree right hub is the
hazard; the declared hot_cap drops right vertices with degree > cap
BEFORE the self-join (exactly reproduced by the oracle — cap semantics,
not silent truncation; a right vertex shared by everything is
boilerplate by definition, the idf argument). The pair aggregate
partial-combines map-side; output is pair-scale, never wedge-scale.
Counts use BIGINT (c ≤ 2^31 shared neighbors per pair before C(c,2)
overflows — beyond any real corpus).

bitruss's peel loop is plans/fixpoint.py: the state is the surviving
edge set with its supports, and each round costs ONE Spark job — the
aggregate of (edges left, edges below k) that materializes the round's
checkpoint and tells the driver whether another round would remove
anything.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pargraph_spark.plans.fixpoint import run_fixpoint
from pargraph_spark.plans.metrics import JobMetrics


@dataclass
class ButterflyResult:
    total: int
    per_pair: DataFrame  # (a, b, c, bf) — left pairs with c >= 2 shared rights


def butterfly_counts(
    edges: DataFrame,
    left_col: str = "src",
    right_col: str = "dst",
    hot_cap: int | None = None,
) -> ButterflyResult:
    """edges(left, right) bipartite (duplicates deduped) → total butterfly
    count + the per-left-pair table (a < b, c shared rights, bf = C(c,2)).
    Right vertices with degree > hot_cap are excluded (None = exact)."""
    e = (
        edges.select(F.col(left_col).alias("u"), F.col(right_col).alias("w"))
        .distinct()
    )
    if hot_cap is not None:
        deg = e.groupBy("w").agg(F.count("*").alias("_d"))
        e = e.join(deg.where(F.col("_d") <= int(hot_cap)).select("w"), "w")
    a1 = e.select("w", F.col("u").alias("a"))
    a2 = e.select("w", F.col("u").alias("b"))
    pairs = (
        a1.join(a2, "w")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= 2)
        .select(
            "a", "b", "c",
            # integer div: '/' is DOUBLE division in Spark and silently
            # rounds once c*(c-1) passes 2^53 — the module's exactness
            # claim held only up to c ~ 9.5e7 before this fix
            F.expr("c * (c - 1) div 2").alias("bf"),
        )
    )
    per_pair = pairs
    total_row = per_pair.agg(F.coalesce(F.sum("bf"), F.lit(0)).alias("t")).first()
    return ButterflyResult(int(total_row["t"]), per_pair)


@dataclass
class BitrussResult:
    edges: DataFrame  # (u, w, sup) — surviving bipartite edges + support
    rounds: int
    metrics: JobMetrics = field(default_factory=lambda: JobMetrics("bitruss"))


def _edge_supports(e: DataFrame) -> DataFrame:
    """(u, w) bipartite edges → (u, w, sup): per-edge butterfly support.

    sup(a, w) = Σ_{b ∈ Γ(w), b≠a} (c(a,b) − 1) with c = shared rights:
    each wedge row (a, b, w) joined to its pair count contributes (c−1)
    to BOTH endpoint edges at w. Pairs with c = 1 contribute 0 and are
    filtered before the join. Edges in no butterfly carry sup = 0."""
    a1 = e.select("w", F.col("u").alias("a"))
    a2 = e.select("w", F.col("u").alias("b"))
    wedges = a1.join(a2, "w").where(F.col("a") < F.col("b"))
    c = (
        wedges.groupBy("a", "b")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= 2)
    )
    contrib = wedges.join(c, ["a", "b"]).select(
        "w", "a", "b", (F.col("c") - 1).alias("_g")
    )
    # every edge contributes a 0 row, so edges in no butterfly get sup = 0
    return (
        contrib.select(F.col("a").alias("u"), "w", "_g")
        .unionByName(contrib.select(F.col("b").alias("u"), "w", "_g"))
        .unionByName(e.select("u", "w", F.lit(0).cast("long").alias("_g")))
        .groupBy("u", "w")
        .agg(F.sum("_g").cast("long").alias("sup"))
    )


def bitruss(
    spark,
    edges: DataFrame,
    k: int,
    left_col: str = "src",
    right_col: str = "dst",
    hot_cap: int | None = None,
    max_rounds: int = 100,
    fixed_rounds: int | None = None,
) -> BitrussResult:
    """k-bitruss (Zou 2016; Wang, Lakshmanan et al.): the maximal
    bipartite subgraph where every EDGE participates in ≥ k butterflies —
    the edge-cohesion primitive of bipartite graphs, sitting next to
    k-truss exactly as the butterfly sits next to the triangle.

    Peel loop with INCREMENTAL support maintenance: wedges are
    enumerated ONCE up front for the initial supports; every subsequent
    round enumerates only the butterflies its removed edges participate
    in (removed ⋈ right-adjacency for the co-endpoint b, ⋈ left-adjacency
    for the second right w2, semi-checked against the round-start graph),
    deduplicated per canonical butterfly quadruple so a butterfly losing
    2+ edges in one round still decrements each survivor exactly once.
    Round cost is proportional to removed-edge butterflies, not a full
    re-enumeration — at 100 TB the peel tail costs near zero.

    hot_cap drops right vertices with initial degree > cap ONCE, before
    support computation (declared cap semantics, reproduced by the
    oracle; the wedge fan-out per right vertex is deg², so the cap is
    the 10^8-degree-hub guard). Support is maintained exactly on the
    CURRENT surviving graph, so the recount-formulation unrolled SQL
    oracle matches bit-for-bit once its round count passes convergence
    (rounds past it are identity). `rounds` counts only effective
    (removing) rounds. fixed_rounds runs exactly that many rounds and
    never stops early (oracle parity)."""
    if k < 1:
        raise ValueError(f"bitruss requires k >= 1, got {k}")
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    e = (
        edges.select(F.col(left_col).alias("u"), F.col(right_col).alias("w"))
        .distinct()
    )
    if hot_cap is not None:
        deg = e.groupBy("w").agg(F.count("*").alias("_d"))
        e = e.join(deg.where(F.col("_d") <= int(hot_cap)).select("w"), "w")

    e = e.repartition(P, "w").persist()

    def step(cur: DataFrame, prev) -> DataFrame:
        removed = cur.where(F.col("sup") < k).select("u", "w")
        survivors = cur.where(F.col("sup") >= k)

        def g(u: str, w: str) -> DataFrame:
            return cur.select(F.col("u").alias(u), F.col("w").alias(w)).hint(
                "shuffle_hash")

        def e_(u: str, w: str) -> DataFrame:
            return e.select(F.col("u").alias(u), F.col("w").alias(w)).hint(
                "shuffle_hash")

        # dead butterflies through each removed edge (u, w1): co-endpoint
        # b ∈ Γ(w1)\{u}, second right w2 ∈ (Γ(u)∩Γ(b))\{w1}; canonical
        # quadruple dedupe handles butterflies holding 2-4 removed edges.
        # Inner joins read the static e, the state enters by semi joins:
        # Spark estimates an inner join as a product and a semi join as
        # its left side, and the checkpoint carries the estimate on.
        dead = (
            e.join(removed.hint("shuffle_hash"), ["u", "w"], "left_semi")
            .withColumnRenamed("w", "w1")
            .join(e_("b", "w1"), "w1")
            .where(F.col("b") != F.col("u"))
            .join(g("b", "w1"), ["b", "w1"], "left_semi")
            .join(e_("u", "w2"), "u")
            .where(F.col("w2") != F.col("w1"))
            .join(g("u", "w2"), ["u", "w2"], "left_semi")
            .join(g("b", "w2"), ["b", "w2"], "left_semi")
            .select(
                F.least("u", "b").alias("a"),
                F.greatest("u", "b").alias("b"),
                F.least("w1", "w2").alias("x"),
                F.greatest("w1", "w2").alias("y"),
            )
            .distinct()
        )
        dec = (
            dead.select(F.col("a").alias("u"), F.col("x").alias("w"))
            .unionByName(dead.select(F.col("a").alias("u"), F.col("y").alias("w")))
            .unionByName(dead.select(F.col("b").alias("u"), F.col("x").alias("w")))
            .unionByName(dead.select(F.col("b").alias("u"), F.col("y").alias("w")))
            .groupBy("u", "w")
            .agg(F.count("*").alias("_d"))
        )
        # union + aggregate, not a join, for the same reason; a group
        # survives if it holds a survivor row
        return (
            survivors.select("u", "w", "sup", F.lit(1).alias("_s"))
            .unionByName(dec.select("u", "w", (-F.col("_d")).alias("sup"),
                                    F.lit(0).alias("_s")))
            .groupBy("u", "w")
            .agg(F.sum("sup").alias("sup"), F.max("_s").alias("_s"))
            .where(F.col("_s") == 1)
            .select("u", "w", "sup")
            .repartition(P, "w")
        )

    # stats: edges left and edges the next round would remove; a round
    # that leaves nothing to remove is the last
    res = run_fixpoint(
        spark,
        lambda: _edge_supports(e).repartition(P, "w"),
        step,
        [F.count("*"), F.count_if(F.col("sup") < k)],
        (lambda s, prev: False) if fixed_rounds is not None
        else (lambda s, prev: s[1] == 0),
        name="bitruss", P=P,
        max_iter=fixed_rounds if fixed_rounds is not None else max_rounds,
        edges=lambda s: s[0],
        delta=lambda s, prev: float(prev[0] - s[0]),  # edges removed
    )
    # adaptive rounds count the rounds that removed an edge: with nothing
    # to peel, the one identity round run is not one
    rounds = (res.iterations if fixed_rounds is not None
              else sum(m.delta > 0 for m in res.metrics.supersteps))
    e.unpersist()
    return BitrussResult(res.state, rounds, res.metrics)
