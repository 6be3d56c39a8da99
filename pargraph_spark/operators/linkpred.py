"""Link prediction: common-neighbor / resource-allocation / Adamic-Adar
top-k candidate pairs.

The classic structural link predictors (Liben-Nowell & Kleinberg,
CIKM'03): rank non-adjacent vertex pairs (a, b) by

    CN(a,b) = |Γ(a) ∩ Γ(b)|                      (common neighbors)
    RA(a,b) = Σ_{w ∈ Γ(a)∩Γ(b)} 1/deg(w)         (resource allocation,
                                                  Zhou/Lü/Zhang EPJ-B'09)
    AA(a,b) = Σ_{w ∈ Γ(a)∩Γ(b)} 1/ln(deg(w))     (Adamic-Adar)

On a web graph this surfaces pages that SHOULD be linked (related-page
suggestion, spam-farm stitching detection); RA/AA down-weight stop-hub
centers the way idf down-weights stop-words.

Float policy: CN is a pure integer count (exact, no policy). RA terms
1/deg(w) are QUANTIZED to the 2^-30 binary grid before summing — grid
multiples sum exactly in doubles, so the aggregate is order-independent
and the SQL oracle matches bit-for-bit (the hits.py discipline). AA
terms divide by ln(deg) — a transcendental whose last bit is not
guaranteed identical across libm implementations — so AA is quantized
the same way but verified by the pytest oracle at tolerance, not by the
bit-exact SQL gate.

Scale shape — the wedge-enumeration problem has the same hub hazard as
triangle counting: a common neighbor w contributes deg(w)² candidate
pairs, so a 10^8-degree hub alone would emit 10^16 rows. The guard is
the engine's standard hot-key cap (dedup.py's hot-bucket discipline
applied to wedge centers): drop centers with deg(w) > hot_cap BEFORE the
self-join, bounding per-center fan-out at hot_cap² — the cap is part of
the operator's declared semantics (exactly reproduced by the oracle),
not a silent truncation, and mirrors how production similarity systems
treat stop-hubs (a w linked by everything carries no signal anyway).
The candidate aggregation partial-combines map-side; the final
per-source top-k compiles to WindowGroupLimit (rank pushed below the
shuffle — map-side cut, the neighbor_sample_2hop pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pargraph_spark.operators.edges import canonical_undirected

GRID = float(1 << 30)  # 2^-30 binary grid (hits.py policy)


def _quant(c):
    return F.round(c * F.lit(GRID)) / F.lit(GRID)


def common_neighbors_topk(
    edges: DataFrame,
    k: int = 5,
    hot_cap: int | None = None,
    rank_by: str = "cn",
) -> DataFrame:
    """edges(src, dst) treated undirected → (a, b, cn, ra, aa, rn): for
    each vertex a, its top-k non-adjacent partners b (a < b) ranked
    rn = 1..k by (`rank_by` desc, b asc). `rank_by` ∈ {cn, ra, aa}.
    Wedge centers with degree > hot_cap are excluded (declared cap
    semantics; None = exact); deg(w) in the RA/AA terms is the FULL
    degree, measured before the cap."""
    if rank_by not in ("cn", "ra", "aa"):
        raise ValueError(f"rank_by must be cn|ra|aa, got {rank_by!r}")
    und = canonical_undirected(edges).withColumnsRenamed({"a": "u", "b": "v"})
    sym = und.unionByName(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("w")).agg(F.count("*").alias("_d"))
    adj = sym.select(F.col("v").alias("w"), F.col("u").alias("x")).join(deg, "w")
    if hot_cap is not None:
        adj = adj.where(F.col("_d") <= int(hot_cap))
    a1 = adj.select("w", F.col("x").alias("a"), "_d")
    a2 = adj.select("w", F.col("x").alias("b"))
    cn = (
        a1.join(a2, "w")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("cn"),
            F.sum(_quant(F.lit(1.0) / F.col("_d"))).alias("ra"),
            F.sum(_quant(F.lit(1.0) / F.log(F.col("_d")))).alias("aa"),
        )
    )
    cand = cn.join(
        und.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    win = Window.partitionBy("a").orderBy(F.desc(rank_by), F.asc("b"))
    return (
        cand.withColumn("rn", F.row_number().over(win).cast("long"))
        .where(F.col("rn") <= int(k))
    )


def cocitation_topk(
    edges: DataFrame,
    k: int = 5,
    mode: str = "cocitation",
    hot_cap: int | None = None,
) -> DataFrame:
    """Directed related-page similarity → (a, b, cnt, rn): for each page
    a its top-k partners b by

      cocitation (Small'73):  cnt = |{w : w→a and w→b}|  (shared citers)
      coupling (Kessler'63):  cnt = |{w : a→w and b→w}|  (shared targets)

    the classic "related pages" signals on a link graph (co-citation is
    what HITS' authority step aggregates one hop of). Exact integer
    counts; adjacent pairs are KEPT (this is similarity, not link
    prediction). rn = 1..k per a by (cnt desc, b asc), compiled to
    WindowGroupLimit. The wedge hazard mirrors common_neighbors_topk:
    a center w fans out deg(w)² pairs — centers above hot_cap (out-degree
    for cocitation, in-degree for coupling) are excluded as declared cap
    semantics, the hot-bucket discipline."""
    if mode not in ("cocitation", "coupling"):
        raise ValueError(f"mode must be cocitation|coupling, got {mode!r}")
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    if mode == "cocitation":
        adj = e.select(F.col("src").alias("w"), F.col("dst").alias("x"))
    else:
        adj = e.select(F.col("dst").alias("w"), F.col("src").alias("x"))
    if hot_cap is not None:
        cdeg = adj.groupBy("w").agg(F.count("*").alias("_d"))
        adj = adj.join(cdeg, "w").where(F.col("_d") <= int(hot_cap)).drop("_d")
    pairs = (
        adj.select("w", F.col("x").alias("a"))
        .join(adj.select("w", F.col("x").alias("b")), "w")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("cnt"))
    )
    both = pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"), "cnt")
    )
    win = Window.partitionBy("a").orderBy(F.desc("cnt"), F.asc("b"))
    return (
        both.withColumn("rn", F.row_number().over(win).cast("long"))
        .where(F.col("rn") <= int(k))
    )
