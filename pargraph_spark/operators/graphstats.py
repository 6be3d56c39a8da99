"""Whole-graph structural statistics: degree assortativity and the
average-neighbor-degree profile.

The standard link-graph diagnostics after degrees/components (Newman 2002,
"Assortative mixing in networks"): web graphs are typically disassortative
(hubs link to low-degree pages), and the knn(k) profile is the curve
analysts read that off. The reference exposes no graph statistics beyond
what its examples compute on demand; these are the Spark-first
equivalents, each a handful of partial-combined aggregates.

Scale shape: both operators are ONE pass over the symmetrized edge table
joined to the degree table on each endpoint (the degree table is V-scale
— broadcastable for most real V, co-partitioned hash join otherwise),
then a global or per-degree aggregate with map-side partial combine. No
windows, no iteration, no skew sensitivity (sums are commutative).

Cross-engine exactness: all sums are over BIGINT degree products (exact);
the final Pearson ratio / mean is formed from those exact integer sums
with a fixed expression of correctly-rounded IEEE ops (+,-,*,/ and sqrt
are all bit-identical given identical operands), then quantized by
FLOOR on a 2^30 binary grid — floor has no midpoint, and power-of-two
scaling is exact IEEE, so the emitted value is bit-identical across
engines (decimal round() is midpoint-hazardous cross-engine; see the
oracle-policy notes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pargraph_spark.operators.edges import canonical_undirected, symmetrize

_GRID = 1 << 30


def _q30(col):
    """Exact binary-grid quantization: floor(x * 2^30) / 2^30 (no decimal
    midpoint, power-of-two scaling exact in IEEE)."""
    return F.floor(col * F.lit(float(_GRID))) / F.lit(float(_GRID))


def _sym_with_degrees(edges: DataFrame) -> DataFrame:
    """Symmetrized edges annotated with both endpoint degrees (undirected
    degree = count of distinct neighbors)."""
    sym = symmetrize(edges)
    deg = sym.groupBy(F.col("u").alias("id")).agg(F.count("*").alias("deg"))
    du = deg.select(F.col("id").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("deg").alias("dv"))
    return sym.join(du, "u").join(dv, "v")


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Pearson degree-correlation coefficient r over the undirected graph:
    corr(deg(u), deg(v)) across directed edge endpoints (both directions
    counted, the standard convention — symmetric, so Sx==Sy). One row
    (n_edges_directed, rq). r in [-1, 1]; negative = disassortative (the
    web-graph signature)."""
    j = _sym_with_degrees(edges)
    # moment sums accumulate in decimal(38,0): Σdeg² at 10^12-edge scale
    # with 10^8-degree hubs exceeds BIGINT; decimal sums stay exact AND
    # order-independent (float sums are neither). The DuckDB oracle uses
    # HUGEINT — both convert to the same nearest double at the end.
    d = F.col("du").cast("decimal(19,0)")
    e_ = F.col("dv").cast("decimal(19,0)")
    agg = j.agg(
        F.count("*").alias("m"),
        F.sum(d).alias("sx"),
        F.sum(e_).alias("sy"),
        F.sum(d * e_).alias("sxy"),
        F.sum(d * d).alias("sxx"),
        F.sum(e_ * e_).alias("syy"),
    )
    # products of sums reach ~(E·d)^2 — far past BIGINT (ANSI overflow) —
    # so every sum is cast to double FIRST (int64→double is a single
    # correctly-rounded conversion, identical across engines)
    m = F.col("m").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    num = m * sxy - sx * sy
    den = F.sqrt(m * sxx - sx * sx) * F.sqrt(m * syy - sy * sy)
    # zero degree variance (regular graphs): r is undefined — NULL, not
    # the silent 0.0 that floor(NaN) used to produce (the oracle SQL
    # carries the identical CASE guard)
    return agg.select(
        F.col("m").alias("n_edges_directed"),
        F.when(den > 0, _q30(num / den)).alias("rq"),
    )


def avg_neighbor_degree_profile(edges: DataFrame) -> DataFrame:
    """knn(k): for each degree value k, the mean degree of the neighbors
    of degree-k vertices — (deg, n_endpoints, knnq). A falling curve is
    disassortative mixing. Exact integer sums; mean quantized on the
    2^30 binary grid."""
    j = _sym_with_degrees(edges)
    return (
        j.groupBy(F.col("du").alias("deg"))
        .agg(
            F.count("*").alias("n_endpoints"),
            _q30(
                F.sum(F.col("dv").cast("decimal(19,0)")).cast("double")
                / F.count("*").cast("double")
            ).alias("knnq"),
        )
    )


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity of a vertex partition (e.g. LPA communities) over
    the undirected graph: Q = Σ_c [ L_c/m − (d_c/2m)² ] with m the
    undirected edge count, L_c the intra-community edge count and d_c the
    community degree sum. One row (n_communities, n_edges, modularityq).

    Exactness: the numerator is accumulated as Σ_c (4m·L_c − d_c²) in
    decimal(38,0) — exact and order-independent at 10^12-edge scale where
    d_c² overflows BIGINT — then Q = num / 4m² is formed with three
    correctly-rounded IEEE ops on exactly-converted operands and quantized
    on the 2^30 binary grid (the degree_assortativity policy), so the
    emitted value is bit-identical across engines.

    Scale shape: two E-scale joins against the V-scale label map (hash, or
    broadcast when the label map fits), then per-community partial-combined
    aggregates over at-most-V rows. No iteration, no windows.
    """
    und = canonical_undirected(edges).withColumnsRenamed({"a": "u", "b": "v"})
    sym = und.unionByName(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("id")).agg(F.count("*").alias("deg"))
    lab = labels.select("id", "label")
    lu = lab.select(F.col("id").alias("u"), F.col("label").alias("lu"))
    lv = lab.select(F.col("id").alias("v"), F.col("label").alias("lv"))
    intra = (
        und.join(lu, "u")
        .join(lv, "v")
        .where(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("label"))
        .agg(F.count("*").cast("decimal(38,0)").alias("lc"))
    )
    dsum = (
        lab.join(deg, "id")
        .groupBy("label")
        .agg(F.sum(F.col("deg").cast("decimal(19,0)")).alias("dc"))
    )
    magg = und.agg(F.count("*").alias("m"))
    per = (
        dsum.join(intra, "label", "left")
        .withColumn("lc", F.coalesce("lc", F.lit(0).cast("decimal(38,0)")))
        .crossJoin(F.broadcast(magg))
    )
    q = per.agg(
        F.count("*").alias("n_communities"),
        F.first("m").alias("n_edges"),
        F.sum(
            F.lit(4).cast("decimal(38,0)")
            * F.col("m").cast("decimal(38,0)")
            * F.col("lc")
            - F.col("dc") * F.col("dc")
        ).alias("qn"),
    )
    md = F.col("n_edges").cast("double")
    return q.select(
        F.col("n_communities").cast("long").alias("n_communities"),
        F.col("n_edges").cast("long").alias("n_edges"),
        _q30(F.col("qn").cast("double") / (F.lit(4.0) * md * md)).alias(
            "modularityq"
        ),
    )


def reciprocity(edges: DataFrame) -> DataFrame:
    """Link reciprocity: one row (n_edges, n_reciprocal, reciprocity) —
    the fraction of distinct non-loop directed edges (u, v) whose
    reverse (v, u) is also present. The classic directed-web-graph
    statistic (a high value marks link-exchange/spam-ring behavior;
    pairs with trust.py's spam mass).

    Exactness: both counts are integers; reciprocity is ONE IEEE
    division of exact ints (the edge_jaccard float tier).

    Scale shape: distinct + one self-semi-join, both keyed on (src,
    dst)/(dst, src) — two E-scale hash exchanges, 1-row output; the
    semi-join carries no payload columns.
    """
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    rec = e.join(rev, ["src", "dst"], "left_semi")
    return e.agg(F.count("*").alias("n_edges")).crossJoin(
        rec.agg(F.count("*").alias("n_reciprocal"))
    ).select(
        "n_edges",
        "n_reciprocal",
        # guard the empty/loops-only graph: 0/0 would be NaN
        F.when(
            F.col("n_edges") > 0,
            F.col("n_reciprocal") / F.col("n_edges"),
        ).otherwise(F.lit(0.0)).alias("reciprocity"),
    )
