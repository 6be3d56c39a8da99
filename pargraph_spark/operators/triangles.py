"""O9 — exact triangle counting, global + per-vertex.

Degree-ordered edge orientation (the standard compact-forward /
MapReduce "node-iterator++" scheme): direct each undirected edge from the
endpoint with smaller (degree, id) to the larger, so every wedge is
enumerated exactly once at its lowest-degree apex — this bounds the
self-join fan-out by Σ d_i^{O(1.5)} instead of Σ d_i², which is what makes
hub-heavy (Zipf) web graphs tractable: a degree-10^6 hub is never an apex.

Plan shape: two shuffles (wedge self-join on apex, closing semi-join on
(lo,hi)), then pure aggregation. Everything JVM-side, no UDFs.

Trusses: truss_numbers is the support h-index fixpoint, run by
plans/fixpoint.py over one state table (a, b, c, _chg) on hash(a, b),
ONE Spark job per round (its changed-count aggregate materializes the
round's checkpoint) plus setup jobs; the triangles are enumerated once,
up front. ktruss(k) is a filter of it (the edges with trussness ≥ k)
plus one support count on the kept subgraph.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pargraph_spark.operators.edges import canonical_undirected
from pargraph_spark.plans.fixpoint import run_fixpoint
from pargraph_spark.plans.metrics import JobMetrics
from pargraph_spark.session import no_aqe, size_based_partitions


@dataclass
class TriangleResult:
    total: int
    per_vertex: DataFrame  # (id: long, tri: long) — vertices in ≥1 triangle


def _oriented(edges: DataFrame) -> DataFrame:
    """(lo → hi) by (undirected degree, id) ordering; columns (s, t)."""
    und = canonical_undirected(edges)  # (a < b), distinct
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("degb"))
    j = und.join(da, "a").join(db, "b")
    a_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b"))
    )
    return j.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("s"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("t"),
        F.when(a_first, F.col("degb")).otherwise(F.col("dega")).alias("degt"),
    )


def triangle_triples(edges: DataFrame) -> DataFrame:
    """(s, x, y) — every triangle exactly once, vertices in (deg,id) order.

    The oriented edge list is materialized ONCE (eager localCheckpoint)
    — it feeds three consumers (both wedge sides and the closing probe),
    and as a plain subtree the whole orientation pipeline (distinct +
    degree aggregate + two joins, ~5 exchanges) re-executed for each; only
    identical Exchange nodes get runtime reuse, which the closing side's
    (x, y) keying defeats. Rows are unchanged — only evaluated once.

    The checkpoint is planned under ``no_aqe(P)``, P sized from the
    session's shuffle partitions: under AQE a join took its build side
    from whichever query stage finished first, so the job count varied
    from call to call on one graph. For the same reason, when the caller
    plans under AQE the wedge and closing joins are hinted sort-merge.
    Inside triangle_count's own ``no_aqe(P)``, sized from the same edges,
    the sizing returns that P and the static planner picks the joins."""
    spark = edges.sparkSession
    P = size_based_partitions(edges, int(spark.conf.get("spark.sql.shuffle.partitions")))
    aqe = spark.conf.get("spark.sql.adaptive.enabled") == "true"
    with no_aqe(spark, P):
        o = _oriented(edges).localCheckpoint(eager=True)
    e1 = o.select(F.col("s"), F.col("t").alias("x"), F.col("degt").alias("degx"))
    e2 = o.select(F.col("s"), F.col("t").alias("y"), F.col("degt").alias("degy"))
    # each unordered wedge once: (x before y) in the same (deg, id) order
    if aqe:
        e2 = e2.hint("merge")
    wedges = e1.join(e2, "s").where(
        (F.col("degx") < F.col("degy"))
        | ((F.col("degx") == F.col("degy")) & (F.col("x") < F.col("y")))
    ).select("s", "x", "y")
    closing = o.select(F.col("s").alias("x"), F.col("t").alias("y"))
    if aqe:
        closing = closing.hint("merge")
    return wedges.join(closing, ["x", "y"], "inner").select("s", "x", "y")


def _per_vertex_from_triples(tris: DataFrame) -> DataFrame:
    return (
        tris.select(F.col("s").alias("id"))
        .unionByName(tris.select(F.col("x").alias("id")))
        .unionByName(tris.select(F.col("y").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("tri"))
    )


def triangles_per_vertex(edges: DataFrame) -> DataFrame:
    """(id, tri) for every vertex in ≥1 triangle."""
    return _per_vertex_from_triples(triangle_triples(edges))


def triangles_global(edges: DataFrame) -> DataFrame:
    """Single row (n_triangles: long)."""
    return triangle_triples(edges).agg(F.count("*").alias("n_triangles"))


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """(id, lcc) — local clustering coefficient over the undirected
    simple graph: lcc(v) = 2·T(v) / (d(v)·(d(v)−1)), 0.0 when d(v) < 2.

    Cross-engine exact: T and d are exact ints, 2.0·T is exact in double,
    and the single IEEE division is bit-identical across engines (the
    jaccard_verify float policy). Plan = the triangle pipeline plus one
    degree aggregate and a left join — no new shuffle classes; the join is
    hinted sort-merge so AQE does not pick its strategy by stage timing."""
    und = canonical_undirected(edges)
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
    )
    tri = triangles_per_vertex(edges)
    return deg.join(tri.hint("merge"), "id", "left").select(
        "id",
        F.when(F.col("deg") < 2, F.lit(0.0))
        .otherwise(
            F.lit(2.0) * F.coalesce(F.col("tri"), F.lit(0))
            / (F.col("deg") * (F.col("deg") - 1))
        )
        .alias("lcc"),
    )


def triangle_count(spark: SparkSession, edges: DataFrame) -> TriangleResult:
    # AQE off for the whole call: under AQE the orientation and wedge joins
    # took their build sides and query-stage order from whichever stage
    # finished first, so one graph got a different plan, job count and set
    # of generated classes from one call to the next. The static plan is
    # the same on every call.
    P = size_based_partitions(edges, int(spark.conf.get("spark.sql.shuffle.partitions")))
    with no_aqe(spark, P):
        tris = triangle_triples(edges).persist()
        total = tris.count()
        # materialize per_vertex so the E^1.5-scale triples cache can be
        # RELEASED before return (else it stays cached for the session) —
        # and reuse triangles_per_vertex's aggregation instead of a copy
        per_vertex = _per_vertex_from_triples(tris).localCheckpoint(eager=True)
    tris.unpersist()
    return TriangleResult(total, per_vertex)


def _triangle_edges(tris: DataFrame) -> DataFrame:
    """(t, a, b): every triangle of ``tris`` once per edge (a < b), with t
    its sorted vertex triple."""
    t = F.array_sort(F.array("s", "x", "y"))
    return tris.select(t.alias("t")).select(
        "t",
        F.inline(F.array(*(
            F.struct(F.col("t")[i].alias("a"), F.col("t")[j].alias("b"))
            for i, j in ((0, 1), (0, 2), (1, 2))
        ))),
    )


def _edge_support(tri_edges: DataFrame) -> DataFrame:
    """(a, b, support): the number of triangles on each edge in one."""
    return tri_edges.groupBy("a", "b").agg(F.count("*").alias("support"))


@dataclass
class TrussNumbersResult:
    trussness: DataFrame  # (a, b, truss) — max k such that the edge is in the k-truss
    rounds: int
    converged: bool
    metrics: JobMetrics = field(default_factory=lambda: JobMetrics("truss_numbers"))


def truss_numbers(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 100,
    num_partitions: int | None = None,
    fixed_rounds: int | None = None,
) -> TrussNumbersResult:
    """Full truss decomposition: every edge's truss number (the largest k
    such that the edge survives in the k-truss) — the EDGE analogue of
    core_numbers, answering `ktruss(k)` for every k in one fixpoint.

    Algorithm: the h-index fixpoint on triangle supports (the edge-level
    counterpart of the Lü et al. coreness H-iteration used by
    core_numbers): initialize t0(e) = support(e); each round, an edge
    looks at every triangle it belongs to, takes v = min of the OTHER
    two edges' current estimates, and updates to min(H(v multiset),
    t(e)), H the h-index (largest h with ≥ h triangles of value ≥ h).
    Estimates are pointwise non-increasing and converge to exactly
    trussness − 2 (the peel-consistency argument mirrors the vertex
    case: a fixpoint value t certifies ≥ t triangles whose supporting
    edges all certify ≥ t); the pytest oracle cross-checks against a
    direct peel mirror. Triangle-less edges have trussness 2 by
    convention (every edge is in the 2-truss).

    The loop is plans/fixpoint.py. Triangles are enumerated ONCE and
    melted into (t, a, b) rows persisted on hash(a, b). The state is one
    table (a, b, c, _chg) on hash(a, b): the estimate of every edge in a
    triangle and whether the last round lowered it. A superstep
    materializes only the next state, in ONE Spark job — the driver's
    count of changed estimates. Inside it:

    - each melted row takes its edge's estimate by a union with the
      state and a max over the edge key (a window, in place on
      hash(a, b)), not by a join: Spark estimates a join as the product
      of its sides, and the checkpoint would carry that estimate into
      the next round;
    - the per-triangle gather exchanges 3-row groups keyed by t;
    - the h-index is core_numbers' two-level histogram: a map-side
      combine on (edge, value), then a window per edge over its distinct
      values — a 10^5-triangle edge contributes its triangles only to
      the combine. The clamp at the edge's own estimate is applied to h
      itself, H(min(values, c)) = min(H(values), c), so the window is no
      longer bounded by t(e) + 1 rows, only by the edge's distinct
      values;
    - the new estimates combine with the state by union + aggregate.

    fixed_rounds: run exactly that many rounds and never stop early (for
    oracle parity: rounds past the fixpoint are identity; `converged`
    stays False because nothing stopped on it). `rounds` counts only
    rounds that changed an estimate. If max_rounds is hit first, the
    estimates are a monotone UPPER BOUND on trussness − 2, with
    converged=False.
    """
    return _truss(spark, edges, max_rounds, num_partitions, fixed_rounds)[0]


def _truss(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int,
    num_partitions: int | None,
    fixed_rounds: int | None = None,
    k: int | None = None,
) -> tuple[TrussNumbersResult, DataFrame | None]:
    """truss_numbers, and with ``k`` the k-truss support (a, b, count):
    a triangle is in the k-truss iff its least estimate is ≥ k − 2."""
    from pyspark.sql import Window

    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    und = canonical_undirected(edges)
    # AQE off for the enumeration, as in triangle_count: one plan and job
    # count per graph. persist, not localCheckpoint: the scan keeps the
    # hash(a, b) partitioning, so every round reads the melted triangles
    # in place
    with no_aqe(spark, P):
        tri = triangle_triples(und.select(F.col("a").alias("src"),
                                          F.col("b").alias("dst")))
        melt = _triangle_edges(tri).repartition(P, "a", "b").persist()
        melt.count()
    edge = Window.partitionBy("a", "b")
    w = edge.orderBy(F.col("x").desc())

    def step(state: DataFrame, prev) -> DataFrame:
        est = (
            melt.unionByName(state.select("a", "b", "c"), allowMissingColumns=True)
            .withColumn("c", F.max("c").over(edge))
            .where(F.col("t").isNotNull())
        )
        g = est.groupBy("t").agg(
            F.array_sort(F.collect_list(F.struct("a", "b", "c"))).alias("es")
        )
        vals = None
        for i in range(3):
            o1, o2 = [x for x in range(3) if x != i]
            part = g.select(
                F.col("es")[i]["a"].alias("a"),
                F.col("es")[i]["b"].alias("b"),
                F.least(F.col("es")[o1]["c"], F.col("es")[o2]["c"]).alias("x"),
            )
            vals = part if vals is None else vals.unionByName(part)
        h = (
            vals.groupBy("a", "b", "x").agg(F.count("*").alias("cnt"))
            .withColumn("cum", F.sum("cnt").over(w))
            .groupBy("a", "b")
            .agg(F.max(F.least(F.col("cum"), F.col("x"))).alias("_h"))
        )
        return (
            state.select("a", "b", "c")
            .unionByName(h, allowMissingColumns=True)
            .groupBy("a", "b")
            .agg(F.max("c").alias("c"), F.max("_h").alias("_h"))
            .select(
                "a", "b",
                F.least(F.col("_h"), F.col("c")).alias("c"),
                (F.col("_h") < F.col("c")).alias("_chg"),
            )
        )

    # fixed_rounds: never done, stop at N (identity past the fixpoint)
    res = run_fixpoint(
        spark,
        lambda: _edge_support(melt).select(
            "a", "b", F.col("support").alias("c"), F.lit(True).alias("_chg")),
        step,
        [F.count_if("_chg").alias("changed")],
        (lambda s, prev: False) if fixed_rounds is not None
        else (lambda s, prev: s["changed"] == 0),
        name="truss_numbers", P=P,
        max_iter=fixed_rounds if fixed_rounds is not None else max_rounds,
        edges=0,
    )
    out = (
        und.join(res.state, ["a", "b"], "left")
        .select("a", "b", (F.coalesce(F.col("c"), F.lit(0)) + F.lit(2)).alias("truss"))
    )
    # counted from the melted triangles, before they are released
    sup = None if k is None else (
        melt.join(res.state, ["a", "b"])
        .withColumn("m", F.min("c").over(Window.partitionBy("t")))
        .where(F.col("m") >= k - 2).groupBy("a", "b").count()
        .localCheckpoint(eager=True))
    melt.unpersist()  # the state is checkpoint-materialized, lineage-free
    return TrussNumbersResult(out, res.iterations - res.converged, res.converged,
                              res.metrics), sup


@dataclass
class TrussResult:
    edges: DataFrame  # (a, b, support) — the k-truss, support counted in it
    rounds: int  # the decomposition's rounds (truss_numbers)
    converged: bool  # False: the decomposition stopped at max_rounds
    metrics: JobMetrics = field(default_factory=lambda: JobMetrics("ktruss"))


def ktruss(
    spark,
    edges: DataFrame,
    k: int,
    max_rounds: int = 100,
    num_partitions: int | None = None,
) -> TrussResult:
    """k-truss (Cohen 2008): the maximal subgraph where every EDGE
    participates in ≥ k−2 triangles — the edge-cohesion primitive next to
    the vertex-level k-core (trusses are the standard community-core
    filter on web/social graphs; every k-truss sits inside the (k−1)-core
    but is strictly denser).

    The k-truss is exactly the edges with trussness ≥ k, so this is a
    filter of truss_numbers() plus one support count on the kept
    subgraph: a triangle is in the k-truss iff all three of its edges
    are, so the decomposition's own triangles, kept when all three edges
    are, give each edge's support in it (no second enumeration).
    `rounds` and `converged` are the decomposition's. A decomposition
    cut by max_rounds gives upper bounds, so the filter then returns a
    superset of the k-truss, flagged by converged=False.
    """
    if k < 3:
        raise ValueError(f"ktruss requires k >= 3, got {k}")
    tn, sup = _truss(spark, edges, max_rounds, num_partitions, k=k)
    kept = tn.trussness.where(F.col("truss") >= k).select("a", "b")
    out = kept.join(sup, ["a", "b"], "left").select(
        "a", "b", F.coalesce("count", F.lit(0)).cast("long").alias("support"))
    return TrussResult(out, tn.rounds, tn.converged, tn.metrics)


def edge_neighborhood_jaccard(edges: DataFrame) -> DataFrame:
    """Per-edge neighborhood overlap: for every undirected edge (u, v),
    common = |Γ(u) ∩ Γ(v)| (triangles through the edge) and
    jac = common / (deg(u) + deg(v) − common), the Jaccard similarity of
    the endpoint neighborhoods — the standard tie-strength / link-spam
    signal (an edge inside a clique scores →1, a bridge scores 0).

    Exactness: common and both degrees are integers; jac is ONE IEEE
    division of exactly-converted ints — bit-identical across engines.

    Scale shape: reuses triangle_triples' degree-ordered orientation (the
    O9 wedge-bounding discipline — fan-out keyed on the LOWER-degree
    endpoint), projects each triangle onto its three edges and
    partial-combines the per-edge counts; then one V-scale degree join.
    """
    und = canonical_undirected(edges).select(
        F.col("a").alias("u"), F.col("b").alias("v")
    )
    supp = _edge_support(_triangle_edges(triangle_triples(edges))).select(
        F.col("a").alias("u"), F.col("b").alias("v"), F.col("support").alias("common"))
    sym = und.unionByName(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("id")).agg(F.count("*").alias("deg"))
    return (
        und.join(supp, ["u", "v"], "left")
        .withColumn("common", F.coalesce("common", F.lit(0)))
        .join(deg.select(F.col("id").alias("u"), F.col("deg").alias("_du")), "u")
        .join(deg.select(F.col("id").alias("v"), F.col("deg").alias("_dv")), "v")
        .select(
            "u",
            "v",
            F.col("common").cast("long").alias("common"),
            (
                F.col("common").cast("double")
                / (F.col("_du") + F.col("_dv") - F.col("common")).cast("double")
            ).alias("jac"),
        )
    )
