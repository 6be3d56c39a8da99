"""SCAN structural graph clustering (Xu, Yuruk, Feng, Schweiger, KDD'07).

SCAN clusters a graph by STRUCTURAL similarity instead of mere
reachability: an edge (u, v) is an ε-edge when

    σ(u, v) = |N[u] ∩ N[v]| / sqrt(|N[u]| · |N[v]|) >= ε

over closed neighborhoods N[·]; a vertex with >= μ ε-neighbors
(including itself) is a CORE; clusters are the connected components of
cores under ε-edges, non-core vertices ε-adjacent to a core join its
cluster as MEMBERs, and the remainder splits into HUBs (plain-adjacent
to >= 2 distinct clusters — the bridge pages of a web graph) and
OUTLIERs (noise). On link graphs this is the standard
community-with-roles operator next to plain LPA: it separates genuine
community cores from boilerplate bridge hubs.

Exactness: for an edge, |N[u] ∩ N[v]| = c + 2 where c = common open
neighbors (the per-edge triangle support), and with ε² given as a
rational p/q the threshold is the INTEGER predicate

    p · (d_u + 1) · (d_v + 1)  <=  q · (c + 2)²

so every decision — ε-edge, core, cluster label (min member id via
connected components), member attachment (min cluster id), hub test
(>= 2 distinct neighbor clusters) — is exact integer arithmetic, and
the SQL oracle is the verbatim identity (no float policy).

Scale shape: common-neighbor counts come from the degree-ordered
triangle enumeration (triangles.triangle_triples — wedge fan-out
bounded by the smaller endpoint, the repo's triangle skew discipline);
the similarity filter is edge-local; connected components run ONLY on
the core ε-edge subgraph (a small fraction of E at any sane ε);
member/hub classification is one join against the assignment each. No
step materializes anything larger than E.

Reference frame: pargraph has no structural-clustering operator — this
extends the §2.2 clustering family (LPA `labelprop.py`, SLPA,
modularity) with the role-aware variant.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pargraph_spark.operators.components import connected_components
from pargraph_spark.operators.edges import canonical_undirected
from pargraph_spark.operators.triangles import triangle_triples
from pargraph_spark.plans.metrics import JobMetrics


@dataclass
class ScanResult:
    assignments: DataFrame  # (id, cluster, role) — cluster = -1 for hub/outlier
    n_cores: int
    n_clusters: int
    metrics: JobMetrics = field(default_factory=lambda: JobMetrics("scan"))


def scan_clusters(
    spark: SparkSession,
    edges: DataFrame,
    eps2: tuple[int, int] = (1, 2),
    mu: int = 3,
    num_partitions: int | None = None,
) -> ScanResult:
    """edges(src, dst) undirected → (id, cluster, role).

    eps2 = (p, q) declares ε² = p/q (e.g. (1, 2) → ε = 1/√2 ≈ 0.707,
    (9, 16) → ε = 3/4); mu is the minimum ε-neighborhood size for a
    core. role ∈ {'core', 'member', 'hub', 'outlier'}; cluster is the
    min vertex id of the containing core component, -1 for hubs and
    outliers. Vertex universe = edge endpoints."""
    p, q = int(eps2[0]), int(eps2[1])
    if p <= 0 or q <= 0 or p > q:
        raise ValueError(f"eps2 must be a rational 0 < p/q <= 1, got {eps2}")
    if mu < 2:
        # with mu <= 1 every vertex is a core through its self-similarity
        # (sigma(v,v)=1), which this edge-driven implementation does not
        # model (isolated-in-eps vertices never appear in ecnt) — reject
        # rather than silently under-clustering
        raise ValueError(f"mu must be >= 2 (SCAN's standard range), got {mu}")
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    # und is deliberately NOT persisted: measured at sf0.01 the cache
    # build+scan costs more than recomputing the distinct for each
    # consumer (65.7s -> 104.5s standalone with a persist here) — the
    # persist-reused-tables rule pays for tables probed EVERY ROUND of a
    # loop, not for a handful of differently-pruned DAG consumers
    und = canonical_undirected(edges)
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    tri = triangle_triples(
        und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    supp = (
        tri.select(F.least("s", "x").alias("a"), F.greatest("s", "x").alias("b"))
        .unionByName(tri.select(F.least("s", "y").alias("a"),
                                F.greatest("s", "y").alias("b")))
        .unionByName(tri.select(F.least("x", "y").alias("a"),
                                F.greatest("x", "y").alias("b")))
        .groupBy("a", "b")
        .agg(F.count("*").alias("c"))
    )
    # predicate products in decimal(38,0): p*(da+1)*(db+1) on hub-hub
    # edges overflows int64 (ANSI throws, non-ANSI silently flips the
    # edge decision) — the densest.py/wl.py decimal discipline
    _dec = "decimal(38,0)"
    cp2 = (F.coalesce(F.col("c"), F.lit(0)) + F.lit(2)).cast(_dec)
    eps_edges = (
        und.join(supp, ["a", "b"], "left")
        .join(deg.select(F.col("u").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("u").alias("b"), F.col("d").alias("db")), "b")
        .where(
            F.lit(p).cast(_dec)
            * (F.col("da") + 1).cast(_dec)
            * (F.col("db") + 1).cast(_dec)
            <= F.lit(q).cast(_dec) * cp2 * cp2
        )
        .select("a", "b")
        .repartition(P, "a")
        .persist()
    )
    ecnt = (
        eps_edges.select(F.col("a").alias("id"))
        .unionByName(eps_edges.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg((F.count("*") + 1).alias("n"))
    )
    cores = ecnt.where(F.col("n") >= int(mu)).select("id").persist()
    n_cores = cores.count()
    core_eps = (
        eps_edges
        .join(cores.select(F.col("id").alias("a")), "a", "leftsemi")
        .join(cores.select(F.col("id").alias("b")), "b", "leftsemi")
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    cc = connected_components(spark, core_eps, vertices=cores,
                              num_partitions=P)
    core_asg = cc.components.select("id", F.col("component").alias("cluster"))
    # non-core ε-adjacent to a core joins the min-id cluster (SCAN's
    # "sociable" multi-cluster vertices resolved deterministically)
    touch = (
        eps_edges.select(F.col("a").alias("id"), F.col("b").alias("nb"))
        .unionByName(eps_edges.select(F.col("b").alias("id"),
                                      F.col("a").alias("nb")))
    )
    member_asg = (
        touch.join(cores.select(F.col("id").alias("nb")), "nb", "leftsemi")
        .join(cores, "id", "leftanti")
        .join(core_asg.select(F.col("id").alias("nb"),
                              F.col("cluster")), "nb")
        .groupBy("id")
        .agg(F.min("cluster").alias("cluster"))
    )
    assigned = (
        core_asg.select("id", "cluster", F.lit("core").alias("role"))
        .unionByName(member_asg.select("id", "cluster",
                                       F.lit("member").alias("role")))
        .persist()
    )
    verts = sym.select(F.col("u").alias("id")).distinct()
    rest = verts.join(assigned, "id", "leftanti")
    # hub: plain-adjacent to >= 2 DISTINCT clusters; else outlier
    nbclu = (
        rest.join(sym.select(F.col("u").alias("id"), F.col("v").alias("nb")),
                  "id")
        .join(assigned.select(F.col("id").alias("nb"), "cluster"), "nb")
        .groupBy("id")
        .agg(F.countDistinct("cluster").alias("nc"))
    )
    rest_asg = (
        rest.join(nbclu, "id", "left")
        .select(
            "id",
            F.lit(-1).cast("long").alias("cluster"),
            F.when(F.coalesce(F.col("nc"), F.lit(0)) >= 2, F.lit("hub"))
            .otherwise(F.lit("outlier"))
            .alias("role"),
        )
    )
    out = (
        assigned.unionByName(rest_asg)
        .select("id", F.col("cluster").cast("long").alias("cluster"), "role")
        # materialize, then release every persisted input (otherwise
        # eps_edges/cores/assigned stay cached for the session lifetime)
        .localCheckpoint(eager=True)
    )
    n_clusters = core_asg.select("cluster").distinct().count()
    for cached in (eps_edges, cores, assigned):
        cached.unpersist()
    metrics = JobMetrics("scan")
    for m in cc.metrics.supersteps:
        metrics.add(m)
    return ScanResult(out, n_cores, n_clusters, metrics)
