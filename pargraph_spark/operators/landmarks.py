"""Landmark distance sketch (multi-source BFS) + pairwise estimates.

The standard web-graph distance oracle (Potamias, Bonchi, Castillo,
Gionis, CIKM'09 "Fast shortest path distance estimation in large
networks"): pick L landmark vertices, run ONE multi-source BFS that
carries (landmark, dist) state, and answer any s-t distance query with
the triangle-inequality upper bound  min_l d(s,l) + d(l,t)  from two
L-row lookups — no per-query traversal. This is how crawl planners and
link-spam pipelines get "how far is url A from url B" at 10^12-edge
scale where exact APSP is impossible.

Determinism: landmarks are the L smallest vertices by the md5 priority
md5("salt|id") (hash-uniform over the vertex set, id tie-break — the
mis.py priority discipline), and BFS distances are min-hop, so the
whole sketch is a pure function of (graph, salt, L) with an exact
integer DuckDB oracle (recursive CTE seeded at the same landmarks).

Scale shape: the wave is bfs.py's multi-source BFS keyed on the
landmark column — the edge table is persisted once, hash-partitioned on
the source key, and every hop probes it IN PLACE with a frontier of
(landmark, id) id-pairs — L× the rows of a single BFS but still id-only,
never edge payload. Visited state is keyed (landmark, id), bounded by
L·V, and each hop costs ONE Spark job (the plans/fixpoint.py driver's
stats aggregate). Landmark selection is a vertex-scale TakeOrdered
(top-L by hash), not a sort of V.

Reference frame: pargraph has no distance-oracle operator; this extends
the BFS family (bfs.py) with the sketch that makes pairwise distance
queries O(L) at answer time.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pargraph_spark.plans.metrics import JobMetrics
from pargraph_spark.session import ckpt_state, size_based_partitions

from .bfs import _bfs
from .edges import adjacency


@dataclass
class LandmarkResult:
    distances: DataFrame  # (landmark, id, dist) — reached pairs only
    landmarks: DataFrame  # (id) — the L selected landmark vertices
    hops: int
    exhausted: bool       # True if every frontier emptied before max_hops
    metrics: JobMetrics = field(default_factory=lambda: JobMetrics("landmarks"))


def _lm_priority(col, salt: str):
    """md5('salt|id') — hash-uniform landmark order, id tie-break."""
    return F.md5(
        F.concat_ws("|", F.lit(salt), col.cast("string")).cast("binary")
    )


def landmark_distances(
    spark: SparkSession,
    edges: DataFrame,
    num_landmarks: int = 8,
    max_hops: int = 4,
    symmetric: bool = True,
    salt: str = "lm",
    num_partitions: int | None = None,
) -> LandmarkResult:
    """edges(src,dst) → (landmark, id, dist ≤ max_hops) for L landmarks.

    Landmarks = the num_landmarks smallest vertices under md5("salt|id")
    (id tie-break). One BFS wave carries all landmarks at once; state and
    output hold only REACHED (landmark, id) pairs."""
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    P = size_based_partitions(edges, P)  # guide §2.2, size-derived cap
    adj, n_adj = adjacency(edges, P, symmetric=symmetric)
    verts = adj.select(F.col("u").alias("id")).distinct()
    lms = (
        verts.orderBy(_lm_priority(F.col("id"), salt).asc(), F.col("id").asc())
        .limit(int(num_landmarks))
        .select("id")
        .transform(ckpt_state, P)
    )
    dist, hops, exhausted, metrics = _bfs(
        spark, adj, n_adj, lms.select(F.col("id").alias("landmark"), "id"),
        ("landmark",), max_hops, P, "landmarks")
    adj.unpersist()
    return LandmarkResult(dist, lms, hops, exhausted, metrics)


def estimate_distances(
    sketch: DataFrame, pairs: DataFrame
) -> DataFrame:
    """pairs(a, b) × sketch(landmark, id, dist) → (a, b, est).

    est = min_l d(a,l) + d(l,b): the triangle-inequality upper bound
    (exact whenever some landmark lies on a shortest a-b path; est is
    NULL-free — pairs sharing no reached landmark are omitted, like
    unreached vertices in bfs.py). Two sketch joins keyed on landmark;
    no graph traversal at query time.

    REQUIRES a sketch built with landmark_distances(symmetric=True):
    the sum uses d(l, a) as a stand-in for d(a, l), which holds only on
    the symmetrized graph. A symmetric=False (directed) sketch stores
    only landmark→vertex distances, so d(l,a)+d(l,b) bounds NOTHING
    about the directed a→b distance (the directed CIKM'09 form needs a
    second, reverse-edge sketch: run landmark_distances on the reversed
    edge table and sum d_rev(l,a) + d_fwd(l,b))."""
    da = sketch.select(
        F.col("landmark"), F.col("id").alias("a"), F.col("dist").alias("_da")
    )
    db = sketch.select(
        F.col("landmark"), F.col("id").alias("b"), F.col("dist").alias("_db")
    )
    return (
        pairs.join(da, "a")
        .join(db, ["landmark", "b"])
        .groupBy("a", "b")
        .agg(F.min(F.col("_da") + F.col("_db")).alias("est"))
    )
