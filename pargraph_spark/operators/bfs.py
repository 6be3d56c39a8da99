"""Breadth-first distances from a seed set (k-hop neighborhoods).

The frontier-expansion pattern every link-graph engine needs (crawl-depth
analysis, neighborhood extraction, reachability): each hop joins the
CURRENT frontier (small) against the once-partitioned edge table and
anti-joins the visited set — per hop only frontier-sized id rows
shuffle, never the edge payload, and the edge side is probed in place
(pre-partitioned on the join key, same discipline as labelprop.py).

One multi-source BFS (``_bfs``) serves both this module and
landmarks.py: its key columns are ``()`` for plain BFS and
``("landmark",)`` for the landmark sketch, which runs one wave per key.
The hop loop is plans/fixpoint.py: the state is the visited table
(keys…, id, dist), each hop's state is checkpointed to truncate lineage
(the ref-count-release analogue, reference engine.py:63-76), and a hop
costs ONE Spark job — the aggregate of (count, max dist) that
materializes it. The run stops when a hop adds no vertex.

Unvisited vertices are absent from the output (not NULL/∞ rows): at web
scale most of the graph is outside a k-hop ball and materializing it
would dwarf the answer.

Determinism: distances are well-defined (min hops); no tie-breaks exist.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pargraph_spark.operators.edges import adjacency
from pargraph_spark.plans.fixpoint import run_fixpoint
from pargraph_spark.plans.metrics import JobMetrics
from pargraph_spark.session import size_based_partitions


@dataclass
class BfsResult:
    distances: DataFrame  # (id, dist int) — reached vertices only
    hops: int             # rounds actually expanded
    exhausted: bool       # True if the frontier emptied before max_hops
    metrics: JobMetrics = field(default_factory=lambda: JobMetrics("bfs"))


def _bfs(
    spark: SparkSession,
    adj: DataFrame,
    n_adj: int,
    seeds: DataFrame,
    keys: Sequence[str],
    max_hops: int,
    P: int,
    name: str,
) -> tuple[DataFrame, int, bool, JobMetrics]:
    """Multi-source BFS over ``adj``: seeds (keys…, id) at distance 0 →
    (visited (keys…, id, dist), hops, exhausted, metrics). Each key value
    runs its own wave; hops counts the hops that reached a new vertex."""
    kid = [*keys, "id"]

    def step(state: DataFrame, prev) -> DataFrame:
        # the frontier is the last hop's vertices: max(dist) of the state
        # (a hop only runs after the previous one grew the state)
        hop = prev["hop"] or 0
        frontier = state.where(F.col("dist") == hop).select(*kid)
        # shuffle_hash: build on the frontier/visited side, never a
        # broadcast (it would cost its own job every hop)
        nxt = (
            adj.join(frontier.hint("shuffle_hash"), adj["u"] == frontier["id"])
            .select(*keys, adj["v"].alias("id"))
            .distinct()
            .join(state.select(*kid).hint("shuffle_hash"), kid, "left_anti")
            .withColumn("dist", F.lit(hop + 1))
        )
        return state.unionByName(nxt)

    res = run_fixpoint(
        spark,
        lambda: seeds.select(*kid).distinct().withColumn("dist", F.lit(0)),
        step,
        [F.count("*").alias("n"), F.max("dist").alias("hop")],
        lambda s, prev: s["n"] == prev["n"],
        name=name, P=P, max_iter=max_hops, edges=n_adj,
        delta=lambda s, prev: float(s["n"] - prev["n"]),  # new vertices
    )
    # the hop that found nothing new is not one
    return (res.state, res.iterations - res.converged, res.converged,
            res.metrics)


def bfs_distances(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 10,
    symmetric: bool = True,
    num_partitions: int | None = None,
) -> BfsResult:
    """edges(src,dst) + sources(id) → (id, dist ≤ max_hops).

    symmetric=True treats edges as undirected (the link-graph default);
    False follows src→dst direction only."""
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    P = size_based_partitions(edges, P)  # guide §2.2, size-derived cap
    adj, n_adj = adjacency(edges, P, symmetric=symmetric)
    dist, hops, exhausted, metrics = _bfs(
        spark, adj, n_adj, sources, (), max_hops, P, "bfs")
    adj.unpersist()
    return BfsResult(dist, hops, exhausted, metrics)


@dataclass
class DiameterEstimate:
    lower_bound: int      # the double-sweep eccentricity (exact on trees)
    sweep1_far: int       # farthest vertex found by sweep 1 (the re-seed)
    n_reached: int        # vertices in the start vertex's component
    distances: DataFrame  # (id, dist) from the second sweep


def diameter_2sweep(
    spark: SparkSession,
    edges: DataFrame,
    start_id: int | None = None,
    max_hops: int = 64,
    num_partitions: int | None = None,
) -> DiameterEstimate:
    """Double-sweep diameter lower bound (Magnien, Latapy & Habib 2009 —
    the standard cheap diameter estimator): BFS from an arbitrary start,
    re-seed from the farthest vertex found, and the second sweep's
    eccentricity lower-bounds the true diameter (exact on trees, within
    a small additive error on most real graphs). Two full BFS runs —
    2·diameter frontier rounds, each touching only frontier-sized rows.

    Determinism: the start defaults to the MINIMUM vertex id and the
    farthest-vertex re-seed tie-breaks on min id, so the estimate is a
    pure function of the graph. Covers the start vertex's component
    (web-graph usage: run on the giant component after
    connected_components)."""
    if start_id is None:
        start_id = edges.select(
            F.least(F.min("src"), F.min("dst")).alias("m")
        ).first()["m"]
        if start_id is None:
            raise ValueError("diameter_2sweep on an empty edge table")
    seeds = spark.createDataFrame([(int(start_id),)], "id long")
    first = bfs_distances(spark, edges, seeds, max_hops=max_hops,
                          num_partitions=num_partitions)
    far = (
        first.distances.orderBy(F.desc("dist"), F.asc("id")).limit(1).first()
    )
    second = bfs_distances(
        spark, edges,
        spark.createDataFrame([(int(far["id"]),)], "id long"),
        max_hops=max_hops,
        num_partitions=num_partitions,
    )
    # the eccentricity: every counted hop reached a vertex, so the last
    # one is the farthest distance
    n = second.distances.count()
    return DiameterEstimate(second.hops, int(far["id"]), n, second.distances)
