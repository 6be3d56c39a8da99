"""O4 — edge table + vertex dictionary construction (SURVEY.md §2.3).

Distributed analogue of the reference's bidict key↔dense-id encoding +
sparse boolean adjacency (/root/reference/pargraph/utility/
graphlib_graphblas.py:20-59): vertex ids are xxhash64(url) — stable,
computable without a global barrier (no zipWithIndex), identical across
partition counts and resumes — and the adjacency is a distinct, hash-
partitioned ``edges(src: long, dst: long)`` DataFrame.

Scale notes:
- ids via hash, not sequence: a 10^12-row zipWithIndex is a full-pass barrier
  and breaks determinism across partition counts; xxhash64 is per-row.
- collision check is a cheap two-count aggregate; at |V| = 10^12 the expected
  number of 64-bit collisions is ~|V|²/2^65 ≈ 27 — at that scale switch the
  id to struct(xxhash64, length) or 128-bit via two seeds; the check makes
  the assumption observable.
- every iterative algorithm builds its edge table once with ``adjacency``
  (one exchange, on the probe key, persisted) and re-reads the same
  co-partitioned table instead of reshuffling E rows per superstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pargraph_spark.session import no_aqe


def edge_urls(extracted: DataFrame) -> DataFrame:
    """Explode outlinks → (src_url, dst_url), self-loops dropped."""
    return (
        extracted.select(F.col("url").alias("src_url"), F.explode("links").alias("dst_url"))
        .where(F.col("src_url") != F.col("dst_url"))
    )


def build_vertices(extracted: DataFrame, edges_u: DataFrame | None = None) -> DataFrame:
    """vertices(id: long, url: string) over crawled urls ∪ link targets.

    Link targets outside the crawl (dangling targets) ARE vertices — they
    receive rank mass and contribute dangling mass, exactly like uncrawled
    urls in a real web graph.
    """
    edges_u = edges_u if edges_u is not None else edge_urls(extracted)
    urls = (
        extracted.select(F.col("url"))
        .unionByName(edges_u.select(F.col("dst_url").alias("url")))
        .distinct()
    )
    return urls.select(F.xxhash64("url").alias("id"), "url")


def assert_no_id_collisions(vertices: DataFrame) -> None:
    row = vertices.agg(
        F.countDistinct("id").alias("ids"), F.count("*").alias("urls")
    ).first()
    if row["ids"] != row["urls"]:
        raise ValueError(
            f"xxhash64 vertex-id collision: {row['urls']} urls -> {row['ids']} ids; "
            "switch to a 128-bit id (two-seed xxhash64 struct) for this corpus"
        )


def build_edges(extracted: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Distinct (src, dst) hash-partitioned by src.

    No dictionary join needed: ids are content hashes, so both endpoints are
    computed inline from urls (saves two E-row joins at build time).
    """
    e = edge_urls(extracted).select(
        F.xxhash64("src_url").alias("src"), F.xxhash64("dst_url").alias("dst")
    )
    e = e.dropDuplicates(["src", "dst"])
    if num_partitions:
        e = e.repartition(num_partitions, "src")
    return e


def host_graph(extracted: DataFrame) -> DataFrame:
    """Host-level rollup of the page link graph: (src_host, dst_host, w)
    where w counts the distinct page-level links between the two hosts —
    the input to host/domain PageRank (pagerank(weight_col='w')), the
    standard coarse view for spam/authority analysis at web scale.

    Everything JVM-side: F.parse_url extracts the lowercased host per
    endpoint url, dedupe happens at the PAGE level first (so duplicate
    crawls don't inflate host weights), then one (src_host, dst_host)
    aggregate. At 10^12 pages the rollup is a single shuffle keyed by the
    host pair and the output is millions of rows, not trillions —
    map-side partial counts absorb the intra-host skew. Intra-host links
    (src_host == dst_host) are KEPT (w on the diagonal is the site's
    internal link mass); filter them out for inter-site analyses."""
    return (
        host_pairs(extracted)
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("w"))
    )


def host_pairs(extracted: DataFrame) -> DataFrame:
    """Page-deduped (src_host, dst_host) link pairs, one row per distinct
    page-level link — the pre-aggregation input shared by host_graph and
    host_reach. All JVM-side (F.parse_url)."""
    e = edge_urls(extracted).dropDuplicates(["src_url", "dst_url"])
    return e.select(
        F.lower(F.parse_url("src_url", F.lit("HOST"))).alias("src_host"),
        F.lower(F.parse_url("dst_url", F.lit("HOST"))).alias("dst_host"),
    ).where(F.col("src_host").isNotNull() & F.col("dst_host").isNotNull())


def host_reach(pairs: DataFrame, rsd: float = 0.05, exact: bool = False) -> DataFrame:
    """Per-host distinct out-link reach: how many DISTINCT hosts each host
    links to — the standard cardinality view next to the exact degree
    tables (SURVEY §2.2 approx-aggs tier made real).

    Approximate tier (default): HyperLogLog++ sketches via
    ``approx_count_distinct(dst_host, rsd)``. This is the 100-TB move:
    each map task folds its rows into a FIXED-SIZE sketch (bounded by the
    register count ~1.04²/rsd², not by cardinality), sketches merge in
    the partial aggregate, and the shuffle carries one sketch per host —
    no (src_host, dst_host) distinct-pair shuffle at edge scale, which is
    what the exact tier pays. Error is a random variable with relative
    standard deviation `rsd` (not a bound — per-host error can exceed it;
    tolerance-gated in tests/test_edges.py, deliberately NOT a DuckDB
    value-oracle since sketch internals differ across engines).

    exact=True runs count(DISTINCT dst_host) instead — same output
    schema, exact values, pair-scale shuffle. Input is host_pairs(...)
    (or any (src_host, dst_host) frame)."""
    agg = (
        F.count_distinct("dst_host")
        if exact
        else F.approx_count_distinct("dst_host", rsd)
    )
    return pairs.groupBy("src_host").agg(agg.alias("reach"))


def host_edges_ids(hosts: DataFrame) -> DataFrame:
    """(src, dst, w) with xxhash64 host ids — the weighted edge table a
    host-level pagerank/labelprop consumes directly."""
    return hosts.select(
        F.xxhash64("src_host").alias("src"),
        F.xxhash64("dst_host").alias("dst"),
        "w",
    )


def out_degrees(edges: DataFrame) -> DataFrame:
    return edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("outdeg"))


def in_degrees(edges: DataFrame) -> DataFrame:
    return edges.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("indeg"))


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected view: (u,v) ∪ (v,u), distinct, self-loops dropped."""
    fwd = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    rev = edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    return fwd.unionByName(rev).where(F.col("u") != F.col("v")).distinct()


def adjacency(
    edges: DataFrame,
    P: int,
    *,
    symmetric: bool = False,
    weight: str | None = None,
) -> tuple[DataFrame, int]:
    """The persisted expansion table of ``edges(src, dst[, w])`` and its
    row count: ``(u, v[, w])`` with u = src and v = dst, self-loops
    dropped, the reverse of every edge added when ``symmetric``, one row
    per (u, v) — duplicates dropped, or their ``w`` combined by
    ``weight`` ("sum", "min" or "max").

    Every operator builds its persisted edge table here, by one rule:
    repartition on u FIRST, then dedupe or combine. hash(u) co-locates
    every (u, v) pair, so the aggregate runs in place and the build costs
    ONE E-scale exchange. The table is persisted and counted under
    ``no_aqe(P)``, so the cache reports hashpartitioning(u, P) and every
    join on u probes it in place (under AQE a cached aggregate reports
    Unknown partitioning, and each probe would re-exchange the table). It
    is persisted, not checkpointed: a checkpoint's scan reports no
    partitioning. A caller that probes by v swaps the names u and v of a
    symmetric table, which holds the same rows."""
    if weight not in (None, "sum", "min", "max"):
        raise ValueError(f"weight must be sum|min|max, got {weight!r}")
    w = [F.col("w")] if weight is not None else []
    adj = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"), *w)
    if symmetric:
        adj = adj.unionByName(adj.select(F.col("v").alias("u"), F.col("u").alias("v"), *w))
    adj = adj.where(F.col("u") != F.col("v")).repartition(P, "u")
    adj = (adj.distinct() if weight is None
           else adj.groupBy("u", "v").agg(getattr(F, weight)("w").alias("w")))
    with no_aqe(edges.sparkSession, P):
        adj = adj.persist()
        return adj, adj.count()


def canonical_undirected(edges: DataFrame) -> DataFrame:
    """Each undirected edge once as (a < b)."""
    return (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )


def bipartite_project(
    edges: DataFrame,
    left_col: str = "l",
    right_col: str = "r",
    hot_cap: int | None = None,
) -> DataFrame:
    """One-mode projection of a bipartite edge table: (l, r) pairs →
    weighted left-left edges (src < dst, w = #distinct shared right
    vertices). The universal graph constructor — user-page clicks →
    page-page co-visit graph, page-term posting lists → term
    co-occurrence, order-part baskets → the part link graph the entry's
    queries run on (mirrors __spark_entry__._co_edges with weights and a
    skew guard).

    Scale shape: a right vertex of degree d fans out into d·(d−1)/2
    pairs — THE quadratic skew hazard of any projection. `hot_cap`
    drops right vertices with degree > cap before the self-join (the
    butterflies.py declared-cap discipline; a right vertex shared by
    everyone — the "login page" — carries no pairwise signal anyway).
    With the cap, per-right fan-out is bounded by cap²/2 and the
    self-join is an equi-join on the right key; the weight aggregate
    partial-combines map-side. None = exact full projection.
    """
    e = (
        edges.select(
            F.col(left_col).alias("_l"), F.col(right_col).alias("_r")
        )
        .where(F.col(left_col).isNotNull() & F.col(right_col).isNotNull())
        .distinct()
    )
    if hot_cap is not None:
        if hot_cap < 1:
            raise ValueError(f"hot_cap must be >= 1, got {hot_cap}")
        deg = e.groupBy("_r").agg(F.count("*").alias("_d"))
        e = e.join(
            deg.where(F.col("_d") <= int(hot_cap)).select("_r"), "_r"
        )
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(
            b,
            (F.col("a._r") == F.col("b._r"))
            & (F.col("a._l") < F.col("b._l")),
        )
        .select(F.col("a._l").alias("src"), F.col("b._l").alias("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )
