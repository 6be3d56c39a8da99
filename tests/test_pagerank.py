from __future__ import annotations

import math

import pytest

from pargraph_spark.operators.edges import build_edges
from pargraph_spark.operators.extract_links import extract_links
from pargraph_spark.operators.pagerank import pagerank
from pargraph_spark.sources.pages import latest_pages
from pargraph_spark.synth import pages_df_local

from .oracles import pagerank_oracle

EDGE_SCHEMA = "src long, dst long"


def _run(spark, edges, vertices=None, **kw):
    vdf = (
        spark.createDataFrame([(v,) for v in vertices], "id long")
        if vertices is not None
        else None
    )
    edf = spark.createDataFrame(edges, EDGE_SCHEMA)
    res = pagerank(spark, edf, vdf, num_partitions=4, **kw)
    return {r["id"]: r["rank"] for r in res.ranks.collect()}, res


@pytest.mark.parametrize("mode", ["dataframe"])
def test_ring_uniform(spark, mode):
    n = 10
    edges = [(i, (i + 1) % n) for i in range(n)]
    got, res = _run(spark, edges, mode=mode)
    assert res.converged
    for v, r in got.items():
        assert math.isclose(r, 1.0 / n, abs_tol=1e-9), (v, r)
    assert abs(sum(got.values()) - 1.0) < 1e-9


@pytest.mark.parametrize("mode", ["dataframe"])
def test_star_matches_oracle(spark, mode):
    n = 11
    edges = [(i, 0) for i in range(1, n)]  # spokes -> hub; hub is dangling
    got, res = _run(spark, edges, mode=mode)
    oracle = pagerank_oracle(edges, list(range(n)))
    for v in range(n):
        assert math.isclose(got[v], oracle[v], abs_tol=1e-6), v
    assert abs(sum(got.values()) - 1.0) < 1e-6


@pytest.mark.parametrize("mode", ["dataframe"])
def test_synth_graph_matches_oracle(spark, mode):
    pages = pages_df_local(spark, 300)
    ext = extract_links(latest_pages(pages))
    edf = build_edges(ext).cache()
    edges = [(r["src"], r["dst"]) for r in edf.collect()]
    vertices = sorted({v for e in edges for v in e})
    res = pagerank(spark, edf, mode=mode, num_partitions=4, tol=1e-9)
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    oracle = pagerank_oracle(edges, vertices, tol=1e-12)
    assert set(got) == set(oracle)
    for v in vertices:
        assert math.isclose(got[v], oracle[v], abs_tol=1e-6), v
    assert res.converged
    assert res.metrics.supersteps[0].edges == len(edges)


def test_unknown_mode_raises(spark):
    # "dataframe" is the only superstep plan; any other mode is rejected
    edf = spark.createDataFrame([(1, 2)], EDGE_SCHEMA)
    for mode in ("csr", "graphblas"):
        with pytest.raises(ValueError, match=mode):
            pagerank(spark, edf, mode=mode, num_partitions=2)


def test_partition_count_invariance(spark):
    # SURVEY.md §5.2.2: results must not depend on physical partitioning
    pages = pages_df_local(spark, 150)
    ext = extract_links(latest_pages(pages))
    edf = build_edges(ext).cache()
    ranks = {}
    for parts in (1, 7):
        res = pagerank(spark, edf, mode="dataframe", num_partitions=parts, tol=1e-9)
        ranks[parts] = {r["id"]: r["rank"] for r in res.ranks.collect()}
    assert set(ranks[1]) == set(ranks[7])
    for v in ranks[1]:
        # only float-summation-order noise may differ across partitionings
        assert math.isclose(ranks[1][v], ranks[7][v], abs_tol=1e-12), v


def test_isolated_vertices_and_empty(spark):
    # extra vertices with no edges still get teleport mass
    edges = [(1, 2)]
    got, res = _run(spark, edges, vertices=[1, 2, 3, 4])
    oracle = pagerank_oracle(edges, [1, 2, 3, 4])
    for v in oracle:
        assert math.isclose(got[v], oracle[v], abs_tol=1e-9)
    empty = pagerank(
        spark, spark.createDataFrame([], EDGE_SCHEMA), num_partitions=2
    )
    assert empty.ranks.count() == 0 and empty.converged


def test_personalized_pagerank_matches_python(spark):
    import math

    from pyspark.sql import functions as F

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (7, 1)]
    verts = sorted({v for e in edges for v in e})
    seeds = [1, 2]
    edf = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(s, 1.0) for s in seeds], "id long, w double")
    res = pagerank(spark, edf, damping=0.85, tol=0.0, max_iter=12,
                   num_partitions=4, teleport=sdf)
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}

    # pure-python PPR with identical semantics
    tw = {v: (1.0 / len(seeds) if v in seeds else 0.0) for v in verts}
    outdeg = {v: 0 for v in verts}
    for s, _d in edges:
        outdeg[s] += 1
    r = dict(tw)
    for _ in range(12):
        dang = sum(r[v] for v in verts if outdeg[v] == 0)
        msg = {v: 0.0 for v in verts}
        for s, d in edges:
            msg[d] += r[s] / outdeg[s]
        r = {v: 0.15 * tw[v] + 0.85 * (msg[v] + dang * tw[v]) for v in verts}
    assert set(got) == set(r)
    for v in verts:
        assert math.isclose(got[v], r[v], abs_tol=1e-12), v
    # PPR conserves mass and concentrates rank near the seeds
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-9)
    uniform = pagerank(spark, edf, damping=0.85, tol=0.0, max_iter=12,
                       num_partitions=4)
    gu = {x["id"]: x["rank"] for x in uniform.ranks.collect()}
    assert got[1] + got[2] > gu[1] + gu[2]


def test_weighted_pagerank_matches_python(spark):
    import math

    edges = [(1, 2, 3.0), (1, 3, 1.0), (2, 3, 2.0), (3, 1, 1.0), (4, 1, 5.0)]
    verts = sorted({v for s, d, _ in edges for v in (s, d)})
    edf = spark.createDataFrame(edges, "src long, dst long, w double")
    res = pagerank(spark, edf, damping=0.85, tol=0.0, max_iter=10,
                   num_partitions=4, weight_col="w")
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}

    outw = {v: 0.0 for v in verts}
    for s, _d, w in edges:
        outw[s] += w
    n = len(verts)
    r = {v: 1.0 / n for v in verts}
    for _ in range(10):
        dang = sum(r[v] for v in verts if outw[v] == 0)
        msg = {v: 0.0 for v in verts}
        for s, d, w in edges:
            msg[d] += (r[s] / outw[s]) * w
        r = {v: 0.15 * (1.0 / n) + 0.85 * (msg[v] + dang * (1.0 / n)) for v in verts}
    for v in verts:
        assert math.isclose(got[v], r[v], abs_tol=1e-12), v
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-9)
    # duplicate edges combine by summing weights
    dup = spark.createDataFrame(edges + [(1, 2, 1.0)], "src long, dst long, w double")
    res2 = pagerank(spark, dup, damping=0.85, tol=0.0, max_iter=10,
                    num_partitions=4, weight_col="w")
    merged = spark.createDataFrame(
        [(1, 2, 4.0)] + [e for e in edges if (e[0], e[1]) != (1, 2)],
        "src long, dst long, w double",
    )
    res3 = pagerank(spark, merged, damping=0.85, tol=0.0, max_iter=10,
                    num_partitions=4, weight_col="w")
    g2 = {r["id"]: r["rank"] for r in res2.ranks.collect()}
    g3 = {r["id"]: r["rank"] for r in res3.ranks.collect()}
    for v in verts:
        assert math.isclose(g2[v], g3[v], abs_tol=1e-12), v


def test_ppr_unknown_teleport_id_keeps_mass(spark):
    # ADVICE r2: teleport weight on an id absent from the graph must not
    # leak rank mass — normalization intersects with the vertex set first
    n = 8
    edges = [(i, (i + 1) % n) for i in range(n)]
    edf = spark.createDataFrame(edges, EDGE_SCHEMA)
    seeds = spark.createDataFrame([(0, 1.0), (999, 5.0)], "id long, w double")
    res = pagerank(spark, edf, teleport=seeds, num_partitions=4,
                   max_iter=30, tol=1e-10)
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-6
    seeds2 = spark.createDataFrame([(0, 1.0)], "id long, w double")
    res2 = pagerank(spark, edf, teleport=seeds2, num_partitions=4,
                    max_iter=30, tol=1e-10)
    got2 = {r["id"]: r["rank"] for r in res2.ranks.collect()}
    for v in got:
        assert math.isclose(got[v], got2[v], abs_tol=1e-9), v


def test_ppr_rejected_teleport_leaves_nothing_cached(spark):
    # teleport weight only on ids absent from the graph sums to zero and
    # raises; the edge and vertex tables persisted before that check are
    # released first
    edf = spark.createDataFrame([(0, 1), (1, 2)], EDGE_SCHEMA)
    seeds = spark.createDataFrame([(999, 1.0)], "id long, w double")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    with pytest.raises(ValueError, match="teleport"):
        pagerank(spark, edf, teleport=seeds, num_partitions=4)
    assert set(jsc.getPersistentRDDs().keys()) == before
