from __future__ import annotations

import pytest

from pargraph_spark.operators.components import connected_components
from pargraph_spark.operators.edges import build_edges
from pargraph_spark.operators.extract_links import extract_links
from pargraph_spark.sources.pages import latest_pages
from pargraph_spark.synth import pages_df_local

from .oracles import components_oracle

EDGE_SCHEMA = "src long, dst long"


def _cc(spark, edges, vertices=None):
    edf = spark.createDataFrame(edges, EDGE_SCHEMA)
    vdf = (
        spark.createDataFrame([(v,) for v in vertices], "id long")
        if vertices is not None
        else None
    )
    res = connected_components(spark, edf, vdf, num_partitions=4)
    assert res.converged
    return {r["id"]: r["component"] for r in res.components.collect()}, res


def test_disjoint_cliques(spark):
    # 3 disjoint 5-cliques (both directions) -> 3 components, min-id labels
    edges = []
    for k in range(3):
        base = k * 100
        for i in range(5):
            for j in range(5):
                if i != j:
                    edges.append((base + i, base + j))
    got, res = _cc(spark, edges)
    verts = sorted({v for e in edges for v in e})
    assert got == components_oracle(edges, verts)
    assert len(set(got.values())) == 3
    assert set(got.values()) == {0, 100, 200}


def test_chain_and_selfloops_dups(spark):
    # path of 8 + self-loops + duplicate edges + isolated vertex
    edges = [(i, i + 1) for i in range(7)] + [(3, 3), (5, 5), (0, 1), (1, 0)]
    got, _ = _cc(spark, edges, vertices=list(range(8)) + [99])
    oracle = components_oracle([(a, b) for a, b in edges if a != b], list(range(8)) + [99])
    assert got == oracle
    assert got[99] == 99 and got[7] == 0


def test_long_path_logarithmic_rounds(spark):
    n = 64
    edges = [(i, i + 1) for i in range(n - 1)]
    got, res = _cc(spark, edges)
    assert set(got.values()) == {0}
    # O(log n) rounds is the point of small-star/large-star (not O(diameter))
    assert res.rounds <= 12, res.rounds


def test_synth_graph_matches_oracle(spark):
    pages = pages_df_local(spark, 300)
    ext = extract_links(latest_pages(pages))
    edf = build_edges(ext).cache()
    edges = [(r["src"], r["dst"]) for r in edf.collect()]
    verts = sorted({v for e in edges for v in e})
    res = connected_components(spark, edf, num_partitions=4)
    assert res.converged
    got = {r["id"]: r["component"] for r in res.components.collect()}
    assert got == components_oracle(edges, verts)


@pytest.mark.parametrize("parts", [1, 7])
def test_partition_count_invariance(spark, parts):
    edges = [(i, (i * 7 + 3) % 40) for i in range(40)] + [(100, 101)]
    edf = spark.createDataFrame(edges, EDGE_SCHEMA)
    res = connected_components(spark, edf, num_partitions=parts)
    got = {r["id"]: r["component"] for r in res.components.collect()}
    verts = sorted({v for e in edges for v in e})
    assert got == components_oracle(edges, verts)


def test_incremental_cc_warm_start_over_append(spark):
    # VERDICT r4 #6: warm-started CC over (old components + appended
    # edges) must equal a cold run over the union graph, in fewer rounds.
    from pyspark.sql import functions as F

    from pargraph_spark.operators.components import (
        connected_components_incremental,
    )

    # old graph: two long paths (0..29) and (100..129) — high diameter,
    # so the cold run needs several star rounds
    old = [(i, i + 1) for i in range(29)] + [(100 + i, 101 + i) for i in range(29)]
    # append: a bridge merging the two paths + a brand-new vertex pair
    new = [(29, 100), (500, 501)]
    old_df = spark.createDataFrame(old, "src long, dst long")
    new_df = spark.createDataFrame(new, "src long, dst long")

    prev = connected_components(spark, old_df, num_partitions=4)
    assert prev.converged
    warm = connected_components_incremental(spark, prev.components, new_df,
                                            num_partitions=4)
    cold = connected_components(spark, old_df.unionByName(new_df),
                                num_partitions=4)
    assert warm.converged and cold.converged
    gw = {r["id"]: r["component"] for r in warm.components.collect()}
    gc = {r["id"]: r["component"] for r in cold.components.collect()}
    assert gw == gc
    # the old structure is pre-collapsed: strictly fewer rounds than cold
    assert warm.rounds < cold.rounds, (warm.rounds, cold.rounds)


def test_cc_leaves_only_its_result_cached(spark):
    # the call adds ONE persistent RDD, the result's checkpoint: the final
    # star-forest state is freed with its checkpoint RDD, not just
    # unpersisted as a DataFrame (which leaves checkpoint blocks cached)
    from pargraph_spark.session import _query_execution

    edges = [(i, i + 1) for i in range(30)] + [(100 + i, 101 + i) for i in range(10)]
    edf = spark.createDataFrame(edges, EDGE_SCHEMA)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    res = connected_components(spark, edf, num_partitions=4)
    added = set(jsc.getPersistentRDDs().keys()) - before
    assert res.converged
    assert added == {_query_execution(res.components).logical().rdd().id()}
    verts = sorted({v for e in edges for v in e})
    got = {r["id"]: r["component"] for r in res.components.collect()}
    assert got == components_oracle(edges, verts)
