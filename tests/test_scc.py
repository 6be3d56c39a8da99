"""SCC + bowtie vs the iterative-Tarjan / BFS-closure oracles."""

from __future__ import annotations

import random

import pytest

from pargraph_spark.operators.scc import (
    bowtie_classify,
    strongly_connected_components,
)
from pargraph_spark.session import _query_execution
from tests.oracles import bowtie_oracle, scc_oracle
from tests.test_fixpoint import _jobs


def _edges_df(spark, edges):
    return spark.createDataFrame(edges, "src long, dst long")


def _random_digraph(seed: int, n: int, m: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    es = set()
    while len(es) < m:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            es.add((a, b))
    return sorted(es)


def _verts(edges):
    return sorted({v for e in edges for v in e})


def test_scc_handcrafted(spark):
    # two 3-cycles bridged 3->4, a feeder 7->1, a sink 6->8
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4),
             (7, 1), (6, 8)]
    res = strongly_connected_components(spark, _edges_df(spark, edges))
    got = {r["id"]: r["scc"] for r in res.components.collect()}
    assert got == scc_oracle(edges, _verts(edges))
    assert res.converged


def test_scc_single_cycle_and_dag(spark):
    # pure cycle: one SCC; pure DAG: all singletons (trim handles it all)
    cyc = [(i, (i + 1) % 6) for i in range(6)]
    res = strongly_connected_components(spark, _edges_df(spark, cyc))
    got = {r["id"]: r["scc"] for r in res.components.collect()}
    assert got == {i: 0 for i in range(6)}

    dag = [(1, 2), (2, 3), (1, 3), (3, 4)]
    res = strongly_connected_components(spark, _edges_df(spark, dag))
    got = {r["id"]: r["scc"] for r in res.components.collect()}
    assert got == {i: i for i in (1, 2, 3, 4)}
    assert res.converged


def _checkpoint_rdd(df) -> int:
    return _query_execution(df).logical().rdd().id()


def _cycle(n):
    return [(i, (i + 1) % n) for i in range(n)]


def test_scc_cache_does_not_grow_with_coloring_rounds(spark):
    # a cycle of n vertices takes n coloring and n sweep rounds; each call
    # adds ONE persistent RDD, the result's checkpoint: every round state,
    # edge copy and vertex table it made is freed before it returns
    jsc = spark.sparkContext._jsc
    for n in (5, 40):
        before = set(jsc.getPersistentRDDs().keys())
        res = strongly_connected_components(spark, _edges_df(spark, _cycle(n)))
        added = set(jsc.getPersistentRDDs().keys()) - before
        assert added == {_checkpoint_rdd(res.components)}, n
        assert {r["id"]: r["scc"] for r in res.components.collect()} == {i: 0 for i in range(n)}


def test_scc_inner_rounds_run_one_job_each(spark):
    # an n-cycle takes n coloring and n sweep rounds (the last changes
    # nothing); a path of n vertices loses both ends per trim round
    def jobs(edges):
        return _jobs(spark, lambda: strongly_connected_components(
            spark, _edges_df(spark, edges), num_partitions=4))[1]

    assert jobs(_cycle(9)) == jobs(_cycle(8)) + 2
    path = [(i, i + 1) for i in range(11)]
    assert jobs(path) == jobs(path[:-2]) + 1


def test_condensation_round_runs_one_job(spark):
    from pargraph_spark.operators.scc import condensation_layers

    # a chain of k 2-cycles has k - 1 layering rounds (plus the one that
    # changes nothing); the SCC table is given, so only the layering runs
    def jobs(k):
        edges = ([(2 * i, 2 * i + 1) for i in range(k)]
                 + [(2 * i + 1, 2 * i) for i in range(k)]
                 + [(2 * i + 1, 2 * i + 2) for i in range(k - 1)])
        scc = spark.createDataFrame([(v, v - v % 2) for v in range(2 * k)],
                                    "id long, scc long")
        res, n = _jobs(spark, lambda: condensation_layers(
            spark, _edges_df(spark, edges), scc=scc, num_partitions=4))
        assert res.converged and res.rounds == k - 1
        return n

    assert jobs(5) == jobs(4) + 1


@pytest.mark.parametrize("seed,n,m", [(7, 40, 90), (11, 60, 200), (13, 50, 60)])
def test_scc_random_vs_tarjan(spark, seed, n, m):
    edges = _random_digraph(seed, n, m)
    res = strongly_connected_components(spark, _edges_df(spark, edges))
    got = {r["id"]: r["scc"] for r in res.components.collect()}
    assert got == scc_oracle(edges, _verts(edges))
    assert res.converged


def test_scc_explicit_isolated_vertices(spark):
    edges = [(1, 2), (2, 1)]
    verts = spark.createDataFrame([(1,), (2,), (9,)], "id long")
    res = strongly_connected_components(spark, _edges_df(spark, edges), verts)
    got = {r["id"]: r["scc"] for r in res.components.collect()}
    assert got == {1: 1, 2: 1, 9: 9}


def test_bowtie_handcrafted(spark):
    # core cycle {10,11,12}; IN chain 2->1->10; OUT chain 12->20->21;
    # tube 1->30->20; tendril-off-IN 1->40; tendril-into-OUT 50->20;
    # disconnected pair 60->61
    edges = [(10, 11), (11, 12), (12, 10),
             (2, 1), (1, 10),
             (12, 20), (20, 21),
             (1, 30), (30, 20),
             (1, 40),
             (50, 20),
             (60, 61)]
    expect = bowtie_oracle(edges, _verts(edges))
    assert expect[30] == "TUBES" and expect[40] == "TENDRILS"
    assert expect[50] == "TENDRILS" and expect[60] == "DISCONNECTED"
    got = {r["id"]: r["region"] for r in
           bowtie_classify(spark, _edges_df(spark, edges)).collect()}
    assert got == expect


@pytest.mark.parametrize("seed,n,m", [(3, 40, 70), (5, 50, 140)])
def test_bowtie_random_vs_oracle(spark, seed, n, m):
    edges = _random_digraph(seed, n, m)
    got = {r["id"]: r["region"] for r in
           bowtie_classify(spark, _edges_df(spark, edges)).collect()}
    assert got == bowtie_oracle(edges, _verts(edges))


def test_bowtie_accepts_precomputed_scc(spark):
    # bowtie adds ONE persistent RDD, its result's checkpoint, whether it
    # runs SCC itself or is given the caller's SCC table (left cached)
    edges = [(10, 11), (11, 12), (12, 10), (1, 10), (12, 20)]
    e = _edges_df(spark, edges)
    jsc = spark.sparkContext._jsc
    scc = strongly_connected_components(spark, e).components
    for given in (None, scc):
        before = set(jsc.getPersistentRDDs().keys())
        out = bowtie_classify(spark, e, scc=given)
        added = set(jsc.getPersistentRDDs().keys()) - before
        assert added == {_checkpoint_rdd(out)}, given is None
        assert _checkpoint_rdd(scc) in jsc.getPersistentRDDs()
        got = {r["id"]: r["region"] for r in out.collect()}
        assert got == bowtie_oracle(edges, _verts(edges))


def test_condensation_layers_vs_oracle(spark):
    from pargraph_spark.operators.scc import condensation_layers

    # two 2-cycles chained plus a tail: {0,1} -> {2,3} -> 4 -> 5
    edges = [(0, 1), (1, 0), (0, 2), (2, 3), (3, 2), (3, 4), (4, 5)]
    res = condensation_layers(
        spark, spark.createDataFrame(edges, "src long, dst long"),
        num_partitions=4,
    )
    got = {(r["id"], r["scc"], r["layer"]) for r in res.layers.collect()}
    want = {(0, 0, 0), (1, 0, 0), (2, 2, 1), (3, 2, 1), (4, 4, 2), (5, 5, 3)}
    assert got == want
    ce = {(r["csrc"], r["cdst"]) for r in res.comp_edges.collect()}
    assert ce == {(0, 2), (2, 4), (4, 5)}
    assert res.converged and res.rounds == 3


def test_condensation_layers_random_vs_brute(spark):
    import random
    from collections import defaultdict

    from pargraph_spark.operators.scc import condensation_layers

    rng = random.Random(31)
    n, m = 40, 120
    edges = [(a, b) for a, b in {(rng.randrange(n), rng.randrange(n))
                                 for _ in range(m)} if a != b]
    comps = scc_oracle(edges, sorted({v for e in edges for v in e}))
    ce = {(comps[a], comps[b]) for a, b in edges if comps[a] != comps[b]}
    preds = defaultdict(set)
    for a, b in ce:
        preds[b].add(a)
    cs = sorted(set(comps.values()))
    layer = {c: 0 for c in cs}
    for _ in range(len(cs)):
        nl = {c: max([layer[p] + 1 for p in preds[c]], default=0) for c in cs}
        nl = {c: max(layer[c], nl[c]) for c in cs}
        if nl == layer:
            break
        layer = nl
    res = condensation_layers(
        spark, spark.createDataFrame(edges, "src long, dst long"),
        num_partitions=4,
    )
    got = {r["id"]: (r["scc"], r["layer"]) for r in res.layers.collect()}
    for v, c in comps.items():
        assert got[v] == (c, layer[c]), v


def test_scc_raises_on_inner_truncation(spark):
    import pytest

    from pargraph_spark.operators.scc import strongly_connected_components

    # 12-cycle with max_inner=5: min-label propagation cannot reach
    # fixpoint — a truncated run used to SILENTLY fragment the cycle
    # into singletons with converged=True
    n = 12
    e = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="max_inner"):
        strongly_connected_components(spark, e, max_inner=5)
    # with enough rounds the cycle is one SCC
    res = strongly_connected_components(spark, e, max_inner=50)
    comps = {r["scc"] for r in res.components.collect()}
    assert comps == {0} and res.converged


def test_scc_max_outer_leftovers_are_reported(spark):
    from pargraph_spark.operators.scc import strongly_connected_components

    # two 2-cycles in a chain need two outer rounds; max_outer=1 must
    # still return a row for EVERY vertex, flagged not-converged
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 4), (4, 3)], "src long, dst long"
    )
    res = strongly_connected_components(spark, e, max_outer=1)
    got = {r["id"]: r["scc"] for r in res.components.collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[1] == got[2] == 1
    # the unfinished pair keeps provisional self-ids, and the flag says so
    assert got[3] == 3 and got[4] == 4
    assert res.converged is False
    full = strongly_connected_components(spark, e)
    assert {r["id"]: r["scc"] for r in full.components.collect()} == {
        1: 1, 2: 1, 3: 3, 4: 3,
    }
