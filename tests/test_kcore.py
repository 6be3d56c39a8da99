"""k-core peel vs pure-python oracle."""

from __future__ import annotations

import random

import pytest

from pargraph_spark.operators.kcore import kcore

EDGE_SCHEMA = "src long, dst long"


def _py_kcore(edges, k):
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    changed = True
    while changed:
        changed = False
        for v in list(adj):
            if len(adj[v]) < k:
                for n in adj[v]:
                    adj[n].discard(v)
                del adj[v]
                changed = True
    return {v: len(ns) for v, ns in adj.items()}


def _run(spark, edges, k, **kw):
    edf = spark.createDataFrame(edges, EDGE_SCHEMA)
    res = kcore(spark, edf, k, num_partitions=4, **kw)
    return {r["id"]: r["deg"] for r in res.vertices.collect()}, res


def test_triangle_plus_tail(spark):
    # triangle (2-core) with a dangling tail that peels away
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)]
    got, res = _run(spark, edges, 2)
    assert got == {0: 2, 1: 2, 2: 2}
    assert res.rounds >= 1


def test_whole_graph_survives_k1(spark):
    edges = [(0, 1), (1, 2)]
    got, _ = _run(spark, edges, 1)
    assert got == {0: 1, 1: 2, 2: 1}


def test_empty_core(spark):
    edges = [(0, 1), (1, 2), (2, 3)]  # path: no 2-core
    got, _ = _run(spark, edges, 2)
    assert got == {}


@pytest.mark.parametrize("k", [2, 3, 4])
def test_random_graph_matches_python(spark, k):
    rng = random.Random(7)
    n = 60
    edges = list({(rng.randrange(n), rng.randrange(n)) for _ in range(220)})
    got, _ = _run(spark, edges, k)
    assert got == _py_kcore(edges, k)


def test_validates_k(spark):
    edf = spark.createDataFrame([(0, 1)], EDGE_SCHEMA)
    with pytest.raises(ValueError, match="k >= 1"):
        kcore(spark, edf, 0)


# ---------- core_numbers (full decomposition, H-index fixpoint) ----------


def _py_core_numbers(edges):
    """Textbook peel: repeatedly remove a min-degree vertex; coreness =
    running max of the degree observed at removal time."""
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    core: dict[int, int] = {}
    k = 0
    while adj:
        v = min(adj, key=lambda x: len(adj[x]))
        k = max(k, len(adj[v]))
        core[v] = k
        for n in adj[v]:
            adj[n].discard(v)
        del adj[v]
    return core


def test_core_numbers_small_known(spark):
    # triangle {1,2,3} (coreness 2) + tail 3-4-5 (coreness 1)
    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    from pargraph_spark.operators.kcore import core_numbers

    res = core_numbers(spark, spark.createDataFrame(edges, EDGE_SCHEMA),
                       num_partitions=4)
    got = {r["id"]: r["core"] for r in res.cores.collect()}
    assert got == {1: 2, 2: 2, 3: 2, 4: 1, 5: 1}
    assert res.converged


@pytest.mark.parametrize("seed,n,m", [(7, 40, 120), (13, 60, 90), (29, 25, 200)])
def test_core_numbers_random_vs_python_oracle(spark, seed, n, m):
    rng = random.Random(seed)
    edges = list({(rng.randrange(n), rng.randrange(n)) for _ in range(m)})
    edges = [(s, d) for s, d in edges if s != d]
    from pargraph_spark.operators.kcore import core_numbers

    res = core_numbers(spark, spark.createDataFrame(edges, EDGE_SCHEMA),
                       num_partitions=4)
    got = {r["id"]: r["core"] for r in res.cores.collect()}
    assert got == _py_core_numbers(edges)
    assert res.converged


def test_core_numbers_fixed_rounds_identity_past_fixpoint(spark):
    # fixed_rounds beyond the fixpoint must equal the adaptive result —
    # the property the unrolled DuckDB oracle relies on
    rng = random.Random(3)
    edges = [(s, d) for s, d in
             {(rng.randrange(30), rng.randrange(30)) for _ in range(90)}
             if s != d]
    from pargraph_spark.operators.kcore import core_numbers

    edf = spark.createDataFrame(edges, EDGE_SCHEMA)
    adaptive = core_numbers(spark, edf, num_partitions=4)
    fixed = core_numbers(spark, edf, num_partitions=4,
                         fixed_rounds=adaptive.rounds + 2)
    a = {r["id"]: r["core"] for r in adaptive.cores.collect()}
    f = {r["id"]: r["core"] for r in fixed.cores.collect()}
    assert a == f
    assert not fixed.converged  # fixed mode never claims convergence


# ------------------------- s-core (weighted peel) -------------------------


def _py_score(wedges, s):
    adj: dict[int, dict[int, int]] = {}
    for u, v, w in wedges:
        if u == v:
            continue
        cur = adj.setdefault(u, {}).get(v)
        adj[u][v] = max(w, cur) if cur is not None else w
        cur = adj.setdefault(v, {}).get(u)
        adj[v][u] = max(w, cur) if cur is not None else w
    changed = True
    while changed:
        changed = False
        for v in list(adj):
            if sum(adj[v].values()) < s:
                for n in adj[v]:
                    del adj[n][v]
                del adj[v]
                changed = True
    return {v: sum(ws.values()) for v, ws in adj.items()}


@pytest.mark.parametrize("seed,s", [(3, 5), (9, 12)])
def test_score_core_random_vs_python(spark, seed, s):
    from pargraph_spark.operators.kcore import score_core

    rng = random.Random(seed)
    wedges = [(rng.randrange(25), rng.randrange(25), rng.randrange(1, 6))
              for _ in range(120)]
    wedges = [(u, v, w) for u, v, w in wedges if u != v]
    res = score_core(
        spark, spark.createDataFrame(wedges, "src long, dst long, w long"),
        s, num_partitions=4)
    got = {r["id"]: r["strength"] for r in res.vertices.collect()}
    assert got == _py_score(wedges, s)


def test_peels_stop_at_max_rounds(spark):
    # a path of 20 vertices peels its two ends per round: cut after 3
    # rounds, the result is the superset still standing
    edges = [(i, i + 1) for i in range(19)]
    got, res = _run(spark, edges, 2, max_rounds=3)
    assert (res.rounds, res.converged) == (3, False)
    assert got == {3: 1, 16: 1, **{v: 2 for v in range(4, 16)}}
    # the triangle's tail goes in two rounds; the third removes nothing
    # and is not counted
    _, res = _run(spark, [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)], 2)
    assert (res.rounds, res.converged) == (2, True)
    assert len(res.metrics.supersteps) == 3


@pytest.mark.parametrize("op", ["kcore", "score_core", "densest"])
def test_peel_leaves_only_its_result_cached(spark, op):
    from pargraph_spark.operators.densest import densest_subgraph
    from pargraph_spark.operators.kcore import score_core

    rng = random.Random(3)
    edges = list({(rng.randrange(40), rng.randrange(40), 1) for _ in range(150)})
    e = spark.createDataFrame(edges, "src long, dst long, w long")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    if op == "kcore":
        out = kcore(spark, e, 4, num_partitions=4).vertices
    elif op == "score_core":
        out = score_core(spark, e, 4, num_partitions=4).vertices
    else:
        out = densest_subgraph(spark, e, num_partitions=4).vertices
    assert len(set(jsc.getPersistentRDDs().keys()) - before) == 1
    assert out.count() > 0
