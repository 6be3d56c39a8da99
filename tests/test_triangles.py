from __future__ import annotations

import random

import pytest

from pargraph_spark.operators.edges import build_edges
from pargraph_spark.operators.extract_links import extract_links
from pargraph_spark.operators import triangles
from pargraph_spark.operators.triangles import triangle_count
from pargraph_spark.sources.pages import latest_pages
from pargraph_spark.synth import pages_df_local

from .oracles import triangles_oracle
from .test_fixpoint import _jobs

EDGE_SCHEMA = "src long, dst long"


def test_cliques_closed_form(spark):
    # 3 disjoint 5-cliques: 3 * C(5,3) = 30 triangles, 6 per vertex
    edges = []
    for k in range(3):
        base = k * 100
        for i in range(5):
            for j in range(i + 1, 5):
                edges.append((base + i, base + j))
    res = triangle_count(spark, spark.createDataFrame(edges, EDGE_SCHEMA))
    assert res.total == 30
    per = {r["id"]: r["tri"] for r in res.per_vertex.collect()}
    assert all(v == 6 for v in per.values()) and len(per) == 15


@pytest.mark.parametrize("op", ["triangle_count", "triangles_per_vertex",
                                "triangles_global", "clustering_coefficient"])
def test_triangle_count_plan_is_the_same_on_every_call(spark, op):
    # the oriented edges are checkpointed without AQE (and triangle_count
    # runs its whole call without it), so the plan does not depend on which
    # query stage finishes first: the same graph takes the same number of
    # jobs on every call
    rng = random.Random(7)
    edges = spark.createDataFrame(
        sorted({(rng.randrange(90), rng.randrange(100)) for _ in range(300)}),
        EDGE_SCHEMA)
    fn = getattr(triangles, op)
    if op == "triangle_count":
        def call():
            return fn(spark, edges).total
    else:
        def call():
            return sorted(map(tuple, fn(edges).collect()))
    runs = [_jobs(spark, call) for _ in range(6)]
    assert len({jobs for _, jobs in runs}) == 1, [jobs for _, jobs in runs]
    assert all(res == runs[0][0] for res, _ in runs)


def test_direction_and_dup_insensitive(spark):
    # triangle given with mixed directions + duplicates + self-loop
    edges = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (3, 3), (4, 1)]
    res = triangle_count(spark, spark.createDataFrame(edges, EDGE_SCHEMA))
    assert res.total == 1
    per = {r["id"]: r["tri"] for r in res.per_vertex.collect()}
    assert per == {1: 1, 2: 1, 3: 1}


def test_synth_graph_matches_oracle(spark):
    pages = pages_df_local(spark, 300)
    ext = extract_links(latest_pages(pages))
    edf = build_edges(ext).cache()
    edges = [(r["src"], r["dst"]) for r in edf.collect()]
    total, per = triangles_oracle(edges)
    res = triangle_count(spark, edf)
    assert res.total == total
    got = {r["id"]: r["tri"] for r in res.per_vertex.collect()}
    assert got == per
    assert total > 0, "fixture should contain triangles"


def test_clustering_coefficient_matches_python(spark):
    from pargraph_spark.operators.triangles import clustering_coefficient

    # K4 plus a pendant: K4 members have lcc 1 except the one with the
    # pendant (deg 4, 3 triangles -> 0.5); pendant deg 1 -> 0.0
    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["lcc"] for r in clustering_coefficient(edf).collect()}
    assert got[0] == got[1] == got[2] == 1.0
    assert got[3] == 2.0 * 3 / (4 * 3)
    assert got[4] == 0.0


# ------------------------------ k-truss ------------------------------


def _py_ktruss(edges, k):
    und = {tuple(sorted((s, d))) for s, d in edges if s != d}
    while True:
        adj = {}
        for a, b in und:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        sup = {e: len(adj[e[0]] & adj[e[1]]) for e in und}
        drop = {e for e, c in sup.items() if c < k - 2}
        if not drop:
            return {(a, b): sup[(a, b)] for a, b in und}
        und -= drop
        if not und:
            return {}


def test_ktruss_clique_plus_tail(spark):
    from pargraph_spark.operators.triangles import ktruss

    # K5 (every edge in 3 triangles -> 5-truss) + a tail that peels away
    clique = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    edges = clique + [(4, 10), (10, 11)]
    res = ktruss(spark, spark.createDataFrame(edges, "src long, dst long"),
                 k=5, num_partitions=4)
    got = {(r["a"], r["b"]): r["support"] for r in res.edges.collect()}
    assert got == {(i, j): 3 for i in range(5) for j in range(i + 1, 5)}


@pytest.mark.parametrize("seed,k", [(3, 3), (11, 4)])
def test_ktruss_random_vs_python(spark, seed, k):
    from pargraph_spark.operators.triangles import ktruss

    rng = random.Random(seed)
    edges = [(s, d) for s, d in
             {(rng.randrange(25), rng.randrange(25)) for _ in range(140)}
             if s != d]
    res = ktruss(spark, spark.createDataFrame(edges, "src long, dst long"),
                 k=k, num_partitions=4)
    got = {(r["a"], r["b"]): r["support"] for r in res.edges.collect()}
    assert got == _py_ktruss(edges, k)


def test_ktruss_cascade_rounds_metric(spark):
    # seed 11 / k=4 cascades for 9 peel rounds (python mirror); ktruss
    # reports the truss decomposition's rounds, which on this graph lowers
    # an estimate in 8 — the terminal identity round is not counted
    # (kcore/score_core semantics)
    from pargraph_spark.operators.triangles import ktruss

    rng = random.Random(11)
    edges = [(s, d) for s, d in
             {(rng.randrange(25), rng.randrange(25)) for _ in range(140)}
             if s != d]
    res = ktruss(spark, spark.createDataFrame(edges, "src long, dst long"),
                 k=4, num_partitions=4)
    assert {(r["a"], r["b"]): r["support"] for r in res.edges.collect()} == \
        _py_ktruss(edges, 4)
    assert res.converged
    assert res.rounds == 8, res.rounds


def test_ktruss_rounds_are_the_decompositions(spark):
    # ktruss(k) filters truss_numbers: same rounds, and it says whether
    # the decomposition converged (a cut one gives a superset)
    from pargraph_spark.operators.triangles import ktruss, truss_numbers

    rng = random.Random(3)
    edges = [(s, d) for s, d in
             {(rng.randrange(25), rng.randrange(25)) for _ in range(140)}
             if s != d]
    edf = spark.createDataFrame(edges, "src long, dst long")
    res = ktruss(spark, edf, k=3, num_partitions=4)
    tn = truss_numbers(spark, edf, num_partitions=4)
    assert res.converged and tn.converged
    assert res.rounds == tn.rounds > 0


def _py_trussness(edges):
    """Direct truss decomposition by repeated peel: truss(e) = largest k
    with e in the k-truss. Every edge is in the 2-truss by convention."""
    und = {tuple(sorted((s, d))) for s, d in edges if s != d}
    truss = {e: 2 for e in und}
    k = 3
    cur = set(und)
    while cur:
        # peel to the k-truss
        while True:
            adj = {}
            for a, b in cur:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
            drop = {e for e in cur if len(adj[e[0]] & adj[e[1]]) < k - 2}
            if not drop:
                break
            cur -= drop
        for e in cur:
            truss[e] = k
        k += 1
    return truss


@pytest.mark.parametrize("seed", [3, 11])
def test_truss_numbers_match_peel_mirror(spark, seed):
    # h-index fixpoint on triangle supports == direct peel trussness
    from pargraph_spark.operators.triangles import truss_numbers

    rng = random.Random(seed)
    edges = [(s, d) for s, d in
             {(rng.randrange(22), rng.randrange(22)) for _ in range(130)}
             if s != d]
    res = truss_numbers(spark, spark.createDataFrame(edges, "src long, dst long"),
                        num_partitions=4)
    assert res.converged
    got = {(r["a"], r["b"]): r["truss"] for r in res.trussness.collect()}
    assert got == _py_trussness(edges)


def test_truss_numbers_clique_plus_tail(spark):
    # K5 edges have trussness 5; the pendant tail edge has trussness 2
    from itertools import combinations

    from pargraph_spark.operators.triangles import truss_numbers

    edges = list(combinations(range(5), 2)) + [(4, 99)]
    res = truss_numbers(spark, spark.createDataFrame(edges, "src long, dst long"),
                        num_partitions=4)
    got = {(r["a"], r["b"]): r["truss"] for r in res.trussness.collect()}
    for a, b in combinations(range(5), 2):
        assert got[(a, b)] == 5
    assert got[(4, 99)] == 2


def test_truss_numbers_fixed_rounds_identity_past_fixpoint(spark):
    # fixed_rounds past convergence equals the converged decomposition
    # (the driver-oracle contract), and never runs convergence jobs
    from pargraph_spark.operators.triangles import truss_numbers

    rng = random.Random(7)
    edges = [(s, d) for s, d in
             {(rng.randrange(16), rng.randrange(16)) for _ in range(70)}
             if s != d]
    df = spark.createDataFrame(edges, "src long, dst long")
    full = truss_numbers(spark, df, num_partitions=4)
    assert full.converged
    fixed = truss_numbers(spark, df, num_partitions=4,
                          fixed_rounds=full.rounds + 2)
    assert not fixed.converged  # nothing checked it, by design
    want = {(r["a"], r["b"]): r["truss"] for r in full.trussness.collect()}
    got = {(r["a"], r["b"]): r["truss"] for r in fixed.trussness.collect()}
    assert got == want


def test_truss_numbers_size_estimate_stays_bounded(spark):
    # each round's checkpoint carries its plan's size estimate into the
    # next round; a join of the state with a table derived from it
    # multiplies it (Spark estimates a join as a product), which grew it
    # past what py4j converts (over 4,300 digits) within 12 rounds
    from pargraph_spark.operators.triangles import truss_numbers
    from pargraph_spark.session import _query_execution

    rng = random.Random(11)
    edges = [(s, d) for s, d in
             {(rng.randrange(25), rng.randrange(25)) for _ in range(140)}
             if s != d]
    res = truss_numbers(spark, spark.createDataFrame(edges, "src long, dst long"),
                        num_partitions=4, fixed_rounds=12)
    size = _query_execution(res.trussness).optimizedPlan().stats().sizeInBytes()
    assert len(str(size)) < 40
