from __future__ import annotations

import random
from collections import defaultdict
from itertools import combinations

from pargraph_spark.operators.butterflies import bitruss, butterfly_counts

EDGE_SCHEMA = "src long, dst long"


def _bf_oracle(edges, cap=None):
    nbr = defaultdict(set)   # right -> lefts
    for u, w in set(edges):
        nbr[w].add(u)
    if cap is not None:
        nbr = {w: s for w, s in nbr.items() if len(s) <= cap}
    c = defaultdict(int)
    for w, lefts in nbr.items():
        for a, b in combinations(sorted(lefts), 2):
            c[(a, b)] += 1
    per = {(a, b): (k, k * (k - 1) // 2) for (a, b), k in c.items() if k >= 2}
    total = sum(bf for _, bf in per.values())
    return total, per


def test_butterfly_square(spark):
    # K(2,2) = exactly one butterfly
    edges = [(1, 10), (1, 11), (2, 10), (2, 11)]
    res = butterfly_counts(spark.createDataFrame(edges, EDGE_SCHEMA))
    assert res.total == 1
    rows = res.per_pair.collect()
    assert len(rows) == 1 and (rows[0]["a"], rows[0]["b"], rows[0]["c"], rows[0]["bf"]) == (1, 2, 2, 1)


def test_butterfly_k23(spark):
    # K(2,3): C(3,2) = 3 butterflies on the single left pair
    edges = [(a, w) for a in (1, 2) for w in (10, 11, 12)]
    res = butterfly_counts(spark.createDataFrame(edges, EDGE_SCHEMA))
    assert res.total == 3


def test_butterfly_random_vs_brute(spark):
    rng = random.Random(23)
    edges = list({(rng.randrange(25), 100 + rng.randrange(15))
                  for _ in range(120)})
    for cap in (None, 6):
        res = butterfly_counts(
            spark.createDataFrame(edges, EDGE_SCHEMA), hot_cap=cap
        )
        total, per = _bf_oracle(edges, cap)
        assert res.total == total, cap
        got = {(r["a"], r["b"]): (r["c"], r["bf"])
               for r in res.per_pair.collect()}
        assert got == per, cap


def _supports(es):
    """Per-edge butterfly support on the given edge set."""
    nbr = defaultdict(set)  # right -> lefts
    for u, w in es:
        nbr[w].add(u)
    c = defaultdict(int)
    for w, lefts in nbr.items():
        for a, b in combinations(sorted(lefts), 2):
            c[(a, b)] += 1
    s = {e: 0 for e in es}
    for w, lefts in nbr.items():
        for a, b in combinations(sorted(lefts), 2):
            if c[(a, b)] >= 2:
                s[(a, w)] += c[(a, b)] - 1
                s[(b, w)] += c[(a, b)] - 1
    return s


def _fixpoint(edges, k, cap=None):
    """Simultaneous recount-and-drop peel; returns {(u, w): support}
    measured on the fixpoint graph."""
    kept = set(edges)
    if cap is not None:
        deg = defaultdict(int)
        for _, w in kept:
            deg[w] += 1
        kept = {(u, w) for u, w in kept if deg[w] <= cap}
    while True:
        s = _supports(kept)
        nxt = {e for e in kept if s[e] >= k}
        if nxt == kept:
            return s
        kept = nxt


def test_bitruss_single_square(spark):
    # K(2,2): every edge in exactly 1 butterfly -> survives k=1, dies k=2
    edges = [(1, 10), (1, 11), (2, 10), (2, 11)]
    df = spark.createDataFrame(edges, EDGE_SCHEMA)
    r1 = bitruss(spark, df, k=1)
    assert sorted((x["u"], x["w"], x["sup"]) for x in r1.edges.collect()) == [
        (1, 10, 1), (1, 11, 1), (2, 10, 1), (2, 11, 1)
    ]
    assert r1.rounds == 0  # already at fixpoint
    r2 = bitruss(spark, df, k=2)
    assert r2.edges.count() == 0 and r2.rounds == 1


def test_bitruss_cascade_multi_removed(spark):
    # K(2,3) plus left vertex 3 on rights {10, 11}: when the (3, *)
    # edges fall, the butterflies they formed with pairs (1,3)/(2,3)
    # lose TWO edges in the same round — the canonical-quadruple dedupe
    # must decrement each surviving edge exactly once
    edges = [(a, w) for a in (1, 2) for w in (10, 11, 12)]  # K(2,3)
    edges += [(3, 10), (3, 11)]
    df = spark.createDataFrame(edges, EDGE_SCHEMA)
    for k in (1, 2, 3):
        want = _fixpoint(edges, k)
        got = {(r["u"], r["w"]): r["sup"] for r in
               bitruss(spark, df, k=k).edges.collect()}
        assert got == want, k


def test_bitruss_random_vs_brute(spark):
    rng = random.Random(7)
    edges = list({(rng.randrange(20), 100 + rng.randrange(10))
                  for _ in range(110)})
    df = spark.createDataFrame(edges, EDGE_SCHEMA)
    for k, cap in ((1, None), (2, None), (2, 6), (4, None)):
        want = _fixpoint(edges, k, cap)
        got = {(r["u"], r["w"]): r["sup"] for r in
               bitruss(spark, df, k=k, hot_cap=cap).edges.collect()}
        assert got == want, (k, cap)


def test_bitruss_fixed_rounds_identity(spark):
    # fixed_rounds past convergence is identity (oracle-parity mode)
    rng = random.Random(11)
    edges = list({(rng.randrange(12), 100 + rng.randrange(6))
                  for _ in range(50)})
    df = spark.createDataFrame(edges, EDGE_SCHEMA)
    free = {(r["u"], r["w"]): r["sup"] for r in
            bitruss(spark, df, k=2).edges.collect()}
    fixed = {(r["u"], r["w"]): r["sup"] for r in
             bitruss(spark, df, k=2, fixed_rounds=8).edges.collect()}
    assert free == fixed


def test_bitruss_size_estimate_stays_bounded(spark):
    # each round's checkpoint carries its plan's size estimate into the
    # next round; a join with the state multiplies it (Spark estimates a
    # join as a product), which grew it to ~250,000 digits in 8 rounds
    from pargraph_spark.session import _query_execution

    rng = random.Random(3)
    edges = sorted({(rng.randrange(12), 100 + rng.randrange(10))
                    for _ in range(60)})
    res = bitruss(spark, spark.createDataFrame(edges, EDGE_SCHEMA), k=2,
                  fixed_rounds=8)
    size = _query_execution(res.edges).optimizedPlan().stats().sizeInBytes()
    assert len(str(size)) < 40
