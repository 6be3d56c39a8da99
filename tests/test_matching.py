from __future__ import annotations

import hashlib
import random
from collections import defaultdict

from pargraph_spark.operators.matching import coarsen_graph, maximal_matching

EDGE_SCHEMA = "src long, dst long"


def _match_oracle(edges, salt="mm", max_rounds=50):
    active = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    matches = set()
    r = 0
    while active and r < max_rounds:
        r += 1
        pri = {e: (hashlib.md5(f"{salt}|{r}|{e[0]}|{e[1]}".encode()).hexdigest(),
                   e[0], e[1]) for e in active}
        best = {}
        for e, p in pri.items():
            for x in e:
                if x not in best or p < best[x]:
                    best[x] = p
        new = {e for e, p in pri.items()
               if best[e[0]] == p and best[e[1]] == p}
        matches |= new
        mv = {x for e in new for x in e}
        active = {e for e in active if e[0] not in mv and e[1] not in mv}
    return matches, r, not active


def test_matching_matches_oracle(spark):
    rng = random.Random(7)
    edges = [(a, b) for a, b in {(rng.randrange(40), rng.randrange(40))
                                 for _ in range(110)} if a != b]
    res = maximal_matching(
        spark, spark.createDataFrame(edges, EDGE_SCHEMA), num_partitions=4
    )
    got = {(r["u"], r["v"]) for r in res.matches.collect()}
    want, rounds, conv = _match_oracle(edges)
    assert got == want
    assert res.converged == conv
    # matching property: no vertex twice
    seen = [x for e in got for x in e]
    assert len(seen) == len(set(seen))
    # maximality: every surviving edge touches a matched vertex
    mv = set(seen)
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    assert all(u in mv or v in mv for u, v in und)


def test_matching_converged_when_last_round_is_max_rounds(spark):
    # the last active edge is matched in round max_rounds itself
    rng = random.Random(7)
    edges = [(a, b) for a, b in {(rng.randrange(40), rng.randrange(40))
                                 for _ in range(110)} if a != b]
    want, rounds, conv = _match_oracle(edges)
    assert conv and rounds > 1
    res = maximal_matching(
        spark, spark.createDataFrame(edges, EDGE_SCHEMA), max_rounds=rounds,
        num_partitions=4,
    )
    assert {(r["u"], r["v"]) for r in res.matches.collect()} == want
    assert res.rounds == rounds
    assert res.converged == conv


def test_coarsen_graph(spark):
    # path 0-1-2-3-4-5; match {(0,1),(2,3),(4,5)} -> contracted path 0-2-4
    edges = [(i, i + 1) for i in range(5)]
    m = spark.createDataFrame([(0, 1), (2, 3), (4, 5)], "u long, v long")
    got = {
        (r["cu"], r["cv"])
        for r in coarsen_graph(
            spark.createDataFrame(edges, EDGE_SCHEMA), m
        ).collect()
    }
    assert got == {(0, 2), (2, 4)}


def test_coarsen_after_matching_halves(spark):
    rng = random.Random(12)
    edges = [(a, b) for a, b in {(rng.randrange(30), rng.randrange(30))
                                 for _ in range(80)} if a != b]
    df = spark.createDataFrame(edges, EDGE_SCHEMA)
    res = maximal_matching(spark, df, num_partitions=4)
    n_matched = res.matches.count()
    coarse = coarsen_graph(df, res.matches)
    verts = {v for e in edges for v in e}
    cverts = {x for r in coarse.collect() for x in (r["cu"], r["cv"])}
    # contraction removes exactly one vertex per matched pair (isolated
    # super-vertices may also vanish from the edge list)
    assert len(cverts) <= len(verts) - n_matched
