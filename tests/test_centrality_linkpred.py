"""Katz / modularity / common-neighbor top-k vs pure-Python oracles."""

from __future__ import annotations

import math
import random
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from pargraph_spark.operators.centrality import katz_centrality
from pargraph_spark.operators.graphstats import modularity
from pargraph_spark.operators.linkpred import common_neighbors_topk


def _random_digraph(seed: int, n: int, m: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    es = set()
    while len(es) < m:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            es.add((a, b))
    return sorted(es)


def _katz_oracle(edges, alpha, beta, iters):
    verts = sorted({v for e in edges for v in e})
    inc = defaultdict(list)
    for s, d in set(edges):
        if s != d:
            inc[d].append(s)
    x = {v: beta for v in verts}
    for _ in range(iters):
        x = {v: beta + alpha * sum(x[u] for u in sorted(inc[v])) for v in verts}
    return x


def _und(edges):
    return {(min(a, b), max(a, b)) for a, b in edges if a != b}


def _modularity_oracle(edges, labels):
    und = _und(edges)
    m = len(und)
    deg = defaultdict(int)
    for u, v in und:
        deg[u] += 1
        deg[v] += 1
    lc = defaultdict(int)
    dc = defaultdict(int)
    for u, v in und:
        if labels[u] == labels[v]:
            lc[labels[u]] += 1
    for v, d in deg.items():
        dc[labels[v]] += d
    comms = set(dc)
    q = sum(lc[c] / m - (dc[c] / (2 * m)) ** 2 for c in comms)
    return len(comms), m, q


def _cn_oracle(edges, k, hot_cap):
    und = _und(edges)
    adj = defaultdict(set)
    for u, v in und:
        adj[u].add(v)
        adj[v].add(u)
    centers = {w for w in adj if hot_cap is None or len(adj[w]) <= hot_cap}
    cn = defaultdict(int)
    for w in centers:
        nb = sorted(adj[w])
        for i, a in enumerate(nb):
            for b in nb[i + 1:]:
                cn[(a, b)] += 1
    out = []
    by_a = defaultdict(list)
    for (a, b), c in cn.items():
        if (a, b) not in und:
            by_a[a].append((-c, b))
    for a, lst in by_a.items():
        for rn, (negc, b) in enumerate(sorted(lst)[:k], 1):
            out.append((a, b, -negc, rn))
    return sorted(out)


@pytest.mark.parametrize("seed,n,m", [(2, 30, 80), (9, 50, 150)])
def test_katz_vs_oracle(spark, seed, n, m):
    edges = _random_digraph(seed, n, m)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["katz"] for r in
           katz_centrality(spark, df, alpha=0.05, beta=1.0, iters=5)
           .scores.collect()}
    want = _katz_oracle(edges, 0.05, 1.0, 5)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], rel=1e-12)


def test_modularity_two_cliques(spark):
    # two 4-cliques joined by one bridge; perfect 2-community labeling
    cl1 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    cl2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    edges = cl1 + cl2 + [(3, 10)]
    labels = {v: 0 for v in range(4)} | {v: 1 for v in range(10, 14)}
    e = spark.createDataFrame(edges, "src long, dst long")
    lab = spark.createDataFrame(list(labels.items()), "id long, label long")
    row = modularity(e, lab).collect()[0]
    nc, m, q = _modularity_oracle(edges, labels)
    assert row["n_communities"] == nc and row["n_edges"] == m
    assert row["modularityq"] == pytest.approx(q, abs=2 / (1 << 30))


@pytest.mark.parametrize("seed,n,m", [(4, 30, 70)])
def test_modularity_random_partition(spark, seed, n, m):
    edges = _random_digraph(seed, n, m)
    verts = sorted({v for e in edges for v in e})
    labels = {v: v % 3 for v in verts}
    e = spark.createDataFrame(edges, "src long, dst long")
    lab = spark.createDataFrame(list(labels.items()), "id long, label long")
    row = modularity(e, lab).collect()[0]
    nc, mm, q = _modularity_oracle(edges, labels)
    assert row["n_communities"] == nc and row["n_edges"] == mm
    assert row["modularityq"] == pytest.approx(q, abs=2 / (1 << 30))


@pytest.mark.parametrize("seed,n,m,k,cap", [(6, 25, 60, 3, None),
                                            (8, 40, 120, 5, 6)])
def test_common_neighbors_topk(spark, seed, n, m, k, cap):
    edges = _random_digraph(seed, n, m)
    e = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(
        (r["a"], r["b"], r["cn"], r["rn"])
        for r in common_neighbors_topk(e, k=k, hot_cap=cap).collect()
    )
    assert got == _cn_oracle(edges, k, cap)


def test_katz_exact_integer_tier(spark):
    edges = _random_digraph(5, 30, 80)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["katz"] for r in
           katz_centrality(spark, df, iters=5, exact_denominator=20)
           .scores.collect()}
    # exact rational oracle -> one final float division, like the operator
    verts = sorted({v for e in edges for v in e})
    inc = defaultdict(list)
    for s, d in set(edges):
        if s != d:
            inc[d].append(s)
    X = {v: 1 for v in verts}
    for t in range(1, 6):
        X = {v: 20 ** t + sum(X[u] for u in inc[v]) for v in verts}
    want = {v: float(X[v]) / float(20 ** 5) for v in verts}
    assert got == want


def test_katz_exact_requires_unit_beta(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        katz_centrality(spark, df, beta=2.0, exact_denominator=20)


def test_edge_jaccard_vs_brute(spark):
    from pargraph_spark.operators.triangles import edge_neighborhood_jaccard

    edges = _random_digraph(12, 30, 90)
    und = _und(edges)
    adj = defaultdict(set)
    for u, v in und:
        adj[u].add(v)
        adj[v].add(u)
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {(r["u"], r["v"]): (r["common"], r["jac"])
           for r in edge_neighborhood_jaccard(e).collect()}
    assert set(got) == und
    for (u, v), (c, j) in got.items():
        common = len(adj[u] & adj[v])
        assert c == common
        assert j == float(common) / float(len(adj[u]) + len(adj[v]) - common)


def test_contamination_counts_vs_brute(spark):
    from pargraph_spark.operators.dedup import contamination_counts

    docs = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "pack my box with five dozen liquor jugs"),
        (2, "the quick brown fox naps all day long"),      # shares 2 trigrams w/ 0
        (3, "five dozen liquor jugs sit on the shelf"),     # shares 2 trigrams w/ 1
        (4, "completely unrelated words only here now"),    # clean
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    probe = df.where(F.col("doc_id") < 2)
    cands = df.where(F.col("doc_id") >= 2)
    got = {r["id"]: r["n_shared"] for r in
           contamination_counts(cands, probe, "doc_id", "text", 3).collect()}

    def tri(s):
        t = s.split()
        return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}

    probe_sh = tri(docs[0][1]) | tri(docs[1][1])
    want = {}
    for d, s in docs[2:]:
        n = len(tri(s) & probe_sh)
        if n:
            want[d] = n
    assert got == want
    assert 4 not in got


def test_scrub_pii_masks_and_counts(spark):
    from pargraph_spark.functions.text import pii_counts, scrub_pii

    df = spark.createDataFrame(
        [(1, "see http://a.b/c and mail bob.smith@x-corp.io or +123456789 now"),
         (2, "no entities here")],
        "id long, s string")
    n_urls, n_emails, n_phones = pii_counts(F.col("s"))
    rows = {r["id"]: r for r in df.select(
        "id", n_urls.alias("u"), n_emails.alias("e"), n_phones.alias("p"),
        scrub_pii(F.col("s")).alias("out")).collect()}
    assert (rows[1]["u"], rows[1]["e"], rows[1]["p"]) == (1, 1, 1)
    assert rows[1]["out"] == "see <url> and mail <email> or <phone> now"
    assert (rows[2]["u"], rows[2]["e"], rows[2]["p"]) == (0, 0, 0)
    assert rows[2]["out"] == "no entities here"


def _densest_oracle_stats(edges, num=1, den=2):
    und = _und(edges)
    verts = {v for e in und for v in e}
    e = set(und)
    stats = []
    k = 0
    while verts:
        n, m = len(verts), len(e)
        stats.append((k, n, m))
        deg = defaultdict(int)
        for u, v in e:
            deg[u] += 1
            deg[v] += 1
        keep = {v for v in verts if deg[v] * n * den > 2 * (den + num) * m}
        e = {(u, v) for u, v in e if u in keep and v in keep}
        verts = keep
        k += 1
    return stats


@pytest.mark.parametrize("seed,n,m", [(21, 30, 70), (23, 50, 160)])
def test_densest_subgraph_vs_brute(spark, seed, n, m):
    from pargraph_spark.operators.densest import densest_subgraph

    edges = _random_digraph(seed, n, m)
    res = densest_subgraph(spark, spark.createDataFrame(edges, "src long, dst long"))
    want = _densest_oracle_stats(edges)
    got = sorted((r["round"], r["n_vertices"], r["n_edges"])
                 for r in res.stats.collect())
    assert got == want
    # best round: exact max density, ties -> earliest
    bk, bn, bm = max(want, key=lambda t: (t[2] / t[1], -t[0]))
    assert (res.best_round, res.best_density) == (bk, bm / bn)
    # the best round's vertex set == oracle's survivor set at that round
    verts = {v for e2 in _und(edges) for v in e2}
    e = set(_und(edges))
    for k in range(bk):
        n0, m0 = len(verts), len(e)
        deg = defaultdict(int)
        for u, v in e:
            deg[u] += 1
            deg[v] += 1
        verts = {v for v in verts if deg[v] * n0 * 2 > 6 * m0}
        e = {(u, v) for u, v in e if u in verts and v in verts}
    assert {r["id"] for r in res.vertices.collect()} == verts


def test_densest_finds_planted_clique(spark):
    # sparse ring + a planted 6-clique: the peel must land on the clique
    from pargraph_spark.operators.densest import densest_subgraph

    ring = [(i, (i + 1) % 30) for i in range(30)]
    clique = [(a, b) for a in range(100, 106) for b in range(a + 1, 106)]
    df = spark.createDataFrame(ring + clique, "src long, dst long")
    res = densest_subgraph(spark, df)
    assert {r["id"] for r in res.vertices.collect()} == set(range(100, 106))
    assert res.best_density == 15 / 6


def test_linkpred_ra_aa_scores(spark):
    # ra: grid-exact (bit-identical); aa: ln-based, tolerance
    edges = _random_digraph(11, 35, 100)
    e = spark.createDataFrame(edges, "src long, dst long")
    rows = common_neighbors_topk(e, k=4, hot_cap=None, rank_by="ra").collect()
    und = _und(edges)
    adj = defaultdict(set)
    for u, v in und:
        adj[u].add(v)
        adj[v].add(u)
    G = float(1 << 30)
    q = lambda x: math.floor(x * G + 0.5) / G  # HALF_UP on the grid
    for r in rows:
        common = adj[r["a"]] & adj[r["b"]]
        assert r["cn"] == len(common)
        assert r["ra"] == sum(q(1.0 / len(adj[w])) for w in sorted(common))
        want_aa = sum(1.0 / math.log(len(adj[w])) for w in common)
        assert r["aa"] == pytest.approx(want_aa, abs=len(common) * 2 / G)
    # rank_by='ra': rn ordering follows ra desc, b asc within each a
    by_a = defaultdict(list)
    for r in rows:
        by_a[r["a"]].append((r["rn"], -r["ra"], r["b"]))
    for a, lst in by_a.items():
        assert [t[0] for t in sorted(lst)] == sorted(t[0] for t in lst)
        assert sorted(lst) == sorted(lst, key=lambda t: (t[0],))


def test_cocitation_and_coupling_vs_brute(spark):
    import random
    from collections import Counter, defaultdict

    from pargraph_spark.operators.linkpred import cocitation_topk

    rng = random.Random(17)
    edges = list({(rng.randrange(15), rng.randrange(15)) for _ in range(70)})
    edges = [(s, d) for s, d in edges if s != d]
    df = spark.createDataFrame(edges, "src long, dst long")
    outs, ins = defaultdict(set), defaultdict(set)
    for s, d in edges:
        outs[s].add(d)
        ins[d].add(s)
    for mode, nbr in (("cocitation", ins), ("coupling", outs)):
        brute = Counter()
        keys = list(nbr.keys())
        for a in keys:
            for b in keys:
                if a < b:
                    c = len(nbr[a] & nbr[b])
                    if c:
                        brute[(a, b)] = c
        # full ranking with k large: verify counts + per-a ordering
        rows = cocitation_topk(df, k=100, mode=mode).collect()
        got = {(r["a"], r["b"]): r["cnt"] for r in rows if r["a"] < r["b"]}
        assert got == dict(brute), mode
        by_a = defaultdict(list)
        for r in rows:
            by_a[r["a"]].append(r)
        for a, rs in by_a.items():
            rs = sorted(rs, key=lambda r: r["rn"])
            key = [(-r["cnt"], r["b"]) for r in rs]
            assert key == sorted(key), (mode, a)


def test_cocitation_hot_cap_excludes_center(spark):
    from pargraph_spark.operators.linkpred import cocitation_topk

    # w=0 cites everything (hot center); w=1 cites only 10,11
    edges = [(0, i) for i in range(10, 18)] + [(1, 10), (1, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = cocitation_topk(df, k=5, mode="cocitation", hot_cap=4).collect()
    got = {(r["a"], r["b"]): r["cnt"] for r in rows if r["a"] < r["b"]}
    assert got == {(10, 11): 1}
