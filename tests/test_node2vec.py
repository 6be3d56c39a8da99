from __future__ import annotations

import hashlib
import random
from collections import defaultdict

import pytest

from pargraph_spark.operators.sampling import node2vec_walks

EDGE_SCHEMA = "src long, dst long"


def _n2v_oracle(edges, seeds, num_walks, length, pn, pd, qn, qd, salt="n2v"):
    adj = defaultdict(set)
    for s, d in set(edges):
        adj[s].add(d)
    w_ret, w_mid, w_far = pd * qn, pn * qn, pn * qd
    out = []
    for s in seeds:
        for k in range(num_walks):
            cur, prev = s, None
            out.append((s, k, 0, s))
            for t in range(1, length + 1):
                if not adj[cur]:
                    break
                best = None
                for dst in adj[cur]:
                    if prev is None:
                        wgt = 1
                    elif dst == prev:
                        wgt = w_ret
                    elif dst in adj[prev]:
                        wgt = w_mid
                    else:
                        wgt = w_far
                    for j in range(wgt):
                        key = hashlib.md5(
                            f"{salt}|{s}|{k}|{t}|{dst}|{j}".encode()
                        ).hexdigest()
                        cand = (key, dst, j)
                        if best is None or cand < best:
                            best = cand
                prev, cur = cur, best[1]
                out.append((s, k, t, cur))
    return sorted(out)


@pytest.mark.parametrize("pn,pd,qn,qd", [(1, 1, 1, 1), (4, 1, 1, 4), (1, 3, 2, 1)])
def test_node2vec_matches_oracle(spark, pn, pd, qn, qd):
    rng = random.Random(13)
    n, m = 30, 120
    edges = list({(rng.randrange(n), rng.randrange(n)) for _ in range(m)})
    edges = [(a, b) for a, b in edges if a != b]
    seeds = [0, 3, 7, 11]
    got = sorted(
        (r["seed_id"], r["walk"], r["step"], r["vertex"])
        for r in node2vec_walks(
            spark.createDataFrame(edges, EDGE_SCHEMA),
            spark.createDataFrame([(s,) for s in seeds], "id long"),
            num_walks=2, length=4,
            p_num=pn, p_den=pd, q_num=qn, q_den=qd, num_partitions=4,
        ).collect()
    )
    assert got == _n2v_oracle(edges, seeds, 2, 4, pn, pd, qn, qd)


def test_node2vec_rejects_bad_params(spark):
    e = spark.createDataFrame([(1, 2)], EDGE_SCHEMA)
    s = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError):
        node2vec_walks(e, s, num_walks=0, length=2)
    with pytest.raises(ValueError):
        node2vec_walks(e, s, num_walks=1, length=2, p_num=0)


def test_node2vec_leaves_only_its_corpus_cached(spark):
    # every step checkpoints the walk state; a call frees those checkpoints
    # once the corpus is materialized, so what it leaves cached does not
    # grow with the walk length
    rng = random.Random(5)
    edges = list({(rng.randrange(40), rng.randrange(40)) for _ in range(160)})
    e = spark.createDataFrame([(a, b) for a, b in edges if a != b], EDGE_SCHEMA)
    s = spark.createDataFrame([(0,), (9,)], "id long")
    jsc = spark.sparkContext._jsc
    added = []
    for length in (4, 12):
        before = set(jsc.getPersistentRDDs().keys())
        out = node2vec_walks(e, s, num_walks=2, length=length, num_partitions=4)
        added.append(len(set(jsc.getPersistentRDDs().keys()) - before))
        assert out.where("step = 0").count() == 4
    assert added == [1, 1], added
