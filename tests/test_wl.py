from __future__ import annotations

import hashlib
from collections import Counter

from pargraph_spark.operators.wl import _M, WLResult, wl_colors, wl_histogram


def _h(s) -> int:
    return int(hashlib.md5(str(s).encode()).hexdigest()[:15], 16)


def _py_wl(edge_list, rounds, init=None):
    """Pure-Python replica of the hash-sum refinement (exact oracle)."""
    adj: dict[int, list[int]] = {}
    for a, b in edge_list:
        if a == b:
            continue
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    adj = {v: sorted(set(ns)) for v, ns in adj.items()}
    colors = {
        v: _h(init[v] if init and v in init else "_") for v in adj
    }
    for _ in range(rounds):
        ns = {v: sum(_h(colors[u]) for u in adj[v]) % _M for v in adj}
        colors = {v: _h(f"{colors[v]}|{ns[v]}") for v in adj}
    return colors


def _classic_wl_partition(edge_list, rounds):
    """True 1-WL (sorted neighbor multisets) — the semantic reference."""
    adj: dict[int, list[int]] = {}
    for a, b in edge_list:
        if a == b:
            continue
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    adj = {v: sorted(set(ns)) for v, ns in adj.items()}
    colors = {v: 0 for v in adj}
    for _ in range(rounds):
        sig = {v: (colors[v], tuple(sorted(colors[u] for u in adj[v]))) for v in adj}
        relabel = {s: i for i, s in enumerate(sorted(set(sig.values())))}
        colors = {v: relabel[sig[v]] for v in adj}
    return colors


# caterpillar: path 1-2-3-4 with leaves 5,6 on vertex 2 — rich role mix
CAT = [(1, 2), (2, 3), (3, 4), (2, 5), (2, 6)]


def test_wl_matches_python_hash_exact(spark):
    e = spark.createDataFrame(CAT, "src long, dst long")
    res = wl_colors(e, rounds=3)
    got = {r["id"]: r["color"] for r in res.colors.collect()}
    assert res.rounds == 3  # CAT splits in rounds 1 and 2
    assert got == _py_wl(CAT, 3)


def test_wl_partition_equals_classic_wl(spark):
    e = spark.createDataFrame(CAT, "src long, dst long")
    res = wl_colors(e, rounds=4)
    got = {r["id"]: r["color"] for r in res.colors.collect()}
    classic = _classic_wl_partition(CAT, 4)
    # same partition: equal hash-color iff equal classic color
    for a in got:
        for b in got:
            assert (got[a] == got[b]) == (classic[a] == classic[b]), (a, b)
    # 1, 5, 6 are automorphic leaves on vertex 2; 4 is a leaf on 3
    assert got[1] == got[5] == got[6] and got[4] != got[5]


def test_wl_isomorphic_histograms_and_refutation(spark):
    e1 = spark.createDataFrame(CAT, "src long, dst long")
    # same graph relabeled (x -> x*7 % 13)
    e2 = spark.createDataFrame(
        [((a * 7) % 13, (b * 7) % 13) for a, b in CAT], "src long, dst long"
    )
    h1 = Counter(
        (r["color"], r["n"]) for r in wl_histogram(wl_colors(e1, 3)).collect()
    )
    h2 = Counter(
        (r["color"], r["n"]) for r in wl_histogram(wl_colors(e2, 3)).collect()
    )
    assert h1 == h2  # isomorphic graphs: identical color histograms
    # non-isomorphic trees, same degree sequence (3,3,2,1,1,1,1):
    # T1: deg-2 vertex sits BETWEEN the two deg-3 centers;
    # T2: centers adjacent, deg-2 vertex inside a leg
    t1 = [(1, 2), (1, 3), (1, 4), (4, 5), (5, 6), (5, 7)]
    t2 = [(1, 2), (1, 3), (1, 5), (5, 6), (5, 4), (4, 7)]
    g1 = spark.createDataFrame(t1, "src long, dst long")
    g2 = spark.createDataFrame(t2, "src long, dst long")
    hh1 = {(r["color"], r["n"]) for r in wl_histogram(wl_colors(g1, 3)).collect()}
    hh2 = {(r["color"], r["n"]) for r in wl_histogram(wl_colors(g2, 3)).collect()}
    assert hh1 != hh2  # WL distinguishes all trees


def test_wl_convergence_and_identity_rounds(spark):
    e = spark.createDataFrame(CAT, "src long, dst long")
    res = wl_colors(e, rounds=10)
    assert res.converged and res.rounds < 10
    assert [m.superstep for m in res.metrics.supersteps] == list(range(1, res.rounds + 1))
    # rounds past stabilization keep the partition: any cap at or above
    # the convergence round gives the same class count
    a = wl_colors(e, rounds=res.rounds)
    b = wl_colors(e, rounds=res.rounds + 4)
    assert a.n_colors == b.n_colors == res.n_colors


def test_wl_seeded_init(spark):
    # path 1-2-3: with default init the two leaves 1,3 share a color;
    # seeding them apart keeps them apart
    path = [(1, 2), (2, 3)]
    e = spark.createDataFrame(path, "src long, dst long")
    plain = {r["id"]: r["color"] for r in wl_colors(e, 2).colors.collect()}
    assert plain[1] == plain[3]
    init = spark.createDataFrame([(1, "A"), (3, "B")], "id long, color string")
    seeded = wl_colors(e, rounds=2, init=init)
    got = {r["id"]: r["color"] for r in seeded.colors.collect()}
    assert got[1] != got[3]
    assert got == _py_wl(path, seeded.rounds, init={1: "A", 3: "B"})


def test_wl_plan_shape(spark):
    # the 100-TB claims: (a) the neighbor multiset aggregate partial-
    # combines map-side (partial_sum before the exchange), (b) the sum
    # runs in decimal (no int64 overflow at hub degree under ANSI)
    from pyspark.sql import functions as F

    from pargraph_spark.operators.wl import _M, _h60
    from pargraph_spark.operators.edges import symmetrize

    e = spark.createDataFrame(CAT, "src long, dst long")
    sym = symmetrize(e)
    # per-id colors: a constant color would let Catalyst fold the hash
    # and the decimal cast out of the printed plan
    colors = sym.select(F.col("u").alias("id")).distinct().select(
        "id", _h60(F.col("id")).alias("color")
    )
    nbr = (
        sym.join(colors.withColumnRenamed("id", "u"), "u")
        .groupBy(F.col("v").alias("id"))
        .agg(
            (F.sum(_h60(F.col("color")).cast("decimal(38,0)")) % _M)
            .cast("long")
            .alias("_ns")
        )
    )
    plan = nbr._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan or "partial sum" in plan.lower(), plan
    assert "decimal(38,0)" in plan.lower()


def test_wl_round_no_escale_exchange(spark):
    # the per-round scale contract: the E-scale sym join probes the
    # u-partitioned persisted copy in place (no Exchange between the
    # join and the InMemoryTableScan); only V-scale colors/partials move
    from pyspark.sql import functions as F

    from pargraph_spark.operators.wl import _M, _h60
    from pargraph_spark.operators.edges import symmetrize

    e = spark.createDataFrame(CAT, "src long, dst long")
    sym = symmetrize(e).repartition(8, "u").persist()
    sym.count()
    colors = (
        sym.select(F.col("u").alias("id")).distinct()
        .select("id", _h60(F.col("id")).alias("color"))
        .localCheckpoint(eager=True)
    )
    nbr = (
        sym.join(colors.withColumnRenamed("id", "u"), "u")
        .groupBy(F.col("v").alias("id"))
        .agg(
            (F.sum(_h60(F.col("color")).cast("decimal(38,0)")) % _M)
            .cast("long")
            .alias("_ns")
        )
    )
    plan = nbr._jdf.queryExecution().executedPlan().toString()
    prefix = plan.split("InMemoryRelation", 1)[0]
    assert "InMemoryTableScan" in prefix, plan
    assert "Exchange hashpartitioning(u" not in prefix, plan
    sym.unpersist()
