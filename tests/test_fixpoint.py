"""plans/fixpoint.py — the one superstep loop of the fixpoint operators.

A toy fixpoint (min-label propagation on a path) pins what the driver
promises every operator it runs: one Spark job per superstep plus one
setup job, superstep metrics numbered from the resumed superstep on, and
every superseded state freed (only the final state stays cached).
The operators on the driver keep that promise on the same path: their
own fixed setup jobs, then one job per superstep plus the jobs of what a
step materializes itself.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from pargraph_spark.plans.fixpoint import run_fixpoint

N = 20  # path 0-1-...-19: label 0 reaches vertex 19 after 19 supersteps
P = 4


def _path(spark):
    pairs = [(i, i + 1) for i in range(N - 1)]
    sym = (spark.createDataFrame(pairs + [(b, a) for a, b in pairs], "u long, v long")
           .repartition(P, "u").persist())
    sym.count()
    return sym


def _min_label(spark, sym, max_iter=50, **kw):
    def step(state, prev):
        # hints keep every join a shuffle join: a broadcast would add jobs
        best = (
            sym.join(state.hint("shuffle_hash"), sym["u"] == state["id"])
            .groupBy(sym["v"].alias("id"))
            .agg(F.min("label").alias("m"))
        )
        return state.join(best.hint("shuffle_hash"), "id", "left").select(
            "id",
            F.least("label", "m").alias("label"),
            F.coalesce(F.col("m") < F.col("label"), F.lit(False)).alias("_chg"),
        )

    return run_fixpoint(
        spark,
        lambda: spark.range(N).select("id", F.col("id").alias("label"),
                                      F.lit(True).alias("_chg")).repartition(P, "id"),
        step, [F.count_if("_chg")], lambda s, prev: s[0] == 0,
        name="min_label", P=P, max_iter=max_iter, edges=2 * (N - 1), **kw,
    )


def _labels(res):
    return {r["id"]: r["label"] for r in res.state.collect()}


def _jobs(spark, fn):
    """(fn(), the number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"fixpoint-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "fixpoint job count")
    try:
        res = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts are posted async
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


def test_one_job_per_superstep(spark):
    sym = _path(spark)
    res, jobs = _jobs(spark, lambda: _min_label(spark, sym))
    assert res.converged and res.iterations == N
    setup_jobs = 1  # the stats aggregate that materializes the initial state
    assert jobs == setup_jobs + res.iterations
    assert [m.superstep for m in res.metrics.supersteps] == list(range(1, N + 1))
    assert [m.delta for m in res.metrics.supersteps][-1] == 0.0
    assert _labels(res) == {i: 0 for i in range(N)}
    sym.unpersist()


def test_release_frees_every_superseded_state(spark):
    # the run adds ONE persistent RDD, the final state's checkpoint: the
    # driver frees each superseded checkpoint's own RDD, not just the
    # DataFrame (whose unpersist leaves checkpoint blocks cached)
    from pargraph_spark.session import _query_execution

    sym = _path(spark)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    res = _min_label(spark, sym)
    added = set(jsc.getPersistentRDDs().keys()) - before
    assert res.iterations >= 10
    assert added == {_query_execution(res.state).logical().rdd().id()}
    assert _labels(res) == {i: 0 for i in range(N)}
    sym.unpersist()


def _bfs(spark, e):
    from pargraph_spark.operators.bfs import bfs_distances

    seeds = spark.createDataFrame([(0,)], "id long")
    return bfs_distances(spark, e, seeds, max_hops=2 * N, num_partitions=P)


def _landmarks(spark, e):
    from pargraph_spark.operators.landmarks import landmark_distances

    return landmark_distances(spark, e, num_landmarks=2, max_hops=2 * N,
                              num_partitions=P)


def _core_numbers(spark, e):
    from pargraph_spark.operators.kcore import core_numbers

    return core_numbers(spark, e, num_partitions=P)


def _bitruss(spark, e):
    from pargraph_spark.operators.butterflies import bitruss

    return bitruss(spark, e, k=1, fixed_rounds=3)


def _wl(spark, e):
    from pargraph_spark.operators.wl import wl_colors

    return wl_colors(e, rounds=N, num_partitions=P)


def _truss_numbers(spark, e):
    # the path has no triangles: a random graph whose decomposition
    # cascades for 8 rounds
    import random

    from pargraph_spark.operators.triangles import truss_numbers

    rng = random.Random(11)
    edges = {(rng.randrange(25), rng.randrange(25)) for _ in range(140)}
    return truss_numbers(
        spark, spark.createDataFrame([(s, d) for s, d in edges if s != d], e.schema),
        num_partitions=P)


def _katz(spark, e):
    from pargraph_spark.operators.centrality import katz_centrality

    return katz_centrality(spark, e, iters=5, num_partitions=P)


def _temporal(spark, e):
    from pargraph_spark.operators.temporal import earliest_arrival

    seeds = spark.createDataFrame([(0,)], "id long")
    return earliest_arrival(spark, e.withColumn("t", F.col("src")), seeds,
                            num_partitions=P)


def _hits(spark, e):
    from pargraph_spark.operators.hits import hits

    return hits(spark, e, iterations=5, num_partitions=P)


def _mis(spark, e):
    from pargraph_spark.operators.mis import maximal_independent_set

    return maximal_independent_set(spark, e, num_partitions=P)


def _coloring(spark, e):
    from pargraph_spark.operators.coloring import greedy_coloring

    return greedy_coloring(spark, e, num_partitions=P)


def _betweenness(spark, e):
    from pargraph_spark.operators.betweenness import betweenness

    seeds = spark.createDataFrame([(0,), (5,)], "id long")
    return betweenness(spark, e, seeds, max_depth=2 * N, num_partitions=P)


def _matching(spark, e):
    from pargraph_spark.operators.matching import maximal_matching

    return maximal_matching(spark, e, num_partitions=P)


def _kcore(spark, e):
    from pargraph_spark.operators.kcore import kcore

    # the path peels its two ends every round
    return kcore(spark, e, 2, num_partitions=P)


def _score_core(spark, e):
    from pargraph_spark.operators.kcore import score_core

    return score_core(spark, e.withColumn("w", F.lit(1)), 2, num_partitions=P)


def _densest(spark, e):
    from pargraph_spark.operators.densest import densest_subgraph

    # ε = 0 keeps the vertices above the mean degree: the path's interior
    return densest_subgraph(spark, e, eps_num=0, eps_den=1, num_partitions=P)


# Setup jobs each operator runs before its first superstep: counting its
# edge table (edges.adjacency builds it in one no-AQE job), landmark
# selection, and the driver's stats job that materializes the initial state
# (for betweenness also the backward pass and its one eager scores job). Then k jobs
# per superstep: the stats job, plus what the step materializes itself —
# the winners of a MIS round, matching's round matches, the raw HITS
# authorities and their total. truss_numbers' setup enumerates triangles
# under no-AQE: the oriented edges' eager checkpoint, the melted
# triangles' persist, the driver's stats job.
@pytest.mark.parametrize("op,setup_jobs,k", [
    (_bfs, 2, 1), (_landmarks, 3, 1), (_core_numbers, 2, 1), (_bitruss, 3, 1),
    (_wl, 2, 1), (_truss_numbers, 3, 1), (_katz, 2, 1),
    (_temporal, 5, 1), (_hits, 16, 3), (_mis, 2, 2), (_coloring, 2, 1),
    (_matching, 1, 2), (_betweenness, 5, 1), (_kcore, 2, 1), (_score_core, 2, 1),
    (_densest, 2, 1),
], ids=["bfs", "landmarks", "core_numbers", "bitruss", "wl", "truss_numbers",
        "katz", "temporal", "hits", "mis", "coloring", "matching",
        "betweenness", "kcore", "score_core", "densest"])
def test_operator_runs_one_job_per_superstep(spark, op, setup_jobs, k):
    e = spark.createDataFrame([(i, i + 1) for i in range(N - 1)], "src long, dst long")
    res, jobs = _jobs(spark, lambda: op(spark, e))
    supersteps = len(res.metrics.supersteps)
    assert supersteps > 1
    assert jobs - k * supersteps == setup_jobs, (jobs, supersteps)


def test_kcore_peel_round_runs_one_job(spark):
    # a path of n vertices peels its two ends per round, n/2 rounds in all:
    # two more vertices cost exactly one more job, the driver's stats job
    from pargraph_spark.operators.kcore import kcore

    def run(n):
        e = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src long, dst long")
        return _jobs(spark, lambda: kcore(spark, e, 2, num_partitions=P))

    (r18, j18), (r20, j20) = run(18), run(20)
    assert (r18.rounds, r20.rounds) == (9, 10) and r18.converged and r20.converged
    assert j20 == j18 + 1, (j18, j20)


@pytest.mark.parametrize("op", ["kmv_reach", "hll_reach", "effective_diameter"])
def test_sketch_hop_runs_one_job(spark, op):
    # the sketch operators return DataFrames or scalars, not metrics: one
    # more hop must cost exactly one more job, the driver's stats job
    # (effective_diameter's N(t) is one aggregate, not a collect per hop)
    from pargraph_spark.operators import reach

    e = spark.createDataFrame([(i, i + 1) for i in range(N - 1)], "src long, dst long")
    fn = getattr(reach, op)
    jobs = [_jobs(spark, lambda: fn(spark, e, h, num_partitions=P))[1] for h in (2, 3)]
    assert jobs[1] == jobs[0] + 1, jobs


def test_resume_numbers_supersteps_from_the_manifest(spark, tmp_path):
    sym = _path(spark)
    ckpt = dict(checkpoint_dir=str(tmp_path), job="min_label", checkpoint_every=5)
    part = _min_label(spark, sym, max_iter=5, **ckpt)
    assert not part.converged and part.iterations == 5
    res = _min_label(spark, sym, resume=True, **ckpt)
    assert res.converged and res.iterations == N
    assert [m.superstep for m in res.metrics.supersteps] == list(range(6, N + 1))
    assert _labels(res) == {i: 0 for i in range(N)}
    sym.unpersist()
