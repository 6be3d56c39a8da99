from __future__ import annotations

import glob
import json
import math
import os

import pytest

from pargraph_spark.operators.edges import build_edges
from pargraph_spark.operators.extract_links import extract_links
from pargraph_spark.operators.pagerank import pagerank
from pargraph_spark.plans.checkpoint import CheckpointManager
from pargraph_spark.sources.pages import latest_pages
from pargraph_spark.synth import pages_df_local


def _edges(spark, n=150):
    pages = pages_df_local(spark, n)
    return build_edges(extract_links(latest_pages(pages))).cache()


def test_resume_equals_uninterrupted(spark, tmp_path):
    edf = _edges(spark)
    full = pagerank(spark, edf, tol=1e-8, num_partitions=4)
    ref = {r["id"]: r["rank"] for r in full.ranks.collect()}

    ckpt_dir = str(tmp_path / "ck")
    # "killed" run: stop after 4 supersteps (checkpoint_every=2 → superstep 4 committed)
    part = pagerank(spark, edf, tol=1e-8, num_partitions=4,
                    checkpoint_dir=ckpt_dir, checkpoint_every=2, max_iter=4)
    assert not part.converged
    m = CheckpointManager(ckpt_dir, "pagerank").latest()
    assert m is not None and m["superstep"] == 4
    assert m["rows"] > 0 and m["partitions"], "per-partition lineage recorded"
    assert sum(p["rows"] for p in m["partitions"]) == m["rows"]

    resumed = pagerank(spark, edf, tol=1e-8, num_partitions=4,
                       checkpoint_dir=ckpt_dir, checkpoint_every=2, resume=True)
    assert resumed.converged
    got = {r["id"]: r["rank"] for r in resumed.ranks.collect()}
    assert set(got) == set(ref)
    for v in ref:
        assert math.isclose(got[v], ref[v], abs_tol=1e-9), v
    # resumed run did fewer supersteps than the full one
    assert resumed.iterations == full.iterations


def test_halfwritten_checkpoint_invisible(tmp_path, spark):
    ckpt = CheckpointManager(str(tmp_path), "j")
    assert ckpt.latest() is None
    # simulate a crash between parquet write and manifest rename
    os.makedirs(os.path.join(str(tmp_path), "j", "state_000003.parquet"), exist_ok=True)
    with open(os.path.join(str(tmp_path), "j", "manifest_000003.json.tmp"), "w") as f:
        json.dump({"superstep": 3}, f)
    assert ckpt.latest() is None  # .tmp never counts

    df = spark.range(10).selectExpr("id", "cast(id as double) as rank", "0 as outdeg")
    man = ckpt.save(df, 5, {"dangling_mass": 0.0})
    assert ckpt.latest()["superstep"] == 5
    assert man["rows"] == 10
    back = ckpt.load(spark, 5)
    assert back.count() == 10


def test_cc_resume_equals_uninterrupted(spark, tmp_path):
    from pargraph_spark.operators.components import connected_components

    edf = _edges(spark)
    full = connected_components(spark, edf, num_partitions=4)
    ref = {r["id"]: r["component"] for r in full.components.collect()}

    ckpt_dir = str(tmp_path / "cc")
    part = connected_components(spark, edf, num_partitions=4, max_rounds=1,
                                checkpoint_dir=ckpt_dir, checkpoint_every=1)
    assert not part.converged
    m = CheckpointManager(ckpt_dir, "components").latest()
    assert m is not None and m["superstep"] == 1

    resumed = connected_components(spark, edf, num_partitions=4,
                                   checkpoint_dir=ckpt_dir, checkpoint_every=1,
                                   resume=True)
    assert resumed.converged
    got = {r["id"]: r["component"] for r in resumed.components.collect()}
    assert got == ref


def test_lpa_resume_equals_uninterrupted(spark, tmp_path):
    from pargraph_spark.operators.labelprop import label_propagation

    edf = _edges(spark)
    full = label_propagation(spark, edf, num_partitions=4, max_iter=8)
    ref = {r["id"]: r["label"] for r in full.labels.collect()}

    ckpt_dir = str(tmp_path / "lpa")
    part = label_propagation(spark, edf, num_partitions=4, max_iter=2,
                             checkpoint_dir=ckpt_dir, checkpoint_every=2)
    m = CheckpointManager(ckpt_dir, "labelprop").latest()
    assert m is not None and m["superstep"] == 2

    resumed = label_propagation(spark, edf, num_partitions=4, max_iter=8,
                                checkpoint_dir=ckpt_dir, checkpoint_every=2,
                                resume=True)
    got = {r["id"]: r["label"] for r in resumed.labels.collect()}
    assert got == ref
    assert resumed.iterations == full.iterations
    assert resumed.converged == full.converged


def test_resave_same_superstep_never_overwrites_committed_state(spark, tmp_path):
    # A save of an already-committed superstep must go to a FRESH state dir
    # (attempt-versioned) — overwrite-in-place would window a kill between
    # parquet delete and manifest rename (ADVICE r1).
    ckpt = CheckpointManager(str(tmp_path), "j")
    df5 = spark.range(5).selectExpr("id", "cast(id as double) as rank")
    ckpt.save(df5, 7)
    first_path = ckpt.latest()["state_path"]
    df9 = spark.range(9).selectExpr("id", "cast(id as double) as rank")
    ckpt.save(df9, 7, {"converged": True})
    m = ckpt.latest()
    assert m["state_path"] != first_path
    assert ckpt.load(spark, 7).count() == 9  # manifest points at the new state
    # the first state dir is still intact (no destructive overwrite)
    assert spark.read.parquet(first_path).count() == 5


def test_manifest_json_strict_when_delta_unmeasured(spark, tmp_path):
    # an unmeasured delta is NaN; NaN/Inf extras are stored as null so the
    # manifest stays strict JSON
    ckpt = CheckpointManager(str(tmp_path), "pagerank")
    df = spark.range(6).selectExpr("id", "cast(id as double) as rank")
    ckpt.save(df, 3, {"delta": float("nan"), "inf": float("inf"), "damping": 0.85})
    (path,) = glob.glob(os.path.join(ckpt.dir, "manifest_*.json"))
    with open(path) as f:
        text = f.read()
    assert "NaN" not in text and "Infinity" not in text

    def _reject(s):
        raise ValueError(f"non-standard JSON literal {s}")

    m = json.loads(text, parse_constant=_reject)
    assert m["delta"] is None and m["inf"] is None and m["damping"] == 0.85


def _run_to_fixpoint(op, spark, edf, **kw):
    """(result, its assignment dict, its superstep count) for one of the
    checkpointable fixpoint operators."""
    if op == "pagerank":
        r = pagerank(spark, edf, tol=1e-6, **kw)
        return r, {x["id"]: x["rank"] for x in r.ranks.collect()}, r.iterations
    if op == "connected_components":
        from pargraph_spark.operators.components import connected_components

        if "max_iter" in kw:
            kw["max_rounds"] = kw.pop("max_iter")
        r = connected_components(spark, edf, **kw)
        return r, {x["id"]: x["component"] for x in r.components.collect()}, r.rounds
    from pargraph_spark.operators.labelprop import label_propagation

    r = label_propagation(spark, edf, **kw)
    return r, {x["id"]: x["label"] for x in r.labels.collect()}, r.iterations


@pytest.mark.parametrize("op", ["pagerank", "connected_components", "label_propagation"])
def test_resume_from_converged_manifest_returns_at_once(spark, tmp_path, op):
    # checkpoint_every=1: convergence lands on a cadence save, so the
    # newest manifest is the converged superstep itself
    edf = _edges(spark)
    ckpt_dir = str(tmp_path / op)
    full, ref, n = _run_to_fixpoint(op, spark, edf, num_partitions=4,
                                    checkpoint_dir=ckpt_dir, checkpoint_every=1)
    assert full.converged
    # a limit equal to the converged superstep: nothing is left to run
    resumed, got, n_resumed = _run_to_fixpoint(
        op, spark, edf, num_partitions=4, checkpoint_dir=ckpt_dir,
        checkpoint_every=1, resume=True, max_iter=n)
    assert got == ref
    assert resumed.converged
    assert n_resumed == n
    assert resumed.metrics.supersteps == []


class _Crash(Exception):
    pass


@pytest.mark.parametrize("op,module", [
    ("pagerank", "pagerank"), ("connected_components", "components"),
    ("label_propagation", "labelprop"),
])
def test_resume_after_a_crashed_superstep_equals_uninterrupted(
        spark, tmp_path, monkeypatch, op, module):
    # the run dies in its last superstep, past a cadence save; resuming
    # from the newest manifest must give the uninterrupted result, bit for
    # bit, in the same number of supersteps
    import importlib

    from pargraph_spark.plans.fixpoint import run_fixpoint

    edf = _edges(spark)
    full, ref, n = _run_to_fixpoint(op, spark, edf, num_partitions=4)
    assert full.converged and n >= 2
    crash_after, every = n - 1, max(1, (n - 1) // 2)

    def crashing(spark, init, step, *args, **kw):
        done = [0]

        def step_or_crash(state, prev):
            if done[0] == crash_after:
                raise _Crash
            done[0] += 1
            return step(state, prev)

        return run_fixpoint(spark, init, step_or_crash, *args, **kw)

    ckpt = dict(num_partitions=4, checkpoint_dir=str(tmp_path / op),
                checkpoint_every=every)
    mod = importlib.import_module(f"pargraph_spark.operators.{module}")
    monkeypatch.setattr(mod, "run_fixpoint", crashing)
    with pytest.raises(_Crash):
        _run_to_fixpoint(op, spark, edf, **ckpt)
    monkeypatch.undo()
    m = CheckpointManager(ckpt["checkpoint_dir"], module).latest()  # job = module
    assert m is not None and every <= m["superstep"] < n

    resumed, got, n_resumed = _run_to_fixpoint(op, spark, edf, resume=True, **ckpt)
    assert resumed.converged
    assert n_resumed == n
    assert got == ref
    # it ran only the supersteps after the manifest's
    assert [x.superstep for x in resumed.metrics.supersteps] == \
        list(range(m["superstep"] + 1, n + 1))


def test_incremental_pagerank_warm_start_over_append(spark, tmp_path):
    # VERDICT r2 #6: after an edge drop lands in the bucketed store, a run
    # warm-started from the previous run's committed ranks converges to
    # the SAME ranks as a cold run on the union graph, in fewer supersteps.
    from pargraph_spark.operators.pagerank import load_latest_ranks
    from pargraph_spark.sources.edgestore import (
        append_bucketed_edges,
        read_bucketed_edges,
        write_bucketed_edges,
    )

    g1 = _edges(spark, 200)
    table = "edges_warmstart_test"
    path = str(tmp_path / "store")
    write_bucketed_edges(g1, table, num_buckets=4, path=path)
    try:
        ck = str(tmp_path / "ck")
        cold1 = pagerank(spark, read_bucketed_edges(spark, table),
                         num_partitions=4, tol=1e-9,
                         checkpoint_dir=ck, checkpoint_every=5)
        assert cold1.converged

        # the drop: ONE new vertex linked into the graph — small relative
        # to the graph, the regime incremental PageRank is for
        mx = g1.agg({"src": "max"}).first()[0]
        drop = spark.createDataFrame(
            [(mx + 1, 1), (7, mx + 1)], "src long, dst long"
        )
        append_bucketed_edges(drop, table, num_buckets=4)
        union = read_bucketed_edges(spark, table, dedupe=True)

        prior = load_latest_ranks(spark, ck)
        assert prior is not None
        warm = pagerank(spark, union, num_partitions=4, tol=1e-9,
                        warm_start=prior)
        cold2 = pagerank(spark, union, num_partitions=4, tol=1e-9)
        assert warm.converged and cold2.converged
        gw = {r["id"]: r["rank"] for r in warm.ranks.collect()}
        gc = {r["id"]: r["rank"] for r in cold2.ranks.collect()}
        assert set(gw) == set(gc)  # the new vertex present in both
        assert mx + 1 in gw
        for v in gc:
            assert math.isclose(gw[v], gc[v], abs_tol=1e-6), v
        assert warm.iterations < cold2.iterations, (
            warm.iterations, cold2.iterations)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
