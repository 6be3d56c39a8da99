"""The superstep loop, written once.

The reference runs every graph through one scheduling loop (its
engine.py:42-129); this is the Spark counterpart for the fixpoint
operators: pagerank, label_propagation and seeded_label_propagation,
connected_components, sssp, bfs_distances and landmark_distances,
core_numbers, kcore, score_core and densest_subgraph (one shared peel),
truss_numbers (so also ktruss), bitruss, wl_colors,
katz_centrality, earliest_arrival, hits and salsa,
maximal_independent_set, greedy_coloring, maximal_matching,
betweenness (its forward levels), kmv_reach, harmonic_centrality_kmv,
effective_diameter, hll_reach, strongly_connected_components (its trim,
forward coloring and backward sweep, in each outer round),
condensation_layers, and bowtie_classify's closures (through bfs).
Each keeps its state in ONE table.
Most operators build their persisted edge table with
``operators/edges.py::adjacency`` (connected components, hits/salsa and
earliest_arrival keep their own layouts); each keeps its own vertex base
and warm start, and hands ``run_fixpoint`` three pieces:

- ``step(state, prev_stats)``: the next state as a LAZY plan. It may
  return ``(plan, intermediates)`` when it materialized something of its
  own (connected components' eager large-star output, matching's round
  matches, the raw HITS authorities); the driver frees those with the
  superseded state.
- ``stats``: aggregate ``Column``s over the state (delta, changed count,
  edge-set signature, ... plus extra scalars the next step needs, such as
  PageRank's dangling mass). The driver evaluates them in ONE
  ``agg(...).first()`` per superstep.
- ``done(stats, prev_stats)``: the convergence test.

Per superstep the driver runs step → lazy ``localCheckpoint`` → the one
stats aggregate → release the superseded state and the step's
intermediates → ``SuperstepMetric`` → cadence save → ``done``. Release
frees the blocks at once (the reference's ref-count release,
engine.py:63-76): ``release`` also unpersists a checkpoint's own RDD,
which ``DataFrame.unpersist`` leaves cached. The new state's blocks are
written by then, so nothing reads a freed block (such a read fails
loudly, ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``). The whole loop runs
under ``no_aqe(P)`` so every checkpoint records the state's hash
partitioning (``P=None`` keeps AQE on: connected components, whose state
is the edge set itself, is faster with AQE's runtime broadcasts).

Invariants, held by construction:

- **One Spark job per superstep.** The stats aggregate scans every
  partition of the lazily checkpointed state, so it materializes the
  checkpoint blocks in its own job; the state before the loop is
  materialized the same way by one setup job. This is the lazy-checkpoint
  contract: the action that follows a lazy checkpoint scans every
  partition (a ``limit``/``isEmpty`` first would write some blocks in a
  partial job and break localCheckpoint's truncate-on-first-job
  semantics), and it runs before any input of the checkpointed plan is
  released. The partitioning the checkpoint records is fixed when it is
  planned (under ``no_aqe(P)`` above), not when its blocks are written.
  This module is the only code in the operators it drives that makes a
  lazy checkpoint, so none of them can break the contract. Anything else
  a step materializes (a broadcast, an eager checkpoint) costs its own
  jobs.
- **Resume.** With ``resume`` the newest committed manifest under
  ``<checkpoint_dir>/<job>`` is loaded and passed through ``restore``.
  A manifest with ``converged=True`` returns at once: ``converged=True``,
  the manifest's superstep as the iteration count (even when it is
  ``>= max_iter``), no superstep run and no metric recorded. Otherwise
  the loop continues from the manifest's superstep. Every save records
  ``converged``: cadence saves every ``checkpoint_every`` supersteps, and
  one final save when the run converges off the cadence.
"""

from __future__ import annotations

import time
from contextlib import nullcontext
from dataclasses import dataclass
from typing import Callable, Sequence, Union

from pyspark.sql import Column, DataFrame, Row, SparkSession

from pargraph_spark.plans.checkpoint import CheckpointManager
from pargraph_spark.plans.debug import dump_plan
from pargraph_spark.plans.metrics import JobMetrics, SuperstepMetric
from pargraph_spark.session import _query_execution, no_aqe

StepOut = Union[DataFrame, tuple[DataFrame, Sequence[DataFrame]]]


@dataclass
class FixpointResult:
    state: DataFrame  # checkpointed final state (or the restored converged one)
    iterations: int
    converged: bool
    metrics: JobMetrics
    stats: Row | None = None  # the final state's stats (None: restored converged)


def release(df: DataFrame) -> None:
    """Unpersist ``df`` and, when it is a checkpoint (its logical plan a
    ``LogicalRDD``), the checkpoint's own RDD, whose blocks
    ``DataFrame.unpersist`` leaves cached. The RDD is freed through the
    SparkContext: ``RDD.unpersist`` on a local checkpoint logs a WARN that
    its lineage cannot be recomputed, which is the point here. Call it
    only on a frame the caller owns, once every plan that reads it has
    been materialized."""
    df.unpersist()
    plan = _query_execution(df).logical()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        df.sparkSession.sparkContext._jsc.sc().unpersistRDD(plan.rdd().id(), False)


def _first_stat(stats: Row, prev: Row) -> float:
    v = stats[0]
    return float("nan") if v is None else float(v)


def run_fixpoint(
    spark: SparkSession,
    init: Callable[[], DataFrame],
    step: Callable[[DataFrame, Row], StepOut],
    stats: Sequence[Column],
    done: Callable[[Row, Row], bool],
    *,
    name: str,
    P: int | None,
    max_iter: int,
    edges: int | Callable[[Row], int],
    delta: Callable[[Row, Row], float] = _first_stat,
    plan: str | None = None,
    checkpoint_dir: str | None = None,
    job: str = "",
    checkpoint_every: int = 5,
    resume: bool = False,
    restore: Callable[[DataFrame], DataFrame] = lambda df: df,
    manifest: Callable[[Row], dict] = lambda s: {},
) -> FixpointResult:
    """Run ``step`` from ``init()`` (or a resumed checkpoint) until
    ``done`` or ``max_iter`` supersteps in total.

    name: the ``JobMetrics`` name. edges: the per-superstep edge count the
    metric records, or a function of the initial stats. delta: the
    metric's per-superstep value (default: the first stat). plan: the
    ``dump_plan`` name of the superstep plan. job: the checkpoint
    subdirectory; manifest: the extra manifest fields for a state's stats.
    """
    ckpt = CheckpointManager(checkpoint_dir, job) if checkpoint_dir else None
    metrics = JobMetrics(name)
    it, state = 0, None
    if ckpt and resume:
        m = ckpt.latest()
        if m is not None:
            it = int(m["superstep"])
            state = restore(ckpt.load(spark, it))
            if m.get("converged"):
                return FixpointResult(state, it, True, metrics)
    if state is None:
        state = init()

    converged = False
    with no_aqe(spark, P) if P is not None else nullcontext():
        state = state.localCheckpoint(eager=False)
        prev = state.agg(*stats).first()  # the setup job: materializes state
        n_edges = edges(prev) if callable(edges) else edges
        while it < max_iter:
            it += 1
            t0 = time.monotonic()
            out = step(state, prev)
            new, scratch = out if isinstance(out, tuple) else (out, ())
            if plan:
                dump_plan(new, plan)
            new = new.localCheckpoint(eager=False)
            s = new.agg(*stats).first()  # the superstep's one job
            for df in (state, *scratch):
                release(df)
            state = new
            metrics.add(SuperstepMetric(it, (time.monotonic() - t0) * 1000.0,
                                        n_edges, delta(s, prev)))
            converged = bool(done(s, prev))
            prev = s
            if ckpt and it % checkpoint_every == 0:
                ckpt.save(state, it, {**manifest(s), "converged": converged})
            if converged:
                break
    if ckpt and converged and it % checkpoint_every != 0:
        ckpt.save(state, it, {**manifest(prev), "converged": True})
    return FixpointResult(state, it, converged, metrics, prev)
