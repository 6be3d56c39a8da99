"""Maximal matching + matching-based graph coarsening.

Distributed greedy maximal matching with deterministic hash priorities
(the Israeli-Itai symmetry-breaking idea in the engine's md5 idiom, the
mis.py sibling for EDGES): each round assigns every surviving edge the
priority md5("salt|round|u|v"), an edge joins the matching iff it is the
minimum-priority incident edge of BOTH endpoints, matched vertices leave
the graph, repeat. The globally-minimum surviving edge always matches,
so every round makes progress and the result is a maximal (not maximum —
greedy 1/2-approximation) matching, a pure function of (graph, salt).

Matching is the standard coarsening step of multilevel graph algorithms
(METIS-style partitioning, multilevel community detection, graph-drawing
pipelines): contract each matched pair into a super-vertex and recurse
on the ~half-size graph. `coarsen_graph` performs one contraction level
(super-vertex id = min of the pair, the engine-wide canonical-id rule).

The round loop is plans/fixpoint.py. The state is one table (u, v, m):
the matched edges (m) and the still active ones; an edge that loses an
endpoint to a match is dropped. Priorities are pure JVM expressions over
the active edges; the per-vertex minimum is ONE partial-combined
aggregate over the 2|E| incident list (min(struct) — the labelprop
tie-break discipline, hub-safe because partial aggregation caps map
output at one row per vertex per map task); an edge chosen by both
endpoints is matched, a vertex-scale count. The round's matches feed
the removal of their endpoints' edges and the next state, so the step
materializes them (one job) and the driver releases them; the driver's
stats job (active and matched counts) is the second. Two Spark jobs
per round.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pargraph_spark.operators.edges import canonical_undirected
from pargraph_spark.plans.fixpoint import run_fixpoint
from pargraph_spark.plans.metrics import JobMetrics


@dataclass
class MatchingResult:
    matches: DataFrame  # (u, v) with u < v — the matched pairs
    rounds: int
    converged: bool     # True iff the surviving edge set emptied
    metrics: JobMetrics = field(default_factory=lambda: JobMetrics("matching"))


def maximal_matching(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 50,
    salt: str = "mm",
    num_partitions: int | None = None,
) -> MatchingResult:
    """edges(src, dst) treated undirected → deterministic greedy maximal
    matching (u, v). Every vertex appears in at most one output pair."""
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    rnd = 0

    def step(state: DataFrame, prev) -> tuple[DataFrame, list[DataFrame]]:
        nonlocal rnd
        rnd += 1
        act = state.where(~F.col("m"))
        pri = act.select(
            "u", "v",
            F.md5(
                F.concat_ws(
                    "|", F.lit(salt), F.lit(str(rnd)),
                    F.col("u").cast("string"), F.col("v").cast("string"),
                ).cast("binary")
            ).alias("p"),
        )
        # each vertex picks its minimum-priority incident edge; an edge
        # picked by both of its endpoints is matched. The round's matches
        # feed both removals and the next state, so they are materialized
        best = (
            pri.select(F.col("u").alias("x"), "p", "u", "v")
            .unionByName(pri.select(F.col("v").alias("x"), "p", "u", "v"))
            .groupBy("x")
            .agg(F.min(F.struct("p", "u", "v")).alias("b"))
        )
        new_m = (
            best.groupBy(F.col("b.u").alias("u"), F.col("b.v").alias("v"))
            .count()
            .where(F.col("count") == 2)
            .select("u", "v")
            .localCheckpoint()
        )
        matched = new_m.select(F.col("u").alias("x")).unionByName(
            new_m.select(F.col("v").alias("x")))
        rest = (
            act.join(matched.withColumnRenamed("x", "u").hint("shuffle_hash"),
                     "u", "left_anti")
            .join(matched.withColumnRenamed("x", "v").hint("shuffle_hash"),
                  "v", "left_anti")
        )
        # repartitioned: a union concatenates its inputs' partitions, and
        # the next round's first anti join then probes on u in place
        return (
            state.where(F.col("m"))
            .unionByName(new_m.withColumn("m", F.lit(True)))
            .unionByName(rest.select("u", "v", F.lit(False).alias("m")))
            .repartition(P, "u")
        ), [new_m]

    res = run_fixpoint(
        spark,
        lambda: canonical_undirected(edges)
        .select(F.col("a").alias("u"), F.col("b").alias("v"), F.lit(False).alias("m"))
        .repartition(P, "u"),
        step,
        [F.count_if(~F.col("m")).alias("active"),
         F.count_if(F.col("m")).alias("matched")],
        lambda s, prev: s["active"] == 0,
        name="matching", P=P, max_iter=max_rounds,
        edges=lambda s: s["active"],
        delta=lambda s, prev: float(s["matched"] - prev["matched"]),
    )
    # every round with an active edge matches one (the globally minimum
    # edge); an edgeless graph runs one round that matches none
    rounds = sum(m.delta > 0 for m in res.metrics.supersteps)
    return MatchingResult(res.state.where(F.col("m")).select("u", "v"), rounds,
                          res.converged, res.metrics)


def coarsen_graph(edges: DataFrame, matches: DataFrame) -> DataFrame:
    """One contraction level: map each matched pair to the super-vertex
    min(u, v), unmatched vertices map to themselves; returns the distinct
    contracted edge set (cu, cv) with cu < cv, self-loops dropped. The
    half of a multilevel V-cycle that halves the graph."""
    vmap = matches.select(
        F.col("u").alias("id"), F.col("u").alias("cid")
    ).unionByName(matches.select(F.col("v").alias("id"), F.col("u").alias("cid")))
    und = canonical_undirected(edges).withColumnsRenamed({"a": "u", "b": "v"})
    mapped = (
        und.join(vmap.withColumnRenamed("id", "u").withColumnRenamed("cid", "_cu"),
                 "u", "left")
        .join(vmap.withColumnRenamed("id", "v").withColumnRenamed("cid", "_cv"),
              "v", "left")
        .select(
            F.coalesce("_cu", F.col("u")).alias("a"),
            F.coalesce("_cv", F.col("v")).alias("b"),
        )
    )
    return (
        mapped.select(F.least("a", "b").alias("cu"), F.greatest("a", "b").alias("cv"))
        .where(F.col("cu") != F.col("cv"))
        .distinct()
    )
