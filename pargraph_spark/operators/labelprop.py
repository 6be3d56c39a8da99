"""O8 — synchronous label propagation with deterministic tie-break.

Semantics (shared with tests/oracles.py::label_propagation_oracle):
- undirected neighborhood (symmetrized edges, self-loops dropped)
- label_0(v) = v
- label_{t+1}(v) = argmax over neighbor labels by count, ties broken by
  MIN label — encoded in ONE aggregate as min(struct(-cnt, label)), so
  the result is partition-order-independent (floating tie-breaks would
  make runs diverge, SURVEY.md §7.2.2)
- isolated vertices keep their own label
- stops when no label changes (or max_iter; synchronous LPA can 2-cycle
  on bipartite structures — max_iter is the documented guard, and the
  oracle applies the identical rule so results stay comparable).

Scale notes: the per-round plan is join(sym-edges, labels) →
groupBy(dst,label).count → groupBy(dst).min(struct) — all three partial-
aggregate map-side; hot (hub) vertices produce at most
num_map_partitions × |distinct neighbor labels| partial rows.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pargraph_spark.operators.edges import adjacency
from pargraph_spark.plans.fixpoint import run_fixpoint
from pargraph_spark.plans.metrics import JobMetrics
from pargraph_spark.session import size_based_partitions


@dataclass
class LabelPropResult:
    labels: DataFrame  # (id: long, label: long)
    iterations: int
    converged: bool
    metrics: JobMetrics = field(default_factory=lambda: JobMetrics("labelprop"))


def _best_label(nbr: DataFrame) -> DataFrame:
    """(id, new_label) from votes (id, label, w): the label with the most
    vote weight, ties broken by MIN label, in ONE min(struct(-cnt, label))
    aggregate.

    Two-level vote aggregation, deliberately: a one-exchange variant
    (repartition raw votes hash(id, P); both aggs then run in place since
    hash(id) satisfies both clustered distributions) measured 0.72s/iter
    vs 1.1 locally but ships UNCOMBINED votes — a hub vertex's whole
    in-degree lands in one task, and AQE cannot split skewed aggregations
    (guide §2.5). The (id, label) exchange spreads a hot id across labels
    and partial map-side aggregation bounds what moves, which is the shape
    that survives 100 TB."""
    counted = nbr.groupBy("id", "label").agg(F.sum("w").alias("cnt"))
    return counted.groupBy("id").agg(
        F.min(F.struct((-F.col("cnt")).alias("negc"), F.col("label").alias("l"))).alias("b")
    ).select("id", F.col("b.l").alias("new_label"))


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 20,
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    weight_col: str | None = None,
) -> LabelPropResult:
    """checkpoint_dir enables superstep-granular restart (O11): the label
    assignment is the complete iteration state (the edge table is an input,
    rebuilt deterministically), so a resumed run replays from the newest
    committed manifest — synchronous LPA from identical labels is
    deterministic, hence resume == uninterrupted (tests/test_checkpoint.py).

    weight_col: optional edge weight → WEIGHTED LPA: a neighbor's vote
    counts w(u,v) instead of 1 (duplicate (u,v) rows combine by summing
    weights; symmetrization carries the weight both ways). Argmax by total
    incoming vote weight, ties still broken by MIN label. With integer
    weights the vote sums are exact, so results are deterministic and
    engine-independent (the contract-query configuration); float weights
    inherit summation-order sensitivity only at exact vote ties."""
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    P = size_based_partitions(edges, P)  # guide §2.2, size-derived cap
    # the vote weight keeps its natural type (integer weights => exact
    # vote sums); duplicate (u, v) rows take the unit weight once or sum
    w = F.col(weight_col) if weight_col is not None else F.lit(1).cast("long")
    sym, n_sym = adjacency(edges.select("src", "dst", w.alias("w")), P, symmetric=True,
                           weight="max" if weight_col is None else "sum")
    all_vertices = (
        vertices.select("id")
        if vertices is not None
        else edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )  # single consumer (the initial labels) — no persist

    def step(labels: DataFrame, prev) -> DataFrame:
        # message: each vertex u sends its label (vote weight w) to v
        # shuffle_hash: build on the V-scale label side instead of sorting
        # the persisted E-scale sym table every superstep (guide §3.1)
        nbr = sym.join(labels.hint("shuffle_hash"),
                       sym["u"] == labels["id"]).select(
            sym["v"].alias("id"), F.col("label"), sym["w"]
        )
        return labels.join(_best_label(nbr).hint("shuffle_hash"), "id", "left").select(
            "id",
            F.coalesce("new_label", "label").alias("label"),
            (F.coalesce("new_label", "label") != F.col("label")).alias("_chg"),
        )

    # hash(id, P) recorded at the checkpoint (no_aqe): the per-round probe
    # join and the label-update join then run exchange-free
    res = run_fixpoint(
        spark,
        lambda: all_vertices.select("id", F.col("id").alias("label"),
                                    F.lit(True).alias("_chg")).repartition(P, "id"),
        step, [F.count_if("_chg")], lambda s, prev: s[0] == 0,
        name="labelprop", P=P, max_iter=max_iter, edges=n_sym,
        plan="labelprop_superstep", checkpoint_dir=checkpoint_dir, job="labelprop",
        checkpoint_every=checkpoint_every, resume=resume,
        restore=lambda df: df.select("id", "label", F.lit(True).alias("_chg"))
        .repartition(P, "id"),
        manifest=lambda s: {"changed": int(s[0])},
    )
    sym.unpersist()
    return LabelPropResult(res.state.drop("_chg"), res.iterations, res.converged,
                           res.metrics)


def seeded_label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame,
    max_iter: int = 10,
    num_partitions: int | None = None,
    weight_col: str | None = None,
) -> LabelPropResult:
    """Semi-supervised label propagation (Zhu & Ghahramani 2002, the
    hard-clamp variant): seed vertices carry fixed labels (spam/ham,
    language, topic); every other vertex takes the majority label of its
    LABELED neighbors each round (vote = edge weight, ties -> MIN label)
    and stays unlabeled (NULL) until a labeled neighbor appears. Seeds
    never change — the clamp is what makes this classification rather
    than community detection, and it is the label-space companion of
    trust.py's TrustRank (propagate editorial judgments instead of
    numeric trust mass).

    Determinism matches label_propagation: one min(struct(-cnt, label))
    aggregate per round, integer vote sums, so the unrolled SQL oracle is
    exact. Plan shape is identical too — the symmetric edge table is
    persisted partitioned on the probe key u and probed in place; only
    the (id, label) vertex state shuffles per round.

    `seeds`: (id, label). Returns labels over the full vertex set with
    NULL for never-reached vertices."""
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    P = size_based_partitions(edges, P)
    w = F.col(weight_col) if weight_col is not None else F.lit(1).cast("long")
    sym, n_sym = adjacency(edges.select("src", "dst", w.alias("w")), P, symmetric=True,
                           weight="max" if weight_col is None else "sum")
    all_vertices = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .unionByName(seeds.select("id"))
        .distinct()
    )
    sd = seeds.select("id", F.col("label").cast("long").alias("_seed"))
    # persist: base (V-scale, built from an E-scale union+distinct) is
    # re-joined EVERY iteration for the seed clamp — unpersisted, each
    # superstep would re-scan the edge table twice
    base = all_vertices.join(sd, "id", "left").repartition(P, "id").persist()

    def step(labels: DataFrame, prev) -> DataFrame:
        nbr = (
            sym.join(labels.where(F.col("label").isNotNull())
                     .hint("shuffle_hash"),
                     sym["u"] == F.col("id"))
            .select(sym["v"].alias("id"), F.col("label"), sym["w"])
        )
        return (
            base.join(labels.select("id", F.col("label").alias("_old"))
                      .hint("shuffle_hash"), "id")
            .join(_best_label(nbr).hint("shuffle_hash"), "id", "left")
            .select(
                "id",
                # clamp beats vote beats carry-forward
                F.coalesce("_seed", "new_label", "_old").alias("label"),
                (~F.coalesce("_seed", "new_label", "_old").eqNullSafe(F.col("_old"))).alias("_chg"),
            )
        )

    res = run_fixpoint(
        spark,
        lambda: base.select("id", F.col("_seed").alias("label"), F.lit(True).alias("_chg")),
        step, [F.count_if("_chg")], lambda s, prev: s[0] == 0,
        name="seeded_labelprop", P=P, max_iter=max_iter, edges=n_sym,
    )
    sym.unpersist()
    base.unpersist()
    return LabelPropResult(res.state.drop("_chg"), res.iterations, res.converged,
                           res.metrics)
