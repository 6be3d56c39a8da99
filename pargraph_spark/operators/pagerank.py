"""O6 — iterative PageRank with dangling-mass redistribution (SURVEY.md §2.3).

One superstep plan, the reference's GraphBLAS SpMV frontier kernel
(graphlib_graphblas.py:156-167) written as a join-aggregate query: the
rank vector joins the hash(src)-co-partitioned edge table in place,
each task partially aggregates its messages by dst (the partition-local
SpMV; map-side combining also absorbs hub-dst skew), and one hash
shuffle sums them by dst. Whole-stage-codegen JVM end to end.

Semantics (shared with tests/oracles.py::pagerank_oracle):
    r_0(v)     = 1/N
    r_{t+1}(v) = (1-d)/N + d * ( Σ_{u→v} r_t(u)/outdeg(u) + dang_t/N )
    dang_t     = Σ_{outdeg(u)=0} r_t(u)
    stop when L∞(r_{t+1}-r_t) < tol   (scores allclose 1e-6 vs oracle)

The superstep loop is plans/fixpoint.py (the Spark analogue of the
reference's scheduling loop, engine.py:42-129):
- each superstep's ranks are lazily checkpointed, truncating lineage (the
  analogue of pargraph's ref-count release, engine.py:63-76);
- exactly 1 Spark job per superstep: ONE aggregate over the new ranks
  yields (L∞ delta of this superstep, dangling mass for the next) and
  materializes the checkpoint blocks in the same job;
- the whole loop runs under no_aqe(P), so the state keeps its recorded
  hash(id, P) partitioning and a superstep has one Exchange, the message
  aggregation;
- checkpoint_every supersteps → parquet + manifest (plans/checkpoint.py);
  resume picks up from the newest committed manifest.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pargraph_spark.operators.edges import adjacency
from pargraph_spark.plans.checkpoint import CheckpointManager
from pargraph_spark.plans.fixpoint import run_fixpoint
from pargraph_spark.plans.metrics import JobMetrics
from pargraph_spark.session import no_aqe, size_based_partitions


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id: long, rank: double)
    iterations: int
    converged: bool
    metrics: JobMetrics
    deltas: list[float] = field(default_factory=list)


def _vertex_base(
    edges: DataFrame, vertices: DataFrame | None, weighted: bool = False
) -> DataFrame:
    """(id, outdeg) for every vertex; outdeg=0 for dangling. Weighted
    graphs use total out-WEIGHT as outdeg (the message denominator)."""
    if vertices is None:
        vertices = (
            edges.select(F.col("src").alias("id"))
            .unionByName(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
    else:
        vertices = vertices.select("id")
    agg = F.sum("w") if weighted else F.count("*")
    od = edges.groupBy(F.col("src").alias("id")).agg(agg.alias("outdeg"))
    return vertices.join(od, "id", "left").select(
        "id", F.coalesce("outdeg", F.lit(0)).alias("outdeg")
    )


def load_latest_ranks(
    spark: SparkSession, checkpoint_dir: str, job: str = "pagerank"
) -> DataFrame | None:
    """(id, rank) from the newest committed checkpoint of a previous run,
    or None if none exists — the warm_start feed for incremental PageRank
    over edge-store appends (half-written checkpoints are invisible by the
    manifest commit protocol, so this never reads torn state)."""
    ckpt = CheckpointManager(checkpoint_dir, job)
    m = ckpt.latest()
    if m is None:
        return None
    return ckpt.load(spark, int(m["superstep"])).select("id", "rank")


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    damping: float = 0.85,
    tol: float = 1e-9,
    max_iter: int = 100,
    mode: str = "dataframe",
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    teleport: DataFrame | None = None,
    weight_col: str | None = None,
    warm_start: DataFrame | None = None,
) -> PageRankResult:
    """mode: "dataframe" is the only value. The keyword remains because
    existing callers pass it; anything else raises ValueError.

    teleport: optional (id, w) seed distribution → PERSONALIZED PageRank:
        r_0(v)     = T(v)
        r_{t+1}(v) = (1-d)·T(v) + d·(Σ_{u→v} r_t(u)/outdeg(u) + dang_t·T(v))
    where T is `w` normalized over the vertices present (vertices absent
    from `teleport` get T=0 and accrue rank only via incoming links;
    dangling mass re-enters through T, the standard PPR formulation).
    teleport=None is classic PageRank (T = 1/N everywhere).

    weight_col: optional edge-weight column → WEIGHTED PageRank: a source
    splits its rank proportionally to edge weight, r(u)·w(u,v)/W(u) with
    W(u) = Σ_out w (duplicate (src,dst) rows combine by summing weights).

    warm_start: optional (id, rank) prior — e.g. the converged ranks of a
    previous run loaded via load_latest_ranks — for INCREMENTAL PageRank
    after an edge/vertex drop lands (append_bucketed_edges): r_0(v) =
    prior rank if present, else _tw for vertices new to the graph. The
    fixpoint is unique and the iteration renormalizes total mass
    geometrically (Σr_{t+1} = (1-d) + d·Σr_t), so a warm run converges to
    the SAME ranks as a cold run on the union graph — just in fewer
    supersteps when the drop is small relative to the graph. Ignored when
    `resume` finds a committed checkpoint of THIS run (mid-run state beats
    a cross-run prior)."""
    if mode != "dataframe":
        raise ValueError(f"unknown mode {mode!r}; only 'dataframe' exists")
    P = num_partitions or spark.conf.get("spark.sql.shuffle.partitions")
    # scale-adaptive: treat the caller's count as a cap and size the
    # edge/state partitioning from the input's estimated bytes (guide
    # §2.2 — fewer, larger partitions; the loops below run under no_aqe,
    # so AQE cannot coalesce for us)
    P = size_based_partitions(edges, int(P))

    # the persisted hash(src) edge table, under the names the superstep
    # reads (a renaming projection keeps the partitioning)
    w = [F.col(weight_col).cast("double").alias("w")] if weight_col is not None else []
    adj, n_edges = adjacency(edges.select("src", "dst", *w), P,
                             weight="sum" if weight_col is not None else None)
    edges = adj.withColumnsRenamed({"u": "src", "v": "dst"})
    with no_aqe(spark, P):
        base = _vertex_base(
            edges, vertices, weighted=weight_col is not None
        ).repartition(P, "id").persist()
        n = base.count()

    def _with_teleport(df: DataFrame) -> DataFrame:
        """Attach the teleport weight column _tw (pure function of the
        teleport arg — identical on fresh runs and resumes). With
        teleport=None the weight is the CONSTANT 1/N — carried as the
        `tw` literal expression instead of a materialized column, so the
        classic-PageRank iteration state is one double narrower through
        every exchange and checkpoint (guide §2.3, narrower shuffle rows).
        The produced ranks are bit-identical: the same 1/N double
        participates in the same expressions."""
        if teleport is None:
            return df
        t = teleport.select(F.col("id"), F.col("w").cast("double").alias("_w"))
        # Normalize over teleport ids PRESENT IN THE GRAPH only: weights on
        # unknown ids would otherwise shrink ΣT below 1 and leak rank mass
        # every iteration. `base` holds the full vertex set.
        t = t.join(base.select("id"), "id", "left_semi")
        total = float(t.agg(F.sum("_w")).first()[0] or 0.0)
        if total <= 0:
            adj.unpersist()
            base.unpersist()
            raise ValueError("teleport weights must sum to a positive value")
        return (
            df.join(F.broadcast(t), "id", "left")
            .withColumn("_tw", F.coalesce(F.col("_w") / F.lit(total), F.lit(0.0)))
            .drop("_w")
        )

    if n == 0:
        adj.unpersist()
        base.unpersist()
        empty = spark.createDataFrame([], "id long, rank double")
        return PageRankResult(empty, 0, True, JobMetrics("pagerank"))

    # teleport weight as an expression: a literal for classic PageRank
    # (state stays narrow), the materialized _tw column for personalized
    tw = F.lit(1.0 / n) if teleport is None else F.col("_tw")
    state_cols = ["id", "outdeg"] + (["_tw"] if teleport is not None else [])

    def _state(ranks: DataFrame) -> DataFrame:
        """Normalize a fresh or resumed rank table to the loop state
        (state_cols, rank, _prev), hash(id, P)-partitioned. A resumed
        checkpoint may predate teleport or carry extra columns."""
        if teleport is not None and "_tw" not in ranks.columns:
            ranks = _with_teleport(ranks)
        if "_prev" not in ranks.columns:
            ranks = ranks.withColumn("_prev", F.lit(float("nan")))
        return ranks.select(*state_cols, "rank", "_prev").repartition(P, "id")

    def init() -> DataFrame:
        r0 = _with_teleport(base)
        if warm_start is not None:
            # prior ranks where known; teleport init for new vertices — then
            # RENORMALIZE to total mass exactly 1: injected/lost mass would
            # otherwise decay only at d^t per superstep (the slowest mode of
            # the iteration, Σr_{t+1} = (1-d) + d·Σr_t), which can be far
            # slower than the graph's own mixing and defeat the warm start.
            ws = warm_start.select("id", F.col("rank").cast("double").alias("_ws"))
            r0 = (
                r0.join(ws, "id", "left")
                .withColumn("_r0", F.coalesce(F.col("_ws"), tw))
                .drop("_ws")
            )
            tot = r0.agg(F.sum("_r0").alias("_tot"))
            r0 = (
                r0.crossJoin(F.broadcast(tot))
                .withColumn("rank", F.col("_r0") / F.col("_tot"))
                .drop("_r0", "_tot")
            )
        else:
            r0 = r0.withColumn("rank", tw)
        return _state(r0)

    def step(ranks: DataFrame, prev) -> DataFrame:
        contrib = (
            F.col("_rw") * edges["w"] if weight_col is not None else F.col("_rw")
        )
        # shuffle_hash: the build side is the V-scale rank projection
        # (V/P rows per task — bounded like any hash-agg state); SMJ
        # would re-SORT the persisted E-scale edge table every
        # superstep (guide §3.1: pick the strategy deliberately)
        msgs = (
            edges.join(
                ranks.where(F.col("outdeg") > 0).select(
                    F.col("id"), (F.col("rank") / F.col("outdeg")).alias("_rw")
                ).hint("shuffle_hash"),
                edges["src"] == F.col("id"),
            )
            .groupBy("dst")
            .agg(F.sum(contrib).alias("msg"))
        )
        # the previous state's dangling mass re-enters as a literal. It is
        # inlined into the generated Java source, so on a graph with
        # dangling vertices each superstep compiles about 2-3 new classes
        # the first time the graph is seen (a re-run hits the codegen
        # cache). A broadcast parameter row carrying the same IEEE-64 value
        # was measured: bit-identical ranks, pagerank's compiles 40 -> 10
        # on a first full pass, but one extra Spark job per superstep
        # (21 -> 36 jobs) and no CPU gain beyond noise, so it was rejected
        return ranks.join(msgs.hint("shuffle_hash"),
                          ranks["id"] == msgs["dst"], "left").select(
            *[ranks[c] for c in state_cols],
            (
                F.lit(1.0 - damping) * tw
                + F.lit(damping)
                * (F.coalesce(F.col("msg"), F.lit(0.0)) + F.lit(prev["dang"]) * tw)
            ).alias("rank"),
            ranks["rank"].alias("_prev"),
        )

    def done(s, prev) -> bool:
        d = s["delta"]
        return d is not None and d == d and d < tol  # NaN-safe

    res = run_fixpoint(
        spark, init, step,
        # ONE V-scan: the L∞ delta of this superstep and the dangling mass
        # the next one needs
        [F.max(F.abs(F.col("rank") - F.col("_prev"))).alias("delta"),
         F.coalesce(F.sum(F.when(F.col("outdeg") == 0, F.col("rank"))),
                    F.lit(0.0)).alias("dang")],
        done,
        name="pagerank[dataframe]", P=P, max_iter=max_iter, edges=n_edges,
        plan="pagerank_superstep", checkpoint_dir=checkpoint_dir, job="pagerank",
        checkpoint_every=checkpoint_every, resume=resume,
        restore=lambda df: _state(df.repartition(P, "id")),
        manifest=lambda s: {"delta": s["delta"], "damping": damping,
                            "n_vertices": n, "n_edges": n_edges},
    )
    result = res.state.select("id", "rank")
    # the state is checkpointed (independent of these lineages): release the iteration working set — the analogue of the reference's
    # ref-count release of dead intermediates (engine.py:63-76).
    adj.unpersist()
    base.unpersist()
    return PageRankResult(result, res.iterations, res.converged, res.metrics,
                          [m.delta for m in res.metrics.supersteps])
