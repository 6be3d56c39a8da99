"""Strongly connected components + bowtie decomposition (directed web graphs).

SCC is THE structural primitive for directed link graphs: Broder et al.'s
"Graph structure in the Web" (WWW'00) showed the crawlable web is a bowtie —
one giant SCC (the CORE), an IN set that reaches it, an OUT set it reaches,
plus TUBES/TENDRILS/DISCONNECTED. The reference's task-graph engine has no
graph-analytic operators at all (pargraph/engine/engine.py schedules DAGs of
user functions); this operator extends the engine's iterative-DataFrame
family (pagerank/components/labelprop) to the directed-connectivity tier.

Algorithm — the MultiStep/coloring scheme (Slota, Rajamanickam, Madduri,
IPDPS'14; also Orzan's OBF), re-expressed as DataFrame fixpoints:

  outer round:
    1. TRIM to fixpoint: a vertex with in-degree 0 or out-degree 0 in the
       active subgraph is a singleton SCC — assign and drop. Trimming
       removes tendril chains cheaply (shrinking-set shuffles) before any
       coloring work.
    2. FORWARD COLORING to fixpoint: color(v) = min id that reaches v,
       via min-label propagation along edge direction (the directed
       analogue of components.py's min propagation). Roots are vertices
       with color(v) == v.
    3. BACKWARD SWEEP to fixpoint: from each root r, propagate membership
       backward along edges, constrained to vertices with color == r.
       The reached set is EXACTLY SCC(r): color(v)==r means r reaches v,
       and the constrained backward path means v reaches r; conversely
       every member of SCC(r) has color r (a smaller-id reacher of any
       member would reach r itself, contradicting color(r)==r). The SCC
       id is r = the minimum member id — deterministic, so the mutual-
       reachability closure oracle (recursive CTE) is exact.
    4. Extract members, shrink the active vertex/edge set, repeat.

Every outer round extracts at least the SCC of the minimum active vertex
(always a root), and on web graphs the first coloring round captures the
giant SCC, so outer rounds are few (trim handles the chain-shaped tail
that would otherwise force one round per chain SCC).

Plan shape (the engine's iterative discipline): the active edge set is
persisted TWICE per outer round — partitioned by src (forward coloring
probes it in place) and by dst (backward sweep probes it in place) — the
hits/salsa dual-copy rule, so no inner iteration ever exchanges the
E-scale relation; only V-scale label/frontier tables shuffle. Inner loops
localCheckpoint their V-scale state each round (lineage truncation, the
ref-count-release analogue of /root/reference/pargraph/engine/
engine.py:63-76). Hub skew on the min-aggregates is absorbed map-side
(partial min/first combine) + AQE.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pargraph_spark.plans.debug import dump_plan
from pargraph_spark.plans.fixpoint import release
from pargraph_spark.plans.metrics import JobMetrics, SuperstepMetric
from pargraph_spark.session import no_aqe, size_based_partitions


@dataclass
class SCCResult:
    components: DataFrame  # (id: long, scc: long) — scc = min member id
    outer_rounds: int
    converged: bool
    metrics: JobMetrics = field(default_factory=lambda: JobMetrics("scc"))


def _dedup_edges(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_outer: int = 50,
    max_inner: int = 500,
    num_partitions: int | None = None,
) -> SCCResult:
    """edges(src, dst) directed [+ optional vertices(id)] → (id, scc).

    scc = the minimum vertex id in the component, so output is unique for
    a given graph regardless of execution order.
    """
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    P = size_based_partitions(edges, P)
    metrics = JobMetrics("scc")

    # whole fixpoint under no-AQE: checkpointed V-scale state keeps its
    # recorded hash partitioning (see session.no_aqe)
    with no_aqe(spark, P):
        # setup in ONE E-scale exchange: repartition on the probe key
        # first, then dedupe in place — hash(src) co-locates every
        # (src, dst) pair, so dropDuplicates adds no second exchange (the
        # old distinct-then-repartition shape exchanged E twice); persist,
        # NEVER localCheckpoint (the E-scale relation is probed in place
        # by every inner round)
        active_e = (
            edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
            .where(F.col("src") != F.col("dst"))
            .repartition(P, "src")
            .dropDuplicates(["src", "dst"])
            .persist()
        )
        active_e.count()
        # vertex set from the (now cached) edge table — two cache scans,
        # not two recomputations of the dedup pipeline
        verts = (
            vertices.select(F.col("id").cast("long"))
            if vertices is not None
            else active_e.select(F.col("src").alias("id")).unionByName(
                active_e.select(F.col("dst").alias("id"))
            )
        ).distinct().repartition(P, "id").localCheckpoint(eager=False)
        assigned: list[DataFrame] = []
        converged = False
        outer = 0

        while outer < max_outer:
            outer += 1
            t0 = time.monotonic()

            # ---- 1. trim to fixpoint: no-in or no-out vertices are singleton SCCs
            n_verts = verts.count()
            while True:
                has_out = active_e.select(F.col("src").alias("id")).distinct()
                has_in = active_e.select(F.col("dst").alias("id")).distinct()
                # no trailing repartition: verts is checkpointed hash(id, P)
                # (recorded under no_aqe) and the semi joins preserve it;
                # shuffle_hash builds on the deduped endpoint sets instead of
                # sorting both sides (guide §3.1)
                keep = (
                    verts.join(has_out.hint("shuffle_hash"), "id", "left_semi")
                    .join(has_in.hint("shuffle_hash"), "id", "left_semi")
                )
                dump_plan(keep, "scc_trim_round")
                # lazy checkpoint: the count below materializes the
                # blocks in the SAME job — one job per trim round, not two
                # (partitioning is recorded at the localCheckpoint call,
                # the full-scan count computes every partition)
                keep = keep.localCheckpoint(eager=False)
                n_keep = keep.count()
                n_trim = n_verts - n_keep
                if n_trim == 0:
                    verts = keep
                    break
                # trimmed's lineage is shallow (checkpointed verts ⋈ keep) — no
                # materialization needed, the final union reads it once
                trimmed = verts.join(keep, "id", "left_anti")
                assigned.append(trimmed.select("id", F.col("id").alias("scc")))
                verts = keep
                n_verts = n_keep
                if n_keep == 0:
                    break
                new_e = (
                    active_e.join(verts.select(F.col("id").alias("src")), "src", "left_semi")
                    .join(verts.select(F.col("id").alias("dst")), "dst", "left_semi")
                    .repartition(P, "src")
                    .persist()
                )
                new_e.count()
                active_e.unpersist()
                active_e = new_e

            n_active = n_verts
            if n_active == 0:
                converged = True
                break

            # ---- dual persisted copies: forward probes e_src, backward probes e_dst
            e_src = active_e  # already repartitioned on src by the trim loop
            e_dst = active_e.repartition(P, "dst").persist()
            e_dst.count()

            # ---- 2. forward min-label coloring to fixpoint — DELTA frontier:
            # min-propagation is monotone, so only vertices whose color just
            # improved need to re-emit; late-round cost is frontier-scale, not
            # V-scale (AQE broadcasts the shrinking frontier side)
            # NOTE: the init projection aliases id -> color and the recorded
            # checkpoint partitioning latches onto the alias (hash(color)),
            # so round 1 re-exchanges the V-scale state once; steady-state
            # rounds record hash(id) from the join output and run in place
            colors = verts.withColumn("color", F.col("id")).localCheckpoint(eager=True)
            frontier = colors
            held = colors  # released once the next checkpoint is counted
            fix = False
            for _ in range(max_inner):
                msgs = (
                    e_src.join(
                        frontier.select(F.col("id").alias("src"), "color")
                        .hint("shuffle_hash"),
                        "src",
                    )
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.min("color").alias("_mc"))
                )
                # colors (checkpointed hash(id, P)) and msgs (aggregate output,
                # hash(id, P)) are co-partitioned: the join and the checkpoint
                # need no exchange — the only shuffle per round is the message
                # aggregation itself
                new_colors = (
                    colors.join(msgs.hint("shuffle_hash"), "id", "left")
                    .select(
                        "id",
                        F.least(F.col("color"), F.coalesce("_mc", "color")).alias("color"),
                        (F.coalesce("_mc", "color") < F.col("color")).alias("_chg"),
                    )
                )
                dump_plan(new_colors, "scc_color_round")
                # lazy: the frontier count materializes state in one job
                new_colors = new_colors.localCheckpoint(eager=False)
                frontier = new_colors.where("_chg").select("id", "color")
                changed = frontier.count()
                release(held)
                held = new_colors
                colors = new_colors.drop("_chg")
                if not changed:
                    fix = True
                    break
            if not fix:
                # a truncated coloring would silently FRAGMENT real SCCs (a
                # cycle longer than max_inner would come back as singletons,
                # flagged converged) — propagation depth is bounded by the
                # longest simple path, so failing loudly is the only honest
                # outcome
                raise RuntimeError(
                    f"scc: forward coloring did not reach fixpoint within "
                    f"max_inner={max_inner} rounds — raise max_inner"
                )

            # ---- 3. constrained backward sweep from roots — same delta rule:
            # membership is monotone, only NEWLY-joined members notify their
            # in-neighbors
            state = colors.withColumn(
                "in_scc", F.col("color") == F.col("id")
            ).localCheckpoint(eager=True)
            release(held)
            held = state
            frontier = state.where("in_scc").select("id", "color")
            fix = False
            for _ in range(max_inner):
                cand = (
                    e_dst.join(
                        frontier.select(
                            F.col("id").alias("dst"), F.col("color").alias("_c")
                        ).hint("shuffle_hash"),
                        "dst",
                    )
                    .select(F.col("src").alias("_cid"), "_c")
                    .distinct()
                )
                # state stays hash(id, P); only the (deduped) candidate side
                # re-exchanges to the compatible hash(_cid, P) spec
                new_state = (
                    state.join(
                        cand.hint("shuffle_hash"),
                        (F.col("id") == F.col("_cid")) & (F.col("color") == F.col("_c")),
                        "left",
                    )
                    .select(
                        "id",
                        "color",
                        (F.col("in_scc") | F.col("_c").isNotNull()).alias("in_scc"),
                        (~F.col("in_scc") & F.col("_c").isNotNull()).alias("_chg"),
                    )
                )
                dump_plan(new_state, "scc_sweep_round")
                # lazy: the frontier count materializes state in one job
                new_state = new_state.localCheckpoint(eager=False)
                frontier = new_state.where("_chg").select("id", "color")
                changed = frontier.count()
                release(held)
                held = new_state
                state = new_state.drop("_chg")
                if not changed:
                    fix = True
                    break
            if not fix:
                raise RuntimeError(
                    f"scc: backward sweep did not reach fixpoint within "
                    f"max_inner={max_inner} rounds — raise max_inner"
                )

            # ---- 4. extract the discovered SCCs, shrink the active graph
            # (state is checkpointed, so members' lineage is shallow; the
            # lazy frames in assigned read this state, keep and verts, so
            # those checkpoints are never released)
            members = state.where("in_scc").select("id", F.col("color").alias("scc"))
            assigned.append(members)
            verts = (
                verts.join(members.select("id"), "id", "left_anti")
                .repartition(P, "id")
                # lazy: the count below materializes in the same job
                .localCheckpoint(eager=False)
            )
            n_left = verts.count()
            e_dst.unpersist()
            metrics.supersteps.append(
                SuperstepMetric(outer, (time.monotonic() - t0) * 1000.0, n_left, 0.0)
            )
            if n_left == 0:
                converged = True
                break
            new_e = (
                active_e.join(verts.select(F.col("id").alias("src")), "src", "left_semi")
                .join(verts.select(F.col("id").alias("dst")), "dst", "left_semi")
                .repartition(P, "src")
                .persist()
            )
            new_e.count()
            active_e.unpersist()
            active_e = new_e

    active_e.unpersist()
    if not converged:
        # max_outer exhausted: the still-active vertices really do get
        # scc=id rows (the comment's promise) so the output covers every
        # vertex; converged=False tells the caller these are provisional
        assigned.append(verts.select("id", F.col("id").alias("scc")))
    if assigned:
        out = assigned[0]
        for a in assigned[1:]:
            out = out.unionByName(a)
    else:
        out = spark.createDataFrame([], "id long, scc long")
    out = out.repartition(P, "id")
    return SCCResult(out, outer, converged, metrics)


# --------------------------------------------------------------------------
# Bowtie decomposition (Broder et al., WWW'00)
# --------------------------------------------------------------------------

REGIONS = ("CORE", "IN", "OUT", "TUBES", "TENDRILS", "DISCONNECTED")


def _closure_from(
    seed: DataFrame,
    e: DataFrame,
    src_col: str,
    dst_col: str,
    P: int,
    max_inner: int,
) -> DataFrame:
    """Vertices reachable from `seed` (exclusive) following (src_col →
    dst_col) edges; frontier BFS with visited-set anti-joins. `e` must be
    partitioned on src_col so the frontier join probes it in place."""
    visited = seed.select("id").localCheckpoint(eager=True)
    frontier = visited
    retired: list[DataFrame] = []  # superseded V-scale checkpoints
    done = False
    for _ in range(max_inner):
        nxt = (
            e.join(frontier.select(F.col("id").alias(src_col)), src_col)
            .select(F.col(dst_col).alias("id"))
            .distinct()
            .join(visited, "id", "left_anti")
            .repartition(P, "id")
            # lazy: the count below materializes in the same job
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            retired.append(nxt)
            done = True
            break
        retired.append(visited)
        visited = visited.unionByName(nxt).repartition(P, "id").localCheckpoint(
            eager=True
        )
        retired.append(nxt)
        frontier = nxt
    if not done:
        # an unfinished closure silently mislabels bowtie regions — fail
        # loudly (BFS depth is bounded by the graph diameter)
        raise RuntimeError(
            f"closure did not terminate within max_inner={max_inner} "
            f"BFS rounds — raise max_inner"
        )
    # return ONE materialized table and release every per-hop checkpoint
    # (4 closures × rounds × V-scale tables leak otherwise); the result
    # must be materialized BEFORE the final visited is released — a lazy
    # anti-join over a released LogicalRDD is unrecoverable
    out = (
        visited.join(seed.select("id"), "id", "left_anti")
        .localCheckpoint(eager=True)
    )
    retired.append(visited)
    for df in retired:
        release(df)
    return out


def bowtie_classify(
    spark: SparkSession,
    edges: DataFrame,
    scc: DataFrame | None = None,
    num_partitions: int | None = None,
    max_inner: int = 500,
) -> DataFrame:
    """edges(src, dst) → (id, region) with region ∈ REGIONS.

    CORE   = the largest SCC (ties → smallest scc id, so deterministic);
    IN     = reaches CORE, not in it;
    OUT    = reachable from CORE, not in it;
    TUBES  = on an IN→OUT path avoiding CORE (for v ∉ CORE∪OUT,
             reachable-from-IN already implies the path avoids CORE: any
             path through CORE would put v in OUT);
    TENDRILS = hangs off IN (forward) or into OUT (backward) but not both;
    DISCONNECTED = everything else.

    Four BFS closures over the same dual-partitioned persisted edge table;
    each closure shuffles only V-scale frontier/visited sets.
    """
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    e0 = _dedup_edges(edges)
    if scc is None:
        scc = strongly_connected_components(
            spark, edges, num_partitions=P, max_inner=max_inner
        ).components
    scc = scc.persist()

    sizes = scc.groupBy("scc").count()
    core_row = sizes.orderBy(F.desc("count"), F.asc("scc")).first()
    if core_row is None:
        # empty graph: release the persist the normal path would
        scc.unpersist()
        return spark.createDataFrame([], "id long, region string")
    core_id = int(core_row["scc"])
    core = scc.where(F.col("scc") == F.lit(core_id)).select("id").persist()

    e_src = e0.repartition(P, "src").persist()
    e_dst = e0.repartition(P, "dst").persist()
    e_src.count()
    e_dst.count()

    # _closure_from returns materialized localCheckpoint tables — no extra
    # persist needed (it would only duplicate the blocks)
    out_set = _closure_from(core, e_src, "src", "dst", P, max_inner)
    in_set = _closure_from(core, e_dst, "dst", "src", P, max_inner)

    fwd_from_in = _closure_from(in_set, e_src, "src", "dst", P, max_inner)
    bwd_from_out = _closure_from(out_set, e_dst, "dst", "src", P, max_inner)
    known = core.unionByName(in_set).unionByName(out_set)
    tubes = (
        fwd_from_in.join(bwd_from_out, "id", "left_semi")
        .join(known, "id", "left_anti")
        .persist()
    )
    tendrils = (
        fwd_from_in.unionByName(bwd_from_out)
        .distinct()
        .join(known, "id", "left_anti")
        .join(tubes, "id", "left_anti")
    )

    verts = scc.select("id").distinct()
    labeled = (
        core.withColumn("region", F.lit("CORE"))
        .unionByName(in_set.withColumn("region", F.lit("IN")))
        .unionByName(out_set.withColumn("region", F.lit("OUT")))
        .unionByName(tubes.withColumn("region", F.lit("TUBES")))
        .unionByName(tendrils.withColumn("region", F.lit("TENDRILS")))
    )
    rest = verts.join(labeled.select("id"), "id", "left_anti").withColumn(
        "region", F.lit("DISCONNECTED")
    )
    out = (
        labeled.unionByName(rest)
        .repartition(P, "id")
        # V-scale result: materialize so every persisted input below can
        # be released before return (otherwise two E-scale copies + five
        # V-scale sets stay pinned for the app lifetime)
        .localCheckpoint(eager=True)
    )
    for cached in (scc, core, e_src, e_dst, tubes):
        cached.unpersist()
    # the four closures are this function's own checkpoints
    for closure in (out_set, in_set, fwd_from_in, bwd_from_out):
        release(closure)
    return out


@dataclass
class CondensationResult:
    comp_edges: DataFrame  # (csrc, cdst) — distinct inter-SCC edges (a DAG)
    layers: DataFrame      # (id, scc, layer) — longest-path depth per vertex
    rounds: int
    converged: bool


def condensation_layers(
    spark: SparkSession,
    edges: DataFrame,
    scc: DataFrame | None = None,
    max_rounds: int = 50,
    num_partitions: int | None = None,
) -> CondensationResult:
    """SCC condensation + longest-path layering — the DAG depth structure
    of a web graph (how many inter-community hops separate a page from
    the crawl frontier's sources; the quantitative refinement of the
    bowtie's IN→CORE→OUT picture).

    The condensation (one node per SCC, distinct inter-SCC edges) is
    acyclic by construction, so the Bellman-style fixpoint

        layer(c) = 0                          if c has no predecessors
        layer(c) = 1 + max over preds layer   otherwise

    converges in (DAG depth) rounds to the longest-path depth — exact
    integers, deterministic, independent of iteration order. Components
    and layers are joined back to vertices: every member of an SCC shares
    its component's layer.

    Plan shape: the condensation edge set is tiny relative to E (it
    shrinks by the SCC sizes and the dedupe) and is persisted partitioned
    on its probe key csrc; each round joins the (comp, layer) state
    against it in place and partial-combines the max per cdst — the same
    zero-E-scale-exchange loop as the other fixpoints, at condensation
    scale. The final join back to vertices is one V-scale co-partitioned
    join.
    """
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    comps = (
        scc if scc is not None
        else strongly_connected_components(
            spark, edges, num_partitions=P
        ).components
    ).repartition(P, "id").persist()
    comps.count()
    e0 = _dedup_edges(edges)
    ce = (
        e0.join(comps.select(F.col("id").alias("src"),
                             F.col("scc").alias("csrc")), "src")
        .join(comps.select(F.col("id").alias("dst"),
                           F.col("scc").alias("cdst")), "dst")
        .where(F.col("csrc") != F.col("cdst"))
        .select("csrc", "cdst")
        .distinct()
        .repartition(P, "csrc")
        .persist()
    )
    ce.count()
    layers = (
        comps.select(F.col("scc").alias("c")).distinct()
        .withColumn("layer", F.lit(0).cast("long"))
        .repartition(P, "c")
        .localCheckpoint(eager=True)
    )
    rounds, converged = 0, False
    for r in range(1, max_rounds + 1):
        prop = (
            ce.join(layers, ce["csrc"] == layers["c"])
            .groupBy(ce["cdst"].alias("c"))
            .agg((F.max("layer") + 1).alias("_nl"))
        )
        new_layers = (
            layers.join(prop, "c", "left")
            .select(
                "c",
                F.greatest(F.col("layer"), F.coalesce("_nl", F.lit(0))).alias("layer"),
                (F.greatest(F.col("layer"), F.coalesce("_nl", F.lit(0)))
                 != F.col("layer")).alias("_chg"),
            )
            # lazy: the changed aggregate materializes in the same job
            .localCheckpoint(eager=False)
        )
        changed = new_layers.agg(F.sum(F.col("_chg").cast("long"))).first()[0] or 0
        layers = new_layers.drop("_chg")
        rounds = r
        if changed == 0:
            converged = True
            rounds = r - 1  # terminal identity round is not a round
            break
    out = (
        comps.join(layers.select(F.col("c").alias("scc"), "layer"), "scc")
        .select("id", "scc", "layer")
        # materialize BEFORE dropping the comps cache — unpersisting
        # first would make every consumer action recompute the full SCC
        # union that the persist was built to avoid
        .localCheckpoint(eager=True)
    )
    ce_out = ce
    comps.unpersist()
    return CondensationResult(ce_out, out, rounds, converged)
