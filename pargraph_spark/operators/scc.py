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

Plan shape: every inner fixpoint runs on plans/fixpoint.py, one state
table each, ONE Spark job per round (its stats aggregate materializes
the round's checkpoint) plus one setup job; the whole call runs under
``no_aqe(P)`` so every state records hash(id, P). The active edge set
(u, v) = (src, dst) is persisted TWICE — edges.adjacency's copy on u
(trim, forward coloring) and a copy on v (trim, backward sweep) — the
hits/salsa dual-copy rule, so no inner round
exchanges the E-scale relation: it is probed in place and only V-scale
message tables shuffle (partial-combined map-side, which absorbs hub
skew). The states are

  trim     (id, color = id)           the vertices still alive
  coloring (id, color, _chg)          stat count_if(_chg)
  sweep    (id, color, in_scc, _chg)  stats count_if(_chg), count_if(in_scc)

and a round combines messages into its state by union + aggregate or by
semi joins, never by a join of the state with a table derived from it.
Between outer rounds the edge copies shrink to the vertices left. The
result is one materialized table; every checkpoint and persisted copy
the call made is released before it returns.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pargraph_spark.operators.bfs import _bfs
from pargraph_spark.operators.edges import adjacency
from pargraph_spark.plans.fixpoint import release, run_fixpoint
from pargraph_spark.plans.metrics import JobMetrics, SuperstepMetric
from pargraph_spark.session import no_aqe, size_based_partitions


@dataclass
class SCCResult:
    components: DataFrame  # (id: long, scc: long) — scc = min member id
    outer_rounds: int
    converged: bool
    metrics: JobMetrics = field(default_factory=lambda: JobMetrics("scc"))


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

    def trim(v: DataFrame, prev) -> DataFrame:
        # a vertex with no out-edge or no in-edge inside the alive set is a
        # singleton SCC: keep the alive vertices with an edge to an alive
        # vertex and one from an alive vertex (both copies probed in place)
        has_out = (
            e_dst.join(v.select(F.col("id").alias("v")).hint("shuffle_hash"),
                       "v", "left_semi")
            .select(F.col("u").alias("id")).distinct()
        )
        has_in = (
            e_src.join(v.select(F.col("id").alias("u")).hint("shuffle_hash"),
                       "u", "left_semi")
            .select(F.col("v").alias("id")).distinct()
        )
        return (v.join(has_out.hint("shuffle_hash"), "id", "left_semi")
                .join(has_in.hint("shuffle_hash"), "id", "left_semi"))

    def color(state: DataFrame, prev) -> DataFrame:
        # delta frontier: min-propagation is monotone, so only vertices
        # whose color just improved re-emit; messages to vertices outside
        # the state (trimmed or extracted) have no state row and drop
        msgs = (
            e_src.join(
                state.where("_chg").select(F.col("id").alias("u"), "color")
                .hint("shuffle_hash"),
                "u",
            )
            .groupBy(F.col("v").alias("id"))
            .agg(F.min("color").alias("_m"))
        )
        return (
            state.select("id", "color")
            .unionByName(msgs, allowMissingColumns=True)
            .groupBy("id")
            .agg(F.min("color").alias("color"), F.min("_m").alias("_m"))
            .where(F.col("color").isNotNull())
            .select("id", F.least("color", "_m").alias("color"),
                    F.coalesce(F.col("_m") < F.col("color"), F.lit(False)).alias("_chg"))
        )

    def sweep(state: DataFrame, prev) -> DataFrame:
        # newly joined members notify their in-neighbors. At the coloring
        # fixpoint color(v) >= color(w) on every edge v -> w, so a vertex
        # joins iff the LARGEST color offered to it equals its own
        offers = (
            e_dst.join(
                state.where("_chg").select(F.col("id").alias("v"), "color")
                .hint("shuffle_hash"),
                "v",
            )
            .groupBy(F.col("u").alias("id"))
            .agg(F.max("color").alias("_o"))
        )
        return (
            state.select("id", "color", "in_scc")
            .unionByName(offers, allowMissingColumns=True)
            .groupBy("id")
            .agg(F.max("color").alias("color"), F.max("in_scc").alias("in_scc"),
                 F.max("_o").alias("_o"))
            .where(F.col("color").isNotNull())
            .select("id", "color",
                    (F.col("in_scc") | F.coalesce(F.col("_o") == F.col("color"), F.lit(False)))
                    .alias("in_scc"),
                    (~F.col("in_scc") & F.coalesce(F.col("_o") == F.col("color"), F.lit(False)))
                    .alias("_chg"))
        )

    def fixpoint(init, step, stats, done, name, max_iter):
        return run_fixpoint(spark, init, step, stats, done, name=name, P=P,
                            max_iter=max_iter, edges=0, plan=f"{name}_round")

    def truncated(phase: str) -> RuntimeError:
        # a truncated coloring or sweep would silently FRAGMENT real SCCs
        # (a cycle longer than max_inner would come back as singletons) —
        # propagation depth is bounded by the longest simple path, so
        # failing loudly is the only honest outcome
        return RuntimeError(f"scc: {phase} did not reach fixpoint within "
                            f"max_inner={max_inner} rounds — raise max_inner")

    with no_aqe(spark, P):
        # the active edges (u, v) = (src, dst), on hash(u) and hash(v)
        e_src, _ = adjacency(
            edges.select(F.col("src").cast("long"), F.col("dst").cast("long")), P)
        e_dst = e_src.repartition(P, "v").persist()
        # every vertex with its initial color, id (aliased BEFORE the
        # exchange: a checkpoint of a projection that aliases id records
        # hash(alias), and the first round would re-exchange the state)
        verts = (
            vertices.select(F.col("id").cast("long"))
            if vertices is not None
            else e_src.select(F.col("u").alias("id")).unionByName(
                e_src.select(F.col("v").alias("id")))
        ).distinct().select("id", F.col("id").alias("color")).repartition(
            P, "id").localCheckpoint(eager=True)
        left = verts
        # the result: one row per vertex, the minimum over its own id and
        # the color of the round that extracted it (the minimum member id)
        out = verts
        swept: list[DataFrame] = []  # each round's final sweep state
        converged = False
        outer = 0

        while outer < max_outer:
            outer += 1
            t0 = time.monotonic()
            if swept:
                # drop the extracted SCCs' edges: the semi join on u
                # probes e_src in place, the one on v lands hash(v)
                shrunk = (
                    e_src.join(left.select(F.col("id").alias("u")).hint("shuffle_hash"),
                               "u", "left_semi")
                    .join(left.select(F.col("id").alias("v")).hint("shuffle_hash"),
                          "v", "left_semi")
                    .persist()
                )
                shrunk.count()
                e_src.unpersist()
                e_dst.unpersist()
                e_dst, e_src = shrunk, shrunk.repartition(P, "u").persist()

            # ---- 1. trim to fixpoint (not a correctness step: a vertex
            # it leaves is still extracted below, so max_inner may cut it)
            tr = fixpoint(lambda: left, trim, [F.count("*").alias("n")],
                          lambda s, prev: s["n"] in (0, prev["n"]),
                          "scc_trim", max_inner)
            n_active = tr.stats["n"]
            if n_active == 0:
                release(tr.state)
                converged = True
                break

            # ---- 2. forward min-label coloring to fixpoint
            co = fixpoint(
                lambda: tr.state.withColumn("_chg", F.lit(True)),
                color, [F.count_if("_chg")], lambda s, prev: s[0] == 0,
                "scc_color", max_inner)
            release(tr.state)
            if not co.converged:
                raise truncated("forward coloring")

            # ---- 3. backward sweep from the roots (color == id)
            sw = fixpoint(
                lambda: co.state.select(
                    "id", "color", (F.col("color") == F.col("id")).alias("in_scc"),
                    (F.col("color") == F.col("id")).alias("_chg")),
                sweep,
                [F.count_if("_chg").alias("changed"),
                 F.count_if("in_scc").alias("members")],
                lambda s, prev: s["changed"] == 0,
                "scc_sweep", max_inner)
            release(co.state)
            if not sw.converged:
                raise truncated("backward sweep")

            # ---- 4. the members are extracted; the rest go round again
            swept.append(sw.state)
            out = out.unionByName(sw.state.where("in_scc").select("id", "color"))
            n_left = n_active - sw.stats["members"]
            metrics.supersteps.append(
                SuperstepMetric(outer, (time.monotonic() - t0) * 1000.0, n_left, 0.0)
            )
            if n_left == 0:
                converged = True
                break
            left = sw.state.where(~F.col("in_scc")).select(
                "id", F.col("id").alias("color"))

        out = out.groupBy("id").agg(F.min("color").alias("scc")).localCheckpoint(eager=True)
    for df in (verts, *swept):
        release(df)
    e_src.unpersist()
    e_dst.unpersist()
    return SCCResult(out, outer, converged, metrics)


# --------------------------------------------------------------------------
# Bowtie decomposition (Broder et al., WWW'00)
# --------------------------------------------------------------------------

REGIONS = ("CORE", "IN", "OUT", "TUBES", "TENDRILS", "DISCONNECTED")


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

    Four closures, each the multi-source BFS of bfs.py (one Spark job per
    hop) over a forward or a reversed persisted adjacency: a closure is
    the BFS visited set at dist > 0. ``scc`` (id, scc) is read several
    times, so pass a materialized table (``SCCResult.components`` is one);
    it is the caller's and is not released.
    """
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    P = size_based_partitions(edges, P)
    owned = scc is None
    if owned:
        scc = strongly_connected_components(
            spark, edges, num_partitions=P, max_inner=max_inner
        ).components
    core_row = (scc.groupBy("scc").count()
                .orderBy(F.desc("count"), F.asc("scc")).first())
    if core_row is None:
        if owned:
            release(scc)
        return spark.createDataFrame([], "id long, region string")
    core = scc.where(F.col("scc") == F.lit(core_row["scc"])).select("id")

    fwd = adjacency(edges, P)
    bwd = adjacency(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")), P)
    visited: list[DataFrame] = []

    def closure(adj: tuple[DataFrame, int], seeds: DataFrame) -> DataFrame:
        state, _, exhausted, _ = _bfs(spark, *adj, seeds, (), max_inner, P, "bowtie")
        visited.append(state)
        if not exhausted:
            # an unfinished closure silently mislabels bowtie regions —
            # fail loudly (BFS depth is bounded by the graph diameter)
            raise RuntimeError(
                f"closure did not terminate within max_inner={max_inner} "
                f"BFS rounds — raise max_inner"
            )
        return state.where(F.col("dist") > 0).select("id")

    out_set = closure(fwd, core)
    in_set = closure(bwd, core)
    fwd_from_in = closure(fwd, in_set)
    bwd_from_out = closure(bwd, out_set)
    known = core.unionByName(in_set).unionByName(out_set)
    tubes = (
        fwd_from_in.join(bwd_from_out, "id", "left_semi")
        .join(known, "id", "left_anti")
    )
    tendrils = (
        fwd_from_in.unionByName(bwd_from_out)
        .distinct()
        .join(known, "id", "left_anti")
        .join(tubes, "id", "left_anti")
    )

    labeled = (
        core.withColumn("region", F.lit("CORE"))
        .unionByName(in_set.withColumn("region", F.lit("IN")))
        .unionByName(out_set.withColumn("region", F.lit("OUT")))
        .unionByName(tubes.withColumn("region", F.lit("TUBES")))
        .unionByName(tendrils.withColumn("region", F.lit("TENDRILS")))
    )
    rest = scc.select("id").join(labeled.select("id"), "id", "left_anti").withColumn(
        "region", F.lit("DISCONNECTED")
    )
    # materialized, so every table it reads can be released before return
    out = labeled.unionByName(rest).repartition(P, "id").localCheckpoint(eager=True)
    fwd[0].unpersist()
    bwd[0].unpersist()
    for df in (*visited, *([scc] if owned else [])):
        release(df)
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
    on its probe key csrc. The layering runs on plans/fixpoint.py over
    one state (c, layer, _chg) on hash(c), one Spark job per round: the
    components whose layer just grew probe the edge set in place, the
    max per cdst partial-combines, and union + aggregate folds it into
    the state. The final join back to vertices is one V-scale join.
    """
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    owned = scc is None
    if owned:
        scc = strongly_connected_components(spark, edges, num_partitions=P).components
    with no_aqe(spark, P):
        comps = scc.repartition(P, "id").persist()
        comps.count()
        ce = (
            edges.join(comps.select(F.col("id").alias("src"),
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

        def step(state: DataFrame, prev) -> DataFrame:
            nl = (
                ce.join(state.where("_chg").select(F.col("c").alias("csrc"), "layer")
                        .hint("shuffle_hash"), "csrc")
                .groupBy(F.col("cdst").alias("c"))
                .agg((F.max("layer") + 1).alias("_nl"))
            )
            return (
                state.select("c", "layer")
                .unionByName(nl, allowMissingColumns=True)
                .groupBy("c")
                .agg(F.max("layer").alias("layer"), F.max("_nl").alias("_nl"))
                .select("c", F.greatest("layer", "_nl").alias("layer"),
                        F.coalesce(F.col("_nl") > F.col("layer"), F.lit(False)).alias("_chg"))
            )

        res = run_fixpoint(
            spark,
            lambda: comps.select(F.col("scc").alias("c")).distinct().select(
                "c", F.lit(0).cast("long").alias("layer"), F.lit(True).alias("_chg")),
            step, [F.count_if("_chg")], lambda s, prev: s[0] == 0,
            name="condensation_layers", P=P, max_iter=max_rounds, edges=0,
        )
        out = (
            comps.join(res.state.select(F.col("c").alias("scc"), "layer"), "scc")
            .select("id", "scc", "layer")
            .localCheckpoint(eager=True)
        )
    comps.unpersist()
    release(res.state)
    if owned:
        release(scc)
    # the round that changes nothing is not a round
    return CondensationResult(ce, out, res.iterations - res.converged, res.converged)
