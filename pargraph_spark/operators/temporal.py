"""Time-respecting reachability: single/multi-source earliest arrival.

On temporal graphs — edges stamped with a time t — plain reachability
overcounts: u reaches w through v only if the v→w edge fires AFTER u
arrived at v. The standard primitive (Wu et al., VLDB'14 "Path problems
in temporal graphs") is EARLIEST ARRIVAL: arr(v) = the minimum time any
time-respecting path from the seed set can reach v, via the fixpoint

    arr(v) = min( seed(v),  min over edges (u, v, t), t >= arr(u) of t )

which a frontier iteration solves exactly — keeping the minimum arrival
per vertex is safe because an earlier arrival can traverse every edge a
later one can (the relaxation is monotone non-increasing and converges
in ≤ longest-temporal-path rounds). Link-graph uses: information
cascade/contamination tracing through a crawl log ("which hosts could
have seen content X after time T"), influence reach over interaction
events.

Exactness: times may be any totally-ordered type (int64 epoch micros or
TIMESTAMP_NTZ — the latter avoids engine/session timezone reinterpretation
entirely); every step is a min over input values, nothing is derived, so
the DuckDB oracle (unrolled relaxation rounds) matches bit-for-bit.

Scale shape per round: ONE equi-hash join — the temporal edge table is
persisted once, hash-partitioned on src, and probed in place by the
current arrival table; the time guard t >= arr(u) is a post-join FILTER
on the equi-join row (no range-join machinery, no theta join), then one
min-aggregate keyed by vertex over the relaxed arrivals and the old
ones (map-side partial combine). Edges never re-exchange. The round loop
is plans/fixpoint.py: the state is one table (id, arr, _chg), one row
per reached vertex, _chg marking an arrival the round lowered; a round
costs one Spark job, the driver's stats job (changed count).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pargraph_spark.plans.fixpoint import run_fixpoint
from pargraph_spark.plans.metrics import JobMetrics


@dataclass
class TemporalReachResult:
    arrivals: DataFrame  # (id, arr) — reached vertices, earliest arrival
    rounds: int
    converged: bool
    metrics: JobMetrics = field(default_factory=lambda: JobMetrics("temporal_reach"))


def earliest_arrival(
    spark: SparkSession,
    tedges: DataFrame,
    seeds: DataFrame,
    max_rounds: int = 50,
    num_partitions: int | None = None,
    fixed_rounds: int | None = None,
) -> TemporalReachResult:
    """tedges(src, dst, t) + seeds(id[, arr]) → (id, arr).

    t/arr may be any orderable type — int64 epoch micros or TIMESTAMP_NTZ
    (kept raw: no epoch cast, so no session-timezone reinterpretation).
    A seed without an `arr` column is active from time 0 (numeric t only).
    Unreached vertices are absent from the output (bfs.py convention).
    fixed_rounds runs exactly that many relaxation rounds and never
    stops early (oracle parity; identity past the fixpoint).

    Incremental warm start (the pagerank/cc_incremental discipline): on
    an edge append E → E ∪ ΔE, pass the previous run's arrivals unioned
    with the original seeds as `seeds`. Every previous arrival is
    achievable on the superset graph and relaxation only ever produces
    achievable times, so the warm fixpoint equals the cold fixpoint over
    E ∪ ΔE — in rounds bounded by the NEW temporal paths' length, not
    the whole graph's (test_temporal.py pins warm == cold)."""
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    te = tedges.select("src", "dst", "t").repartition(P, "src").persist()
    n_edges = te.count()
    if "arr" in seeds.columns:
        arr = seeds.select("id", "arr")
    else:
        arr = seeds.select("id", F.lit(0).cast("long").alias("arr"))

    def step(state: DataFrame, prev) -> DataFrame:
        relax = (
            te.join(state.select(F.col("id").alias("src"), "arr").hint("shuffle_hash"),
                    "src")
            .where(F.col("t") >= F.col("arr"))
            .select(F.col("dst").alias("id"), F.col("t").alias("arr"))
        )
        # union + aggregate, not a join: Spark estimates a join as a
        # product, and the checkpoint carries the estimate on
        return (
            state.select("id", "arr", F.lit(True).alias("_own"))
            .unionByName(relax.withColumn("_own", F.lit(False)))
            .groupBy("id")
            .agg(F.min("arr").alias("arr"),
                 F.min(F.when(F.col("_own"), F.col("arr"))).alias("_old"))
            .select("id", "arr",
                    F.coalesce(F.col("arr") < F.col("_old"),
                               F.col("_old").isNull()).alias("_chg"))
        )

    res = run_fixpoint(
        spark,
        lambda: arr.groupBy("id").agg(F.min("arr").alias("arr"))
        .withColumn("_chg", F.lit(True)),
        step, [F.count_if("_chg")],
        (lambda s, prev: False) if fixed_rounds is not None
        else (lambda s, prev: s[0] == 0),
        name="temporal_reach", P=P,
        max_iter=fixed_rounds if fixed_rounds is not None else max_rounds,
        edges=n_edges,
    )
    te.unpersist()
    # the round that changed nothing is not one
    return TemporalReachResult(res.state.select("id", "arr"),
                               res.iterations - res.converged, res.converged,
                               res.metrics)


def handoff_edges(
    events: DataFrame,
    key_col: str,
    actor_col: str,
    ts_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Events → temporal handoff graph: for each interaction key, link
    each event's actor to the NEXT event's actor on that key, stamped
    with the later event's time — (src, dst, t) with t the raw ts_col
    value (TIMESTAMP_NTZ stays NTZ: no epoch conversion, timezone-proof).
    Linear in events (one lag window per key), no quadratic
    same-key pair blowup; self-handoffs are kept (they only tighten
    arrival times on the actor itself). tiebreak_col makes the per-key
    order total when timestamps can collide (pass the event id)."""
    from pyspark.sql.window import Window

    order = [F.col(ts_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else [F.col(actor_col)]
    )
    w = Window.partitionBy(key_col).orderBy(*order)
    return (
        events.select(
            F.col(actor_col).alias("dst"),
            F.lag(F.col(actor_col)).over(w).alias("src"),
            F.col(ts_col).alias("t"),
        )
        .where(F.col("src").isNotNull())
        .select("src", "dst", "t")
    )


def temporal_motifs(
    spark: SparkSession,
    tedges: DataFrame,
    delta: int,
    motif: str = "cycle",
    hot_cap: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """δ-bounded 3-edge temporal motif counts (Paranjape et al. WSDM'17,
    "Motifs in temporal networks"): ordered edge triples with strictly
    increasing times t1 < t2 < t3 <= t1 + delta over three distinct
    vertices. Two flagship shapes:

      cycle: u→v (t1), v→w (t2), w→u (t3)   — cyclic closure
      ffl:   u→v (t1), v→w (t2), u→w (t3)   — feed-forward cascade

    Returns one row per participating first-edge source u:
    (id, motifs:long) — exact integer counts (ties in timestamps never
    count: strict ordering keeps the count enumeration-invariant, so a
    brute-force oracle matches bit-for-bit).

    Scale shape: two equi-hash joins, never a range join — the wedge
    join keys on the shared middle vertex, the closing join on BOTH
    remaining endpoints, with the δ window as post-join filters; the
    wedge fan-out is bounded by hot_cap on the middle vertex's temporal
    degree (the butterflies.py hot-cap discipline: hubs are capped and
    reported, not silently exploded). The edge table is persisted in
    THREE copies, each partitioned on its join role's key — dst (e1's
    wedge side), src (e2's), and the closing pair key — so every join
    probes its copy in place and only wedge-scale intermediates ever
    shuffle (the hits/salsa dual-copy discipline, extended to the
    three-role triple join; a single src-partitioned copy would
    re-exchange E twice per call).

    Cites reference behavior only as absent: the reference engine has no
    temporal operators; this extends the same events surface that
    earliest_arrival serves.
    """
    if motif not in ("cycle", "ffl"):
        raise ValueError(f"motif must be 'cycle' or 'ffl', got {motif!r}")
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    te = tedges.select("src", "dst", "t").where(F.col("src") != F.col("dst"))
    if hot_cap is not None:
        deg = (
            te.select(F.col("src").alias("id"))
            .unionByName(te.select(F.col("dst").alias("id")))
            .groupBy("id")
            .agg(F.count("*").alias("_d"))
            .where(F.col("_d") > hot_cap)
            .select("id")
        )
        te = (
            te.join(F.broadcast(deg.withColumnRenamed("id", "src")),
                    "src", "left_anti")
            .join(F.broadcast(deg.withColumnRenamed("id", "dst")),
                  "dst", "left_anti")
        )
    e_dst = te.repartition(P, "dst").persist()
    e_src = te.repartition(P, "src").persist()
    # closing join is keyed ["u","w"]: cycle reads (w,u)=(src,dst) so the
    # hash key (u,w) is (dst,src); ffl reads (u,w)=(src,dst) directly
    close_key = ("dst", "src") if motif == "cycle" else ("src", "dst")
    e_close = te.repartition(P, *close_key).persist()
    e_dst.count()
    e_src.count()
    e_close.count()
    # wedge u→v→w: join on the middle vertex v = e1.dst = e2.src — each
    # side probes its co-partitioned copy in place
    wedge = (
        e_dst.select(F.col("src").alias("u"), F.col("dst").alias("v"),
                     F.col("t").alias("t1"))
        .join(e_src.select(F.col("src").alias("v"), F.col("dst").alias("w"),
                           F.col("t").alias("t2")), "v")
        .where(
            (F.col("t2") > F.col("t1"))
            & (F.col("t2") <= F.col("t1") + F.lit(delta))
            & (F.col("w") != F.col("u"))
        )
    )
    if motif == "cycle":
        close = e_close.select(F.col("src").alias("w"), F.col("dst").alias("u"),
                               F.col("t").alias("t3"))
    else:  # ffl
        close = e_close.select(F.col("src").alias("u"), F.col("dst").alias("w"),
                               F.col("t").alias("t3"))
    out = (
        wedge.join(close, ["u", "w"])
        .where(
            (F.col("t3") > F.col("t2"))
            & (F.col("t3") <= F.col("t1") + F.lit(delta))
        )
        .groupBy(F.col("u").alias("id"))
        .agg(F.count("*").alias("motifs"))
    )
    return out


def crawl_temporal_edges(pages: DataFrame) -> DataFrame:
    """Pages table → temporal link edges (src, dst, t): each page-level
    link stamped with the SOURCE page's crawl time (the instant the link
    was observed). Feeds earliest_arrival for crawl-log cascade tracing:
    "which pages could have picked up content X after time T" — a link
    u→v propagates only if v's inbound edges fire at-or-after content
    arrived on u. Input is latest-crawl-deduped first (sources.pages
    O1 semantics); ids are the same xxhash64 content hashes as
    edges.build_edges, so arrivals join directly against every other
    operator's vertex ids. One string join (edge src_url → page url)
    then hash projection — E-scale, single shuffle."""
    from pargraph_spark.operators.edges import edge_urls
    from pargraph_spark.operators.extract_links import extract_links
    from pargraph_spark.sources.pages import latest_pages

    lp = latest_pages(pages)
    eu = edge_urls(extract_links(lp)).dropDuplicates(["src_url", "dst_url"])
    return eu.join(
        lp.select(F.col("url").alias("src_url"), F.col("warc_ts").alias("t")),
        "src_url",
    ).select(
        F.xxhash64("src_url").alias("src"),
        F.xxhash64("dst_url").alias("dst"),
        "t",
    )
