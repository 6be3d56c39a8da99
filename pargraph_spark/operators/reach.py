"""Approximate per-vertex neighborhood function via deterministic
k-minimum-values sketches — the HyperANF class of algorithm (Boldi &
Vigna 2011) with a KMV estimator (Bar-Yossef et al. 2002) instead of
HyperLogLog registers.

What it computes: for every vertex, an estimate of |ball(v, t)| — the
number of distinct vertices within t hops — after t sketch-propagation
rounds. Summed over vertices this is the neighborhood function N(t),
whose saturation point is the graph's effective diameter; per-vertex it
ranks pages by how much of the web they can reach in t clicks (a
centrality signal PageRank doesn't give you).

Why KMV instead of HLL here: a KMV sketch is just the k smallest
values of a uniform hash over the ball — with md5 as the hash it is a
PURE function of the reachable set, so the whole computation is
bit-deterministic and carries an exact DuckDB value-oracle (the driver
gate), which register-based HLL can never do cross-engine. Accuracy is
the standard KMV bound (relative s.d. ≈ 1/√(k−2)); balls smaller than k
are EXACT (the sketch holds the whole ball).

Plan shape: the hop loop is plans/fixpoint.py over ONE state table
(t, v, h) on hash(v), one Spark job per hop. The propagation join probes
the persisted hash(u) adjacency (edges.adjacency, shared with hll_reach)
in place; the (v, h)-keyed distinct partial-combines map-side; the
per-vertex top-k compiles to WindowGroupLimit, whose Partial stage
bounds what a 10^8-degree hub ships to k rows per map task. kmv_reach
keeps only the last hop; harmonic centrality and the effective diameter
read every hop t from the same table. State per vertex and hop is ≤ k
rows × 16 B — 10^12 vertices × k=8 ≈ the size of one rank vector.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pargraph_spark.operators.edges import adjacency
from pargraph_spark.plans.fixpoint import release, run_fixpoint
from pargraph_spark.session import size_based_partitions

_HEX_BITS = 60  # 15 hex chars of md5 — fits BIGINT exactly in both engines


def _h60(col):
    """The 15-hex-char md5 prefix of ``col`` as a 60-bit BIGINT (guide
    §2.3, narrower types: 8 B per sketch value in every exchange, not a
    ~23 B string). Fixed-width hex sorts as its integer does, so min/max/
    top-k select the same values as over the hex strings the DuckDB
    oracle uses, and the estimator sees identical operands."""
    return F.conv(F.substring(F.md5(col.cast("string").cast("binary")), 1, 15),
                  16, 10).cast("bigint")


def _propagate(spark, edges, hops: int, k: int, num_partitions: int | None,
               keep_all: bool = False) -> DataFrame:
    """Run the KMV sketch-propagation loop; returns the checkpointed
    sketch rows (t, v, h) of the last hop (t = hops), or of every hop
    0..hops when keep_all."""
    from pyspark.sql import Window

    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    P = size_based_partitions(edges, P)  # guide §2.2, size-derived cap
    adj, n_adj = adjacency(edges, P, symmetric=True)
    w = Window.partitionBy("v").orderBy("h")

    def step(state: DataFrame, prev) -> DataFrame:
        t = prev["t"] or 0  # None: an empty graph
        rows = state.where(F.col("t") == t).select("v", "h")
        # rows is hash(v); renamed to u it co-partitions with adj, so the
        # propagation join runs in place (shuffle_hash: build the V·k
        # sketch side, never sort the E-scale adjacency)
        msgs = adj.join(rows.withColumnRenamed("v", "u").withColumnRenamed(
            "h", "_h").hint("shuffle_hash"), "u").select(
            "v", F.col("_h").alias("h"))
        nxt = (
            rows.unionByName(msgs)
            .distinct()  # (v,h)-keyed: partial-combines map-side
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= k)
            # the window's exchange leaves hash(v), the state's partitioning
            .select(F.lit(t + 1).alias("t"), "v", "h")
        )
        return state.unionByName(nxt) if keep_all else nxt

    res = run_fixpoint(
        spark,
        lambda: adj.select(F.col("u").alias("v")).distinct()
        .select(F.lit(0).alias("t"), "v", _h60(F.col("v")).alias("h"))
        .repartition(P, "v"),
        step,
        [F.count("*").alias("n"), F.max("t").alias("t")],
        lambda s, prev: False,
        name="kmv_reach", P=P, max_iter=hops, edges=n_adj, plan="kmv_reach_hop",
    )
    adj.unpersist()  # the state is checkpoint-materialized
    return res.state


def _estimate(rows: DataFrame, k: int, *by: str) -> DataFrame:
    """(*by, id, sketch_n, est) from sketch rows: exact count below k,
    else the KMV estimator (k−1)·2^60 / h_(k) — a single division of
    exactly-derived operands, bit-identical across engines."""
    num = float((k - 1) << _HEX_BITS)  # exact: (k-1) * 2^60 is a binary value
    agg = rows.groupBy(*by, F.col("v").alias("id")).agg(
        F.count("*").alias("sketch_n"), F.max("h").alias("_hk")
    )
    hk = F.col("_hk").cast("double")  # h is already the 60-bit BIGINT
    return agg.select(
        *by,
        "id",
        "sketch_n",
        F.when(F.col("sketch_n") < k, F.col("sketch_n").cast("double"))
        .otherwise(F.lit(num) / hk)
        .alias("est"),
    )


def kmv_reach(
    spark: SparkSession,
    edges: DataFrame,
    hops: int,
    k: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, sketch_n, est): estimated |ball(id, hops)| on the undirected
    graph. sketch_n < k means the ball is smaller than the sketch and
    `est` is its EXACT size; otherwise est = (k−1)·2^60 / h_(k), the KMV
    estimator on the k-th smallest hash. Deterministic: same graph, same
    k, same hops → identical output on any engine (md5 + exact IEEE
    ops), which is what makes the DuckDB oracle exact."""
    if hops < 0 or k < 2:
        raise ValueError(f"need hops >= 0 and k >= 2, got {hops=}, {k=}")
    return _estimate(_propagate(spark, edges, hops, k, num_partitions), k)


def harmonic_centrality_kmv(
    spark: SparkSession,
    edges: DataFrame,
    max_hops: int,
    k: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """Approximate harmonic centrality truncated at max_hops — the
    application HyperBall was built for (Boldi & Vigna 2014, "Axioms for
    centrality"): cent(v) = Σ_u 1/d(v,u) ≈ Σ_{t=1..T} (|B(v,t)| −
    |B(v,t−1)|)/t, with ball sizes from the same deterministic KMV
    sketches as kmv_reach — so this too carries an exact DuckDB oracle
    (the float combination is a FIXED left-associated chain of exact-
    operand IEEE ops, mirrored verbatim in the SQL).

    Output (id, cent): closeness-style importance that, unlike PageRank,
    counts how NEAR everything is rather than how much rank flows in —
    the standard second centrality on web graphs. Truncation at T is the
    honest scale choice: each extra hop is one more propagation round,
    and on small-diameter web graphs T≈6 captures nearly all mass."""
    if max_hops < 1 or k < 2:
        raise ValueError(f"need max_hops >= 1 and k >= 2, got {max_hops=}, {k=}")
    rows = _propagate(spark, edges, max_hops, k, num_partitions, keep_all=True)
    est = _estimate(rows, k, "t")
    out = est.groupBy("id").agg(*(
        F.max(F.when(F.col("t") == t, F.col("est"))).alias(f"e{t}")
        for t in range(max_hops + 1)
    ))
    # fixed left-assoc chain: ((e1-e0)/1 + (e2-e1)/2) + ... — mirrored
    # exactly in the oracle SQL so every float op sees identical operands
    cent = (F.col("e1") - F.col("e0")) / F.lit(1.0)
    for t in range(2, max_hops + 1):
        cent = cent + (F.col(f"e{t}") - F.col(f"e{t-1}")) / F.lit(float(t))
    # materialize the V-scale result, then free the (T+1)·V·k sketch rows
    res = out.select("id", cent.alias("cent")).localCheckpoint(eager=True)
    release(rows)
    return res


def neighborhood_function(reach: DataFrame) -> DataFrame:
    """N(t) = Σ_v est(v, t): one row (n_vertices, n_reachable_pairs_est).
    Run kmv_reach at increasing t; the t where this saturates (≥90% of
    the final value) is the effective diameter. NOTE: the float sum is
    order-dependent (not cross-engine-hashable — this is a summary
    convenience, deliberately not an oracled query; the per-vertex
    kmv_reach output is the deterministic artifact)."""
    return reach.agg(
        F.count("*").alias("n_vertices"),
        F.sum("est").alias("n_reachable_pairs_est"),
    )


# ---- HyperBall tier: HLL registers (Boldi & Vigna 2011) -------------------

def _hll_alpha(m: int) -> float:
    return {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1.0 + 1.079 / m))


def hll_reach(
    spark: SparkSession,
    edges: DataFrame,
    hops: int,
    b: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, est): HyperBall proper — per-vertex |ball(id, hops)| estimates
    with HyperLogLog registers instead of kmv_reach's k-min values.

    Tier relationship (both are the HyperANF sketch-propagation loop):
    kmv_reach is the ORACLED tier — md5 k-min sketches are a pure
    function of the reachable set, so the driver gate hash-checks it
    exactly; this HLL tier is the MEMORY tier — state is exactly
    m = 2^b registers (≤ 6 bits each) per vertex regardless of ball
    size, merge is an elementwise max (associative + idempotent, so
    partial aggregation is lossless), and relative s.d. ≈ 1.04/√m
    (b=6 → ~13%). Estimates are engine-deterministic (md5 bucketing,
    integer bit-length ranks, fixed-shape float chain) but carry the
    usual HLL bias, so correctness is tolerance-gated in pytest against
    exact BFS ball sizes, deliberately not a value-oracle query.

    Plan shape per hop: registers ride as m integer COLUMNS (not an
    array), so the merge is a groupBy(v) of m max() aggregates — fully
    partial-combined map-side, meaning a 10^8-degree hub reduces to one
    m-register row per map task before the exchange; no explode, no
    UDF, no per-row Python. The hop loop is plans/fixpoint.py over ONE
    state table (v, r0..r{m-1}) on hash(v), one Spark job per hop, and
    it probes the same persisted adjacency as the KMV loop in place.
    """
    if hops < 0 or not (2 <= b <= 12):
        raise ValueError(f"need hops >= 0 and 2 <= b <= 12, got {hops=}, {b=}")
    m = 1 << b
    rem_bits = _HEX_BITS - b
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    P = size_based_partitions(edges, P)  # guide §2.2, size-derived cap
    adj, n_adj = adjacency(edges, P, symmetric=True)
    regs_cols = [f"r{i}" for i in range(m)]
    h = _h60(F.col("v"))
    bucket = F.shiftright(h, rem_bits)
    rem = h - F.shiftleft(bucket, rem_bits)
    # rank = leading zeros in the remaining bits + 1, via integer
    # bit-length (length of the binary string; bin(0) = "0" needs the
    # explicit branch) — no float log anywhere
    rank = F.when(rem == 0, F.lit(rem_bits + 1)).otherwise(
        F.lit(rem_bits) - F.length(F.bin(rem)) + 1
    )

    def step(regs: DataFrame, prev) -> DataFrame:
        msgs = adj.join(regs.withColumnRenamed("v", "u").hint("shuffle_hash"),
                        "u").select("v", *regs_cols)
        # the max aggregate leaves hash(v), the state's partitioning
        return (
            regs.unionByName(msgs)
            .groupBy("v")
            .agg(*[F.max(c).alias(c) for c in regs_cols])
        )

    res = run_fixpoint(
        spark,
        lambda: adj.select(F.col("u").alias("v")).distinct().select(
            "v",
            *[
                F.when(bucket == i, rank).otherwise(F.lit(0)).cast("int").alias(c)
                for i, c in enumerate(regs_cols)
            ],
        ).repartition(P, "v"),
        step,
        [F.count("*").alias("n")],
        lambda s, prev: False,
        name="hll_reach", P=P, max_iter=hops, edges=n_adj,
    )
    adj.unpersist()  # the state is checkpoint-materialized
    regs = res.state
    alpha = _hll_alpha(m)
    inv_sum = sum(
        (F.pow(F.lit(2.0), -F.col(c)) for c in regs_cols[1:]),
        F.pow(F.lit(2.0), -F.col(regs_cols[0])),
    )
    zeros = sum(
        (F.when(F.col(c) == 0, 1).otherwise(0) for c in regs_cols[1:]),
        F.when(F.col(regs_cols[0]) == 0, 1).otherwise(0),
    )
    raw = F.lit(alpha * m * m) / inv_sum
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return regs.select(F.col("v").alias("id"), est.alias("est"))


def effective_diameter(
    spark: SparkSession,
    edges: DataFrame,
    max_hops: int,
    k: int = 8,
    q: float = 0.9,
    num_partitions: int | None = None,
) -> dict:
    """HyperANF-style effective diameter (Palmer/ANF KDD'02, Boldi &
    Vigna WWW'11): the smallest t where the neighborhood function
    N(t) = Σ_v |ball(v, t)| reaches q (default 90%) of N(max_hops), with
    the standard linear interpolation between the straddling hops —
    "90% of connected pairs are within ~d hops", the classic
    small-world summary of a web graph.

    Returns {"effective_diameter": float, "saturated": bool,
    "nf": [N(0)..N(max_hops)]}. saturated=False means N was still
    growing at max_hops (N(max)-N(max-1) > 0.1% of N(max)) and the
    figure is a lower bound — raise max_hops.

    Determinism: per-vertex KMV estimates are engine-exact (kmv_reach);
    the N(t) totals sum floats in aggregation order, so this is a
    SUMMARY convenience like neighborhood_function, deliberately not an
    oracled query (pytest tolerance only).

    Scale shape: one propagation run, _propagate(keep_all=True), whose
    one state table holds every hop's sketch rows (<= k rows/vertex per
    hop); N(0..max_hops) is one aggregate grouped by hop, so the driver
    collects max_hops+1 scalars in one query.
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    if not 0.0 < q < 1.0:
        raise ValueError(f"q must be in (0, 1), got {q}")
    rows = _propagate(spark, edges, max_hops, k, num_partitions, keep_all=True)
    totals = dict(
        _estimate(rows, k, "t").groupBy("t").agg(F.sum("est")).collect()
    )
    release(rows)  # only scalars leave this function
    nf = [float(totals.get(t) or 0.0) for t in range(max_hops + 1)]
    target = q * nf[-1]
    saturated = nf[-1] - nf[-2] <= 0.001 * nf[-1]
    eff = float(max_hops)
    for t in range(max_hops + 1):
        if nf[t] >= target:
            if t == 0 or nf[t] == nf[t - 1]:
                eff = float(t)
            else:
                # linear interpolation inside hop (t-1, t], ANF-style
                eff = (t - 1) + (target - nf[t - 1]) / (nf[t] - nf[t - 1])
            break
    return {"effective_diameter": eff, "saturated": saturated, "nf": nf}
