"""Deterministic sampling for training-data curation.

`df.sample()` is seed-and-partitioning dependent — rerunning on a
repartitioned table keeps different rows, which poisons incremental
pipelines and makes train/eval splits irreproducible. These operators
sample by CONTENT: a row is kept iff the first 8 hex chars of
md5(salt:key) compare below a threshold hex string, so

- the decision is a pure function of (key, salt, fraction) — stable under
  repartitioning, resume, engine (the DuckDB oracle is the identical
  string comparison), and incremental re-runs (a row's fate never changes
  as the table grows);
- different salts give independent samples (train/val/test splits);
- fractions are exact in expectation with md5 uniformity (first 8 hex
  chars ≈ uniform 32-bit value).

Everything is a JVM-side expression (md5 + substring + string compare):
predicate-pushdown-friendly and zero-shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pargraph_spark.plans.fixpoint import release


def fraction_threshold_hex(fraction: float) -> str:
    """Hex threshold t such that P[substr(md5,1,8) < t] == fraction (to
    2^-32): first 8 hex chars of md5 are uniform over [0, 16^8).

    fraction >= 1.0 returns 'g' — every 8-hex-digit string sorts below
    it, so a 100% sample really keeps EVERY row (a 16^8-1 clamp with a
    strict < would deterministically drop the ~1-in-2^32 keys hashing to
    exactly 'ffffffff' from a supposedly-whole pass)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    if fraction >= 1.0:
        return "g"
    return format(min(int(fraction * 16 ** 8), 16 ** 8 - 1), "08x")


def keep_fraction(key: Column, fraction: float, salt: str = "") -> Column:
    """Boolean keep-decision: content-hash threshold sampling."""
    h = F.md5(F.concat(F.lit(f"{salt}:"), key.cast("string")).cast("binary"))
    return F.substring(h, 1, 8) < F.lit(fraction_threshold_hex(fraction))


def deterministic_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = ""
) -> DataFrame:
    return df.where(keep_fraction(F.col(key_col), fraction, salt))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    salt: str = "",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. rebalance event types or
    languages): stratum s keeps fractions[s] of its rows; strata not
    listed keep default_fraction."""
    h = F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string")).cast("binary")),
        1, 8,
    )
    expr = F.when(F.lit(False), F.lit(False))
    for stratum, frac in sorted(fractions.items()):
        expr = expr.when(
            F.col(strata_col) == stratum, h < F.lit(fraction_threshold_hex(frac))
        )
    expr = expr.otherwise(h < F.lit(fraction_threshold_hex(default_fraction)))
    return df.where(expr)


def neighbor_sample(
    edges: DataFrame,
    seeds: DataFrame,
    fanouts: list[int],
    salt: str = "gs",
) -> DataFrame:
    """GraphSAGE-style k-hop neighborhood sampling: from each seed vertex,
    follow out-edges for len(fanouts) hops, keeping at most fanouts[h]
    neighbors per frontier vertex at hop h — the subgraph-extraction step
    of a graph-ML training pipeline (mini-batch neighborhoods at 10^12-edge
    scale must be SAMPLED; full k-hop balls around hubs are the whole
    graph).

    Determinism (same contract as the content-hash samplers above): the
    per-edge rank is md5("salt:src|dst|hop"), so which neighbors survive
    is a pure function of (edge, hop, salt) — stable under repartitioning,
    engine (the DuckDB oracle is the identical md5 rank), resume, and
    graph growth (a new edge displaces at most one sampled edge, it never
    reshuffles the whole sample). Different salts give independent draws.

    Scale shape: per hop, one co-partitionable semi-join of edges against
    the (small) frontier, then a row_number window partitioned by src
    filtered to rn <= fanout — Spark 4 rewrites that filter into
    WindowGroupLimit, a MAP-SIDE partial top-k per src BEFORE the
    exchange, so a 10^8-degree hub ships fanout rows, not its adjacency
    (plan-pinned in tests/test_plans.py). The frontier for hop h+1 is the
    distinct sampled dsts of hop h; output is (hop, src, dst) — the
    sampled edge set, ready to group into per-seed blocks.

    Seeds: a DataFrame with an `id` column. Fanouts: e.g. [10, 5] for a
    2-hop sample. Edges are followed src→dst (pass a symmetrized table
    for undirected neighborhoods).
    """
    from pyspark.sql import Window

    if not fanouts:
        # an empty fanout list would return None, not a DataFrame
        raise ValueError("fanouts must be non-empty")
    frontier = seeds.select("id").distinct()
    out: DataFrame | None = None
    for hop, fan in enumerate(fanouts):
        if fan < 1:
            raise ValueError(f"fanouts must be >= 1, got {fanouts}")
        rank_key = F.md5(
            F.concat_ws(
                "|", F.lit(salt), F.col("src").cast("string"),
                F.col("dst").cast("string"), F.lit(str(hop)),
            ).cast("binary")
        )
        w = Window.partitionBy("src").orderBy(F.col("_rk"), F.col("dst"))
        sampled = (
            edges.join(frontier.withColumnRenamed("id", "src"), "src")
            .select("src", "dst", rank_key.alias("_rk"))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= fan)
            .select(F.lit(hop).cast("int").alias("hop"), "src", "dst")
        )
        out = sampled if out is None else out.unionByName(sampled)
        frontier = sampled.select(F.col("dst").alias("id")).distinct()
    return out


def random_walks(
    edges: DataFrame,
    seeds: DataFrame,
    num_walks: int,
    length: int,
    salt: str = "rw",
) -> DataFrame:
    """Deterministic uniform random-walk corpus over the graph — the
    DeepWalk/node2vec input-generation step of a graph-embedding training
    pipeline (walks are the 'sentences' the skip-gram model consumes).

    From each seed, `num_walks` walks of `length` steps. The step-t
    choice at vertex cur is argmin over out-neighbors of
    md5("salt|seed|walk|t|dst"): the argmin of i.i.d. uniform hashes IS a
    uniform draw over the neighbor set, yet the whole corpus is a pure
    function of (graph, seeds, num_walks, length, salt) — reproducible
    across engines/repartitioning (DuckDB oracle = the identical md5
    argmin), and incremental (a new edge perturbs only walks that visit
    its endpoint). Walks stop early at sinks (no out-edges).

    Scale shape per step: frontier ⋈ edges on the current vertex (one
    hash join keyed on src), then argmin per (seed, walk) via a
    row_number filter that compiles to WindowGroupLimit — map-side
    top-1, so a walk standing on a 10^8-degree hub ships ONE row per map
    task, not the adjacency. State is one row per live walk.

    Output: (seed_id, walk, step, vertex), step 0 = the seed itself.
    Pass a symmetrized edge table for undirected walks.
    """
    from pyspark.sql import Window

    if num_walks < 1 or length < 0:
        raise ValueError(f"need num_walks >= 1, length >= 0, got {num_walks=}, {length=}")
    walks = seeds.select(F.col("id").alias("seed_id")).distinct().crossJoin(
        F.broadcast(
            seeds.sparkSession.range(num_walks).select(
                F.col("id").cast("int").alias("walk")
            )
        )
    )
    cur = walks.select(
        "seed_id", "walk", F.lit(0).cast("int").alias("step"),
        F.col("seed_id").alias("vertex"),
    )
    out = cur
    # dst tiebreak: md5 collisions are ~impossible but row_number over a
    # non-total order would be engine-arbitrary — keep the order total
    w = Window.partitionBy("seed_id", "walk").orderBy("_rk", "dst")
    for t in range(1, length + 1):
        rank_key = F.md5(
            F.concat_ws(
                "|", F.lit(salt), F.col("seed_id").cast("string"),
                F.col("walk").cast("string"), F.lit(str(t)),
                F.col("dst").cast("string"),
            ).cast("binary")
        )
        nxt = (
            cur.join(edges.withColumnRenamed("src", "vertex"), "vertex")
            .select("seed_id", "walk", "dst", rank_key.alias("_rk"))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(
                "seed_id", "walk", F.lit(t).cast("int").alias("step"),
                F.col("dst").alias("vertex"),
            )
        )
        out = out.unionByName(nxt)
        cur = nxt
    return out


def node2vec_walks(
    edges: DataFrame,
    seeds: DataFrame,
    num_walks: int,
    length: int,
    p_num: int = 1,
    p_den: int = 1,
    q_num: int = 1,
    q_den: int = 1,
    salt: str = "n2v",
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic node2vec-biased walk corpus (Grover & Leskovec,
    KDD'16): the 2nd-order walk whose step weight at vertex v (previous
    vertex u, candidate w) is 1/p if w == u (return), 1 if w ∈ Γ(u)
    (BFS-ish), 1/q otherwise (DFS-ish). p and q are RATIONALS
    (p_num/p_den, q_num/q_den) so the three weights clear to small
    integers — w_ret = p_den·q_num, w_mid = p_num·q_num,
    w_far = p_num·q_den — and proportional sampling becomes exact:

      each candidate is REPLICATED weight-many times (j = 0..weight-1)
      and the step takes the argmin of md5("salt|seed|walk|t|dst|j")
      over all replicas — i.i.d. uniform hashes make every replica
      equally likely, so P(dst) ∝ weight EXACTLY, while the whole corpus
      stays a pure function of (graph, seeds, params, salt), bit-equal
      in any engine with md5 (the random_walks discipline extended to
      weighted draws; no floats anywhere).

    Keep the weight integers small (the replicate fan-out is
    max(w_ret, w_mid, w_far) per candidate row — e.g. p=4, q=1/4 gives
    1/4/16). Step 1 has no previous vertex and draws uniformly.

    Plan shape per step: candidates probe the src-partitioned persisted
    edge copy in place; the Γ(prev) membership check probes a second
    copy persisted on (src, dst) — both E-scale tables stay put, only
    walk-scale state shuffles. The weighted argmin compiles to
    WindowGroupLimit (map-side top-1 per walk). Output and stopping
    match random_walks: (seed_id, walk, step, vertex), sinks end early;
    pass a symmetrized table for undirected semantics (Γ(u) membership
    follows the given edge direction).
    """
    from pyspark.sql import Window

    if num_walks < 1 or length < 0:
        raise ValueError(f"need num_walks >= 1, length >= 0, got {num_walks=}, {length=}")
    if min(p_num, p_den, q_num, q_den) < 1:
        raise ValueError("p and q must be positive rationals (all parts >= 1)")
    w_ret = p_den * q_num
    w_mid = p_num * q_num
    w_far = p_num * q_den
    spark = edges.sparkSession
    P = int(num_partitions or spark.conf.get("spark.sql.shuffle.partitions"))
    e = edges.select("src", "dst").distinct().repartition(P, "src").persist()
    e.count()
    # membership probe copy: co-partitioned on the (src, dst) join key
    e_pairs = (
        e.select(F.col("src").alias("_pu"), F.col("dst").alias("_pd"),
                 F.lit(1).alias("_mid"))
        .repartition(P, "_pu", "_pd").persist()
    )
    e_pairs.count()
    walks = seeds.select(F.col("id").alias("seed_id")).distinct().crossJoin(
        F.broadcast(
            spark.range(num_walks).select(F.col("id").cast("int").alias("walk"))
        )
    )
    cur = walks.select(
        "seed_id", "walk", F.lit(0).cast("int").alias("step"),
        F.col("seed_id").alias("vertex"),
        F.lit(None).cast("long").alias("prev"),
    )
    out = cur.select("seed_id", "walk", "step", "vertex")
    steps = []
    w = Window.partitionBy("seed_id", "walk").orderBy("_rk", "dst", "_j")
    for t in range(1, length + 1):
        cand = (
            cur.join(e.withColumnRenamed("src", "vertex"), "vertex")
            .join(
                e_pairs,
                (F.col("prev") == F.col("_pu")) & (F.col("dst") == F.col("_pd")),
                "left",
            )
            .select(
                "seed_id", "walk", "dst", "prev",
                F.when(F.col("prev").isNull(), F.lit(1))
                .when(F.col("dst") == F.col("prev"), F.lit(w_ret))
                .when(F.col("_mid").isNotNull(), F.lit(w_mid))
                .otherwise(F.lit(w_far))
                .alias("_w"),
            )
        )
        rep = cand.select(
            "seed_id", "walk", "dst",
            F.explode(F.expr("sequence(0, _w - 1)")).alias("_j"),
        )
        rank_key = F.md5(
            F.concat_ws(
                "|", F.lit(salt), F.col("seed_id").cast("string"),
                F.col("walk").cast("string"), F.lit(str(t)),
                F.col("dst").cast("string"), F.col("_j").cast("string"),
            ).cast("binary")
        )
        nxt = (
            rep.select("seed_id", "walk", "dst", "_j", rank_key.alias("_rk"))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(
                "seed_id", "walk", F.lit(t).cast("int").alias("step"),
                F.col("dst").alias("vertex"),
            )
        )
        # carry the new prev for the next step's bias classification.
        # cur feeds TWO consumers per step (cand and this carry join), so
        # without an eager checkpoint the plan doubles every step and the
        # driver OOMs analyzing it near length ~30 (the wl.py/betweenness
        # class) — walk-scale state, cheap to materialize
        cur = (
            nxt.join(
                cur.select("seed_id", "walk", F.col("vertex").alias("_pv")),
                ["seed_id", "walk"],
            )
            .select("seed_id", "walk", "step", "vertex",
                    F.col("_pv").alias("prev"))
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(cur.select("seed_id", "walk", "step", "vertex"))
        steps.append(cur)
    # materialize the corpus, then release the step checkpoints it reads
    # and the two E-scale edge copies (nothing stays pinned behind it)
    out = out.localCheckpoint(eager=True)
    for c in steps:
        release(c)
    e.unpersist()
    e_pairs.unpersist()
    return out


def skipgram_pairs(
    walks: DataFrame,
    window: int,
    count_pairs: bool = True,
) -> DataFrame:
    """Walk corpus → skip-gram (center, context) training pairs — the
    step between random_walks/node2vec_walks and an embedding trainer
    (DeepWalk treats walks as sentences; pairs are all ordered vertex
    pairs within `window` steps of each other on the same walk).

    count_pairs=True returns the aggregated (center, context, cnt)
    co-occurrence table (what a matrix-factorization-style trainer
    consumes; exact integer counts); False returns the raw pair stream
    (seed_id, walk, center, context) in corpus multiplicity for SGD-style
    consumers. Revisits count each time, word2vec semantics.

    Scale shape: one self-join keyed on the walk id (seed_id, walk) —
    per-row fan-out is <= 2*window and walk ids are unique per walk, so
    there is no skew key; the count aggregate partial-combines. No
    vertex-keyed shuffle until the final (center, context) aggregate,
    whose cardinality is bounded by distinct co-occurring pairs."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    a = walks.select(
        "seed_id", "walk", F.col("step").alias("_i"),
        F.col("vertex").alias("center"),
    )
    b = walks.select(
        "seed_id", "walk", F.col("step").alias("_j"),
        F.col("vertex").alias("context"),
    )
    pairs = (
        a.join(b, ["seed_id", "walk"])
        .where(
            (F.col("_i") != F.col("_j"))
            & (F.abs(F.col("_i") - F.col("_j")) <= window)
        )
    )
    if count_pairs:
        return pairs.groupBy("center", "context").agg(
            F.count("*").alias("cnt")
        )
    return pairs.select("seed_id", "walk", "center", "context")


def negative_samples(
    pairs: DataFrame,
    vocab: DataFrame,
    n_neg: int,
    salt: str = "neg",
    max_vocab: int = 1_000_000,
    drop_collisions: bool = False,
) -> DataFrame:
    """Deterministic word2vec-style negative sampling: for every
    (center, context) training pair draw `n_neg` negatives from the
    unigram distribution given by `vocab` (vertex, cnt) — the third stage
    of the walks → skipgram_pairs → trainer-input pipeline (Mikolov
    NeurIPS'13 SGNS; reference has no trainer-prep surface — engine
    extension for the LLM-pipeline tier).

    Determinism/exactness (the node2vec discipline, zero floats):

      - the vocabulary is capped to the `max_vocab` hottest entries
        (cnt desc, vertex asc tie-break — word2vec's min-count/cap
        practice) and laid out as EXACT integer cumulative intervals
        [lo, hi) ordered by vertex id, total mass W;
      - draw i for pair (c, x) is u = toint60(md5('salt|c|x|i')) mod W,
        and the negative is the unique vertex whose interval contains u,
        so P(v) == cnt(v)/W exactly (60-bit hash; mod bias <= W/2^60)
        and the whole output is a pure function of (pairs, vocab, n_neg,
        salt) — bit-equal in any engine with md5.

    Collisions (negative == center or == context) are word2vec-legal;
    `drop_collisions=True` filters them (deterministically).

    Scale shape: the capped cumsum vocab is MODEL-SIZED (<= max_vocab
    rows, built with one top-k sort-limit; the single-partition cumsum
    window runs over that capped table only, never V-scale). The
    interval lookup is an EQUI-join, not a range join: each vocab
    interval is exploded to the fixed-width buckets it overlaps (bucket
    width B = max(1, W div vocab_size) => <= 2*vocab_size + n replicas
    total) and each draw probes bucket u div B — a broadcast hash join
    at any pair-table scale, with the lo <= u < hi check as a post-join
    filter. Pair-side work is a stateless row-local expression fan-out
    of n_neg; no pair-keyed shuffle at all.
    """
    if n_neg < 1:
        raise ValueError(f"n_neg must be >= 1, got {n_neg}")
    from pyspark.sql import Window

    spark = pairs.sparkSession
    top = (
        vocab.select(F.col("vertex").cast("long").alias("vertex"),
                     F.col("cnt").cast("long").alias("cnt"))
        .where(F.col("cnt") > 0)
        .orderBy(F.col("cnt").desc(), F.col("vertex").asc())
        .limit(max_vocab)
    )
    # capped table: the cumsum window is over <= max_vocab rows (model-
    # sized by contract), so the single-partition window is safe
    w = Window.orderBy("vertex").rowsBetween(Window.unboundedPreceding, 0)
    # model-sized after the cap: materialize once — the corpus-scale
    # sort-limit feeding it would otherwise execute twice (the W/V
    # collect and the broadcast bucket build)
    cum = top.select(
        "vertex", "cnt",
        (F.sum("cnt").over(w) - F.col("cnt")).alias("lo"),
        F.sum("cnt").over(w).alias("hi"),
    ).localCheckpoint(eager=True)
    row = cum.groupBy().agg(
        F.max("hi").alias("W"), F.count("*").alias("V")
    ).collect()[0]
    W, V = int(row["W"] or 0), int(row["V"])
    if W <= 0:
        raise ValueError("vocab is empty (or all cnt <= 0)")
    B = max(1, W // max(V, 1))
    buckets = cum.select(
        "vertex", "lo", "hi",
        F.explode(
            F.sequence(
                F.expr(f"lo div {B}"),
                F.expr(f"(hi - 1) div {B}"),
            )
        ).alias("_bk"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.lit(salt),
                        F.col("center").cast("string"),
                        F.col("context").cast("string"),
                        F.col("neg_idx").cast("string"),
                    ).cast("binary")
                ),
                1, 15,
            ),
            16, 10,
        ).cast("long") % W
    )
    drawn = (
        pairs.select("center", "context")
        .withColumn(
            "neg_idx",
            F.explode(F.sequence(F.lit(0), F.lit(n_neg - 1)).cast("array<int>")),
        )
        .withColumn("_u", u)
        .withColumn("_bk", F.expr(f"_u div {B}"))
        .join(F.broadcast(buckets), "_bk")
        .where((F.col("lo") <= F.col("_u")) & (F.col("_u") < F.col("hi")))
        .select("center", "context", "neg_idx",
                F.col("vertex").alias("negative"))
    )
    if drop_collisions:
        drawn = drawn.where(
            (F.col("negative") != F.col("center"))
            & (F.col("negative") != F.col("context"))
        )
    return drawn


def sgns_examples(
    pairs: DataFrame,
    vocab: DataFrame,
    n_neg: int,
    salt: str = "neg",
    max_vocab: int = 1_000_000,
) -> DataFrame:
    """Complete SGNS trainer input: the positive (center, context, 1)
    rows unioned with their negative_samples as (center, negative, 0) —
    one DataFrame a skip-gram-with-negative-sampling trainer consumes
    directly. Deterministic end to end (see negative_samples)."""
    pos = pairs.select(
        "center", "context", F.lit(1).cast("int").alias("label")
    )
    neg = negative_samples(pairs, vocab, n_neg, salt, max_vocab).select(
        "center", F.col("negative").alias("context"),
        F.lit(0).cast("int").alias("label"),
    )
    return pos.unionByName(neg)


def budget_mixture(
    df: DataFrame,
    targets: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    salt: str = "mix",
) -> tuple[DataFrame, DataFrame]:
    """Deterministic corpus mixing: down-sample each source to its
    token budget — the mixture-weights step of LLM pre-training data
    assembly (e.g. "web 60% / code 25% / books 15% of a 1T-token
    budget" expressed as absolute per-source token targets).

    For each source s with total tokens T_s and target B_s, documents
    are kept by the content-hash rule keep_fraction(id, min(1, B_s/T_s),
    salt+s) — so the kept set is a pure function of (corpus, targets,
    salt): stable under repartitioning and incremental re-runs (a doc's
    fate never flips as OTHER sources grow), sources with T_s <= B_s
    pass through whole, and the achieved token count is B_s in
    expectation with md5 uniformity (exact-trim variants need a global
    per-source ordering — a corpus-scale sort the expectation form
    avoids; the achieved/target ratio is reported for auditing).

    Returns (kept_docs, summary) where summary is one row per source:
    (source, total_tokens, target_tokens, rate, kept_docs,
    kept_tokens).

    Scale shape: one partial-combining aggregate for the totals
    (model-sized: one row per source, collected to build the literal
    per-source thresholds), then a pure row-local filter — no shuffle
    of the corpus at all; the summary is a second aggregate over the
    kept rows.
    """
    for s, b in targets.items():
        if b < 0:
            raise ValueError(f"negative token target for {s!r}: {b}")
    totals = {
        r["s"]: int(r["t"])
        for r in df.groupBy(F.col(source_col).alias("s"))
        .agg(F.sum(F.col(tokens_col)).alias("t"))
        .collect()
    }
    unknown = set(targets) - set(totals)
    if unknown:
        raise ValueError(f"targets for absent sources: {sorted(unknown)}")
    rates = {
        s: (1.0 if totals[s] <= targets[s] else targets[s] / totals[s])
        for s in targets
    }
    keep = F.lit(False)
    for s, rate in sorted(rates.items()):
        keep = F.when(
            F.col(source_col) == s,
            keep_fraction(F.col(id_col), rate, f"{salt}|{s}"),
        ).otherwise(keep)
    kept = df.where(keep)
    summary = (
        kept.groupBy(F.col(source_col).alias("source"))
        .agg(
            F.count("*").alias("kept_docs"),
            F.sum(F.col(tokens_col)).alias("kept_tokens"),
        )
        .join(
            df.sparkSession.createDataFrame(
                [
                    (s, totals[s], targets[s], rates[s])
                    for s in sorted(targets)
                ],
                "source string, total_tokens long, target_tokens long, rate double",
            ),
            "source",
            "right",
        )
        .select(
            "source", "total_tokens", "target_tokens", "rate",
            F.coalesce("kept_docs", F.lit(0)).alias("kept_docs"),
            F.coalesce("kept_tokens", F.lit(0)).alias("kept_tokens"),
        )
    )
    return kept, summary
