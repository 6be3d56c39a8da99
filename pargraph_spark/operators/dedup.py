"""Deduplication operators for training-data pipelines over ``documents``.

Four tiers, all JVM-side expressions (no Python in the hot path):

- exact_dedup: hash-groupBy on the content fingerprint. One shuffle of
  (hash, id) pairs — never the payload.
- MinHash + LSH: shingle → J md5-minhashes → B bands → band-bucket
  self-join. The md5-based hash family is engine-independent (the DuckDB
  oracle computes the identical signatures), and lexicographic min over
  hex digests is a valid uniform minhash. At 10^12 docs the band join is
  the only super-linear step and it only touches (band_sig, id) pairs.
- SimHash (functions.text.simhash16): near-dup via hamming buckets.
- ngram-Jaccard verify: exact Jaccard on the LSH candidate pairs only
  (never all-pairs): each pair joins its two documents' shingle arrays
  and intersects them, so no per-shingle row is ever shuffled.

LSH parameters: num_hashes J and num_bands B with B | J; rows-per-band
r = J/B gives the usual S-curve P(candidate) = 1-(1-j^r)^B.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pargraph_spark.functions.text import fingerprint, shingles


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(fingerprint, n_dupes, canonical_id): one row per distinct content;
    canonical = min id. Downstream keep-list = join on canonical_id."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_dupes"), F.min(id_col).alias("canonical_id"))
    )


def doc_shingles(df: DataFrame, id_col: str, text_col: str, shingle_size: int = 3) -> DataFrame:
    """(id, shingle) exploded distinct word n-grams."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(F.col(text_col), shingle_size)).alias("shingle"),
    )


def _salted_md5(j: int) -> Callable[[Column], Column]:
    """x -> md5('j:' || x), the j-th hash of the family. A factory, since
    F.transform hands (element, index) to ``lambda x, j=j: ...``."""
    return lambda x: F.md5(F.concat(F.lit(f"{j}:"), x).cast("binary"))


def minhash_signatures(
    sh: DataFrame, num_hashes: int = 8
) -> DataFrame:
    """(id, h0..h{J-1}) — h_j = min over shingles of md5('j:' || shingle).

    Lexicographic min over fixed-length hex digests == numeric min over the
    128-bit hash, so each h_j is a uniform minhash; the 'j:' prefix gives J
    independent hash functions. md5 keeps Spark and DuckDB bit-identical.
    """
    return sh.groupBy("id").agg(
        *[F.min(_salted_md5(j)(F.col("shingle"))).alias(f"h{j}") for j in range(num_hashes)]
    )


def lsh_bands(sig: DataFrame, num_hashes: int = 8, num_bands: int = 4) -> DataFrame:
    """(id, band, sig) — band signature = md5 of its row concat."""
    if num_hashes % num_bands != 0:
        # a bare assert is stripped under -O, silently building bands
        # from a hash prefix and changing the S-curve
        raise ValueError(
            f"num_bands must divide num_hashes, got {num_hashes=}, {num_bands=}"
        )
    r = num_hashes // num_bands
    bands = F.array(
        *[
            F.md5(F.concat(*[F.col(f"h{b * r + i}") for i in range(r)]).cast("binary"))
            for b in range(num_bands)
        ]
    )
    return sig.select(
        "id", F.posexplode(bands).alias("band", "sig")
    )


def _drop_hot_buckets(
    postings: DataFrame, keys: list[str], max_postings: int
) -> DataFrame:
    """Drop every posting whose bucket holds more than ``max_postings``
    docs — the candidate-join skew guard (mirror of skew.top_k_hot for
    graph hubs). A bucket of m docs emits m(m-1)/2 candidate rows, so one
    boilerplate string shared corpus-wide makes the self-join quadratic in
    corpus size; on web corpora boilerplate is the COMMON case. The
    hot-key set is tiny by construction (only buckets above the cap), so
    the anti-join broadcasts."""
    hot = (
        postings.groupBy(*keys)
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") > max_postings)
        .select(*keys)
    )
    return postings.join(F.broadcast(hot), keys, "left_anti")


def lsh_candidate_pairs(
    bands: DataFrame, max_postings: int | None = None
) -> DataFrame:
    """distinct (a < b) doc pairs sharing ≥1 band bucket.

    max_postings: optional hot-bucket cap — band buckets with more than
    this many docs are dropped before the self-join, bounding the join
    fan-out at max_postings² per bucket. Recall: a true near-dup pair is
    still emitted if it shares at least one NON-hot band, so with B bands
    and h of them hot for the pair, the S-curve degrades from
    1-(1-j^r)^B to 1-(1-j^r)^(B-h); hot buckets are boilerplate-dominated,
    where candidate precision is lowest anyway."""
    if max_postings is not None:
        bands = _drop_hot_buckets(bands, ["band", "sig"], max_postings)
    left = bands.select(F.col("band"), F.col("sig"), F.col("id").alias("a"))
    right = bands.select(F.col("band"), F.col("sig"), F.col("id").alias("b"))
    return (
        left.join(right, ["band", "sig"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def _array_verify(pairs: DataFrame, sets: DataFrame, threshold: float) -> DataFrame:
    """(a, b, jaccard) of candidate pairs from distinct shingle arrays
    sets(id, s). inter and union are exact ints, so the single division
    is bit-identical across engines."""
    inter = F.size(F.array_intersect("sa", "sb"))
    jaccard = inter.cast("double") / (F.size("sa") + F.size("sb") - inter).cast("double")
    return (
        pairs.join(sets.select(F.col("id").alias("a"), F.col("s").alias("sa")), "a")
        .join(sets.select(F.col("id").alias("b"), F.col("s").alias("sb")), "b")
        .select("a", "b", jaccard.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def jaccard_verify(
    pairs: DataFrame, sh: DataFrame, threshold: float = 0.0
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs: (a, b, jaccard) from
    (id, shingle) rows. Pairs below threshold are dropped."""
    sets = sh.groupBy("id").agg(F.collect_set("shingle").alias("s"))
    return _array_verify(pairs, sets, threshold)


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, w: int = 4
) -> DataFrame:
    """Rolling-hash document fingerprints with winnowing (Schleimer,
    Wilkerson, Aiken, SIGMOD'03): hash every char k-gram, keep the min of
    each w-window, dedup → (id, wfp). Guarantees any match of length
    ≥ k+w-1 shares a fingerprint; output is ~1/w the k-gram count.

    Row-based plan (positions exploded, winnow = sliding min over a row
    window), NOT nested array lambdas: Catalyst does no CSE across
    higher-order-function references, so an array formulation re-evaluates
    the k-gram hash array per window element — O(len²) md5+regex per doc.
    Rows keep it linear and let the sliding min shuffle/scale like any
    other keyed window. md5 keeps the DuckDB oracle bit-identical; texts
    shorter than k get the whole-text hash (pinned in the oracle too).
    """
    from pyspark.sql import Window

    from pargraph_spark.functions.text import norm_text

    base = df.select(F.col(id_col).alias("id"), norm_text(F.col(text_col)).alias("n"))
    long_docs = base.where(F.length("n") >= k).select(
        "id",
        F.explode(F.sequence(F.lit(1), F.length("n") - k + 1)).alias("pos"),
        F.col("n"),
    ).select("id", "pos", F.md5(F.col("n").substr(F.col("pos"), F.lit(k)).cast("binary")).alias("h"))
    short_docs = base.where(F.length("n") < k).select(
        "id", F.lit(1).alias("pos"), F.md5(F.col("n").cast("binary")).alias("h")
    )
    hs = long_docs.unionByName(short_docs)
    part = Window.partitionBy("id")
    sliding = part.orderBy("pos").rowsBetween(Window.currentRow, w - 1)
    return (
        hs.withColumn("_cnt", F.count("*").over(part))
        .withColumn("wfp", F.min("h").over(sliding))
        .where(F.col("pos") <= F.greatest(F.col("_cnt") - w + 1, F.lit(1)))
        .select("id", "wfp")
        .distinct()
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_postings: int | None = None,
) -> DataFrame:
    """Containment/clone detection: (a < b, shared) doc pairs sharing at
    least ``min_shared`` winnowing fingerprints. Winnowing guarantees any
    common substring of length ≥ k+w-1 contributes a shared fingerprint
    (Schleimer et al., SIGMOD'03 §4), so this catches copied PASSAGES that
    whole-document minhash dilutes. Same bucketed-join shape as LSH:
    only (wfp, id) rows shuffle; grouping by pair bounds the join fan-out
    by per-fingerprint posting-list sizes.

    max_postings: hot-fingerprint cap: fingerprints appearing in
    more than this many docs are dropped before the self-join, so a
    boilerplate string present in every doc contributes ZERO candidate
    rows instead of O(n²). Recall: a clone pair is still emitted when at
    least ``min_shared`` of its shared fingerprints are non-hot — i.e.
    the pair shares min_shared windows of content NOT common to more than
    max_postings docs; corpus-wide boilerplate by definition cannot
    distinguish a clone pair, so dropping it removes noise, not signal."""
    fp = winnow_fingerprints(df, id_col, text_col, k=k, w=w)
    if max_postings is not None:
        fp = _drop_hot_buckets(fp, ["wfp"], max_postings)
    # lazy persist: the per-position md5 + sliding-window winnowing pass
    # is the operator's dominant cost and feeds BOTH self-join sides —
    # unpersisted it runs twice (as in minhash_dedup_pairs)
    fp = fp.persist()
    left = fp.select(F.col("id").alias("a"), "wfp")
    right = fp.select(F.col("id").alias("b"), "wfp")
    return (
        left.join(right, "wfp")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared") >= min_shared)
    )


def near_dup_groups(
    spark,
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    num_hashes: int = 8,
    num_bands: int = 4,
    threshold: float = 0.5,
    max_postings: int | None = None,
) -> DataFrame:
    """(doc_id, canonical_id) — the step a real pipeline needs AFTER pair
    detection: group verified near-dup pairs into connected components and
    elect one canonical doc (min id) per group. Downstream keep-list =
    "drop every doc where doc_id != canonical_id".

    Only members of a dup GROUP appear in the output; untouched docs are
    implicitly canonical — at 10^12 docs the dup groups are the small
    output, never the corpus. The component step runs the engine's own
    small/large-star CC over the (tiny) verified pair graph, whose
    component label is already the group's min id. ``id_col`` must be a
    key, as in minhash_dedup_pairs."""
    from pargraph_spark.operators.components import connected_components

    pairs = minhash_dedup_pairs(
        df, id_col, text_col, shingle_size, num_hashes, num_bands,
        threshold, max_postings,
    ).select(F.col("a").alias("src"), F.col("b").alias("dst"))
    comp = connected_components(spark, pairs).components
    return comp.select(
        F.col("id").alias("doc_id"), F.col("component").alias("canonical_id")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
    num_hashes: int = 8,
    num_bands: int = 4,
    threshold: float = 0.5,
    max_postings: int | None = None,
) -> DataFrame:
    """End-to-end near-dup pipeline: (a, b, jaccard) above threshold.
    max_postings caps hot band buckets (see lsh_candidate_pairs).
    ``id_col`` must be a key: one row per id, never grouped.

    One row per document (id, s, h0..h{J-1}) — the distinct shingle array
    and its minhashes — is built with no exchange; the bands read the h_j
    and the verify joins each pair to s twice. An empty doc's h_j are NULL,
    so its band keys are NULL and it never pairs."""
    docs = (
        df.select(F.col(id_col).alias("id"), shingles(F.col(text_col), shingle_size).alias("s"))
        .select(
            "id", "s",
            *[F.array_min(F.transform("s", _salted_md5(j))).alias(f"h{j}")
              for j in range(num_hashes)],
        )
        .persist()
    )
    cands = lsh_candidate_pairs(
        lsh_bands(docs, num_hashes, num_bands), max_postings=max_postings
    )
    # docs, read by the band and verify scans, stays persisted behind the
    # lazy result — the result-backing-cache convention
    # (winnow/hits/near_dup_bucketed). Repeated calls on the same input in
    # one session re-hit the previous call's identical-plan cache via the
    # CacheManager; an eager-materialize-and-release variant made every
    # call recompute the shingle+signature pass (measured 5.2s -> 26.5s
    # median at sf0.1). Blocks are freed with the session.
    return _array_verify(cands, docs, threshold)


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_postings: int | None = None,
) -> DataFrame:
    """Embedding-free document similarity: tf-idf-weighted cosine over
    sparse term vectors, computed as a posting-list join — the weighted
    companion of the set-based tiers (Jaccard / winnowing / SimHash).

    Weighting: w(t, d) = tf(t, d) · (N − df(t) + 1), the integer idf
    surrogate — monotone decreasing in df like idf, but EXACT: every
    weight, dot product, and squared norm is a BIGINT sum, so the
    aggregations are order-independent and cross-engine byte-identical
    (ln-based idf is only ulp-identical, which breaks a value oracle; the
    same reasoning as top_terms' ln-free BM25 ranking). The only float
    ops are the final cast / multiply / sqrt / divide — all correctly
    rounded IEEE on exact inputs, hence bit-identical across engines:
        cos(a, b) = dot / sqrt(double(‖a‖²) · double(‖b‖²))
    (the two norms are cast to double BEFORE multiplying: a BIGINT
    product of two ~1e13 norms would overflow, the double product is
    correctly rounded).

    Scale shape (the winnow_pairs blueprint): explode → (doc, term) tf
    with map-side partial combine; df partial-combined on term; N enters
    as a broadcast 1-row aggregate; norms are one partial-combined
    groupBy over the weighted postings; the pair join is a posting-list
    self-join on term, never all-pairs, with `max_postings` dropping
    terms in more than that many docs before the join (broadcast
    anti-join via _drop_hot_buckets) — a term in m docs emits m(m−1)/2
    pair rows, and stopword-scale terms carry ~zero idf weight anyway,
    so the cap bounds the fan-out at max_postings²/term while barely
    moving the scores. Norms are computed over the FULL vectors (caps
    prune candidate generation, not the geometry).

    Returns (a, b, cos) for a < b with cos ≥ threshold. Docs sharing no
    surviving term never pair (cos ≈ 0 for tf-idf vectors anyway).
    Overflow audit: weights ≤ tf·N; BIGINT holds Σw² up to 2^63 — fine
    through ~1e8 docs with bounded doc length; beyond that switch the
    weights to doubles and verify with a tolerance gate instead of the
    exact oracle.
    """
    from pargraph_spark.functions.text import tokens

    tok = df.select(F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term"))
    tf = tok.groupBy("id", "term").agg(F.count("*").cast("long").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    n_docs = df.agg(F.count_distinct(F.col(id_col)).cast("long").alias("_n"))
    w = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "id",
            "term",
            (F.col("tf") * (F.col("_n") - F.col("df") + F.lit(1))).cast("long").alias("w"),
        )
    )
    norms = w.groupBy("id").agg(F.sum(F.col("w") * F.col("w")).cast("long").alias("n2"))
    wk = _drop_hot_buckets(w, ["term"], max_postings) if max_postings is not None else w
    dots = (
        wk.select(F.col("id").alias("a"), "term", F.col("w").alias("wa"))
        .join(
            wk.select(F.col("id").alias("b"), "term", F.col("w").alias("wb")),
            "term",
        )
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("long").alias("dot"))
    )
    cos = F.col("dot").cast("double") / F.sqrt(
        F.col("na2").cast("double") * F.col("nb2").cast("double")
    )
    return (
        dots.join(norms.select(F.col("id").alias("a"), F.col("n2").alias("na2")), "a")
        .join(norms.select(F.col("id").alias("b"), F.col("n2").alias("nb2")), "b")
        .select("a", "b", cos.alias("cos"))
        .where(F.col("cos") >= F.lit(float(threshold)))
    )


def contamination_counts(
    candidates: DataFrame,
    probe: DataFrame,
    id_col: str,
    text_col: str,
    shingle_size: int = 3,
) -> DataFrame:
    """Test-set decontamination: for each candidate document, the number
    of DISTINCT word n-grams it shares with the probe corpus (benchmark /
    eval set) — (id, n_shared), rows only for contaminated docs. The
    pre-training hygiene op: drop or downweight training docs that leak
    evaluation shingles (GPT-3 appendix C / PaLM-style n-gram overlap).

    Scale shape: the probe shingle set is benchmark-sized (≪ corpus), so
    the semi-ish join broadcasts it and the corpus-side shingle explosion
    never shuffles — one partial-combined count per doc. Exact integer
    counts; the oracle replays the same shingling in SQL."""
    sh = doc_shingles(candidates, id_col, text_col, shingle_size)
    probe_sh = (
        doc_shingles(probe, id_col, text_col, shingle_size)
        .select("shingle")
        .distinct()
    )
    return (
        sh.join(F.broadcast(probe_sh), "shingle")
        .groupBy("id")
        .agg(F.count("*").alias("n_shared"))
    )
