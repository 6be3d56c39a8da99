"""Text-analysis column builders — JVM-side expressions only (no UDFs).

Each builder returns pyspark Columns composed from built-in functions, so
the whole text pipeline stays inside whole-stage codegen. Every function
here has an exact ANSI-SQL mirror in __spark_entry__.oracle_sql() (DuckDB);
the pair (builder, SQL) is the per-operator correctness contract, so the
semantics below are pinned:

- norm_text: trim → collapse whitespace runs to ' ' → lowercase
- tokens: split on single space; empty text → empty array
- fingerprint: md5 hex of norm_text (rolling/content fingerprint)
- lang_id: stopword-hit heuristic over {en,de,fr,es}, ladder tie-break
  in that fixed order
- quality_score: scalar expression over (token count, stopword ratio,
  punctuation ratio) — single left-to-right double expression, so Spark
  and DuckDB produce bit-identical doubles
- simhash16: 16-bit simhash over tokens; bit b is sign(Σ ±1) where the
  per-token ±1 is whether hex digit b of md5(token) has its high bit set
  (md5 gives an engine-independent hash; bit rule '89abcdef')
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Pinned stopword sets (tiny on purpose: deterministic, SQL-mirrorable).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is"),
    "de": ("der", "die", "und", "das", "ist", "nicht"),
    "fr": ("le", "la", "et", "les", "des", "est"),
    "es": ("el", "de", "que", "los", "una", "es"),
}
LANG_ORDER = ("en", "de", "fr", "es")
_HIGH_HEX = ("8", "9", "a", "b", "c", "d", "e", "f")
SIMHASH_BITS = 16


def norm_text(c: Column) -> Column:
    # NULL text behaves as empty text everywhere downstream (lang 'und',
    # 0 tokens, quality of empty) — without the coalesce, NULL would slide
    # through the CASE ladders and pick arbitrary branches.
    return F.lower(F.regexp_replace(F.trim(F.coalesce(c, F.lit(""))), r"\s+", " "))


def tokens(c: Column) -> Column:
    n = norm_text(c)
    return F.when(F.length(n) == 0, F.array().cast("array<string>")).otherwise(
        F.split(n, " ")
    )


def token_count(c: Column) -> Column:
    return F.size(tokens(c))


def fingerprint(c: Column) -> Column:
    return F.md5(norm_text(c).cast("binary"))


BPE_ISH_PATTERN = r"[a-z0-9]+|[^a-z0-9\s]"


def bpe_token_count(c: Column) -> Column:
    """BPE-ish tokenization: alnum runs OR single punctuation marks —
    the pre-tokenizer split most BPE vocabularies assume. Counting only
    (JVM regexp_extract_all), mirrored exactly by the DuckDB oracle."""
    return F.size(F.regexp_extract_all(norm_text(c), F.lit(BPE_ISH_PATTERN), F.lit(0)))


def stop_hits(toks: Column, lang: str) -> Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(toks, lambda x: x.isin(*words)))


def lang_id(c: Column) -> Column:
    """argmax stopword hits with fixed-order tie-break en>de>fr>es;
    all-zero → 'und' (undetermined)."""
    t = tokens(c)
    hits = {lang: stop_hits(t, lang) for lang in LANG_ORDER}
    mx = F.greatest(*[hits[lang] for lang in LANG_ORDER])
    expr = F.when(mx == 0, F.lit("und"))
    for lang in LANG_ORDER[:-1]:
        expr = expr.when(hits[lang] == mx, F.lit(lang))
    return expr.otherwise(F.lit(LANG_ORDER[-1]))


def quality_score(c: Column) -> Column:
    """Heuristic in [0,1]: length credit + English-stopword ratio +
    alphanumeric cleanliness. One fixed-shape double expression."""
    n = norm_text(c)
    t = tokens(c)
    ntok = F.size(t).cast("double")
    stop_ratio = F.when(
        ntok > 0, stop_hits(t, "en").cast("double") / ntok
    ).otherwise(F.lit(0.0))
    clean_len = F.length(F.regexp_replace(n, r"[^a-z0-9 ]", "")).cast("double")
    punct_ratio = F.when(
        F.length(n) > 0, (F.length(n).cast("double") - clean_len) / F.length(n).cast("double")
    ).otherwise(F.lit(1.0))
    length_credit = F.least(F.lit(1.0), ntok / F.lit(50.0))
    return length_credit * 0.4 + stop_ratio * 0.3 + (F.lit(1.0) - punct_ratio) * 0.3


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash int) — 16-bit simhash; docs with no tokens → 0."""
    toks = df.select(
        F.col(id_col), F.explode_outer(tokens(F.col(text_col))).alias("_tok")
    )
    h = toks.select(id_col, F.md5(F.col("_tok").cast("binary")).alias("_h"))
    sums = h.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.col("_h").isNull(), F.lit(0))
                .when(F.substring("_h", b + 1, 1).isin(*_HIGH_HEX), F.lit(1))
                .otherwise(F.lit(-1))
            ).alias(f"_b{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    bits = sum(
        (F.when(F.col(f"_b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)))
        for b in range(SIMHASH_BITS)
    )
    return sums.select(F.col(id_col), bits.alias("simhash"))


def shingles(c: Column, size: int = 3) -> Column:
    """Distinct word n-gram shingles; 1..size-1 tokens → single joined
    shingle; zero tokens (empty/NULL/whitespace text) → EMPTY array, so
    empty docs get no minhash signature and never pair in LSH/jaccard
    (mirrors the oracle's unnest-yields-no-rows behavior)."""
    t = tokens(c)
    n = F.size(t)
    grams = F.transform(
        F.sequence(F.lit(0), n - size),
        lambda i: F.concat_ws(" ", *[F.element_at(t, (i + j + 1).cast("int")) for j in range(size)]),
    )
    return F.when(n == 0, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.when(n >= size, grams).otherwise(F.array(F.concat_ws(" ", t)))
        )
    )


def top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Top-k characteristic terms per document, ranked by tf × idf-odds —
    the keyword-extraction pass of a corpus-analytics pipeline.

    Ranking: score = tf · (N − df + 0.5)/(df + 0.5), the Robertson–
    Spärck-Jones odds that BM25 takes the log of. log is monotone, so the
    RANKING is identical to BM25-idf — and skipping it keeps the score a
    short chain of correctly-rounded IEEE ops on exact integers
    (int→double casts, one +0.5, one divide, one multiply), bit-identical
    across engines; ln() implementations are only ulp-identical, which
    can flip ranks at ties and break a value-oracle. Ties break on term
    asc. Output: (doc_id, term, tf, df, rank) — all integers.

    Scale shape: explode → (doc,term) count with map-side partial
    combine; df-counts partial-combined on term; tf⋈df co-partitioned on
    term; N enters as a broadcast 1-row aggregate (no driver collect);
    the per-doc row_number filter compiles to WindowGroupLimit (map-side
    top-k), and window partitions are bounded by document length."""
    from pyspark.sql import Window

    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
    tf = tok.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.agg(F.count_distinct(F.col(id_col)).alias("_n"))
    n = F.col("_n").cast("double")
    d = F.col("df").cast("double")
    score = F.col("tf").cast("double") * ((n - d + F.lit(0.5)) / (d + F.lit(0.5)))
    w = Window.partitionBy(id_col).orderBy(F.desc("_score"), F.asc("term"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("_score", score)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
        .select(id_col, "term", "tf", "df", F.col("rank").cast("int").alias("rank"))
    )


# --- PII scrubbing (training-data hygiene) ---------------------------------
# Patterns deliberately avoid backslash escapes and engine-specific classes
# ([.] not \., [+] not \+, explicit char classes not \S) so Spark's Java
# regex and the oracle's RE2 match byte-for-byte on the same input. Applied
# to normalized (lowercased) text; URL masking runs FIRST so an address
# embedded in a URL is consumed as one entity.
PII_URL_RE = "https?://[a-z0-9./_-]+"
PII_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
PII_PHONE_RE = "[+][0-9]{8,}"


def scrub_pii(c: Column) -> Column:
    """Mask urls → emails → phone numbers with typed placeholder tokens."""
    out = F.regexp_replace(c, PII_URL_RE, "<url>")
    out = F.regexp_replace(out, PII_EMAIL_RE, "<email>")
    return F.regexp_replace(out, PII_PHONE_RE, "<phone>")


def pii_counts(c: Column) -> tuple[Column, Column, Column]:
    """(n_urls, n_emails, n_phones) on the UNscrubbed text (url count first,
    so an email inside a url still counts as a url on the scrub side)."""
    return (
        F.regexp_count(c, F.lit(PII_URL_RE)),
        F.regexp_count(c, F.lit(PII_EMAIL_RE)),
        F.regexp_count(c, F.lit(PII_PHONE_RE)),
    )


def cooccurrence_edges(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 2,
) -> DataFrame:
    """Corpus-level token co-occurrence graph (src, dst, w): tokens
    within `window` positions of each other in any document, src < dst
    lexicographically, w = total co-occurrence count across the corpus.

    Scale shape: the join is an EQUI-join on (doc, position + offset)
    with the left side replicated `window` times — per-token fan-out is
    exactly `window`, LINEAR in document length. (A doc-keyed self-join
    with the |i-j| <= window predicate applied post-join would be
    QUADRATIC in tokens-per-document before the filter — 10^8
    intermediate rows for one 10k-token page; skipgram_pairs gets away
    with that shape only because walks are short by construction.)
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    pos = df.select(
        F.col(id_col).alias("_doc"),
        F.posexplode(tokens(F.col(text_col))).alias("_i", "_tok"),
    )
    a = pos.select(
        "_doc", F.col("_i").alias("_ia"), F.col("_tok").alias("_ta")
    ).withColumn(
        "_off",
        F.explode(F.sequence(F.lit(1), F.lit(window)).cast("array<int>")),
    ).withColumn("_ib", F.col("_ia") + F.col("_off")).drop("_off")
    b = pos.select("_doc", F.col("_i").alias("_ib"), F.col("_tok").alias("_tb"))
    return (
        a.join(b, ["_doc", "_ib"])
        .where(F.col("_ta") != F.col("_tb"))
        .select(
            F.least("_ta", "_tb").alias("src"),
            F.greatest("_ta", "_tb").alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )


def textrank_keywords(
    spark,
    df: DataFrame,
    k: int = 20,
    window: int = 2,
    iters: int = 10,
    damping: float = 0.85,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau, EMNLP'04): run
    PageRank over the corpus token co-occurrence graph and return the
    top-k terms (term, score, rn). A pure composition of engine
    operators — cooccurrence_edges → operators/pagerank.pagerank
    (weighted, fixed iterations) → global top-k sort-limit — so every
    stage inherits the scale shape already pinned for those operators
    (src-partitioned persisted edges, map-side partial top-k).

    Corpus-level by design: ONE graph over all documents (per-document
    graphs would be millions of driver-side tiny problems — not the
    Spark shape). Per-document keywords = semi-join this output against
    the document's token set.
    """
    from pyspark.sql import Window

    from ..operators.pagerank import pagerank

    edges = cooccurrence_edges(
        df, id_col=id_col, text_col=text_col, window=window
    )
    # token-string vertices: hash to ids for the solver, keep the map
    vmap = (
        edges.select(F.col("src").alias("term"))
        .unionByName(edges.select(F.col("dst").alias("term")))
        .distinct()
        .select("term", F.xxhash64("term").alias("id"))
    )
    e = (
        edges.join(vmap.withColumnRenamed("term", "src"), "src")
        .withColumnRenamed("id", "_sid")
        .join(vmap.withColumnRenamed("term", "dst"), "dst")
        .withColumnRenamed("id", "_did")
    )
    # undirected TextRank: feed both directions, weight-preserving
    sym = e.select(
        F.col("_sid").alias("src"), F.col("_did").alias("dst"), "w"
    ).unionByName(
        e.select(F.col("_did").alias("src"), F.col("_sid").alias("dst"), "w")
    )
    res = pagerank(
        spark, sym, damping=damping, tol=0.0, max_iter=iters,
        weight_col="w",
    )
    ranked = res.ranks.join(vmap, "id").select(
        "term", F.col("rank").alias("score")
    )
    wtop = Window.orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        ranked.orderBy(F.col("score").desc(), F.col("term").asc())
        .limit(k)
        .withColumn("rn", F.row_number().over(wtop))
    )


def document_keywords(
    df: DataFrame,
    corpus_keywords: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document keywords from a corpus TextRank run (the semi-join
    textrank_keywords' docstring promises): (id, term, score, rn) — the
    corpus keywords that actually occur in each document, rn re-ranked
    within the document by corpus score. corpus_keywords is
    textrank_keywords output (model-sized: k rows), so the join
    broadcasts; the doc side is one explode + distinct, no shuffle of
    the corpus ranking."""
    from pyspark.sql import Window

    doc_terms = df.select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    ).distinct()
    w = Window.partitionBy("id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        doc_terms.join(
            F.broadcast(corpus_keywords.select("term", "score")), "term"
        )
        .withColumn("rn", F.row_number().over(w))
        .select("id", "term", "score", "rn")
    )
