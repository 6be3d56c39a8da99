"""Within-document repetition signals — the Gopher repetition filters
(Rae et al. 2021, "Scaling Language Models", Table A1; carried into
MassiveText/RefinedWeb/Dolma curation): boilerplate-heavy and
degenerate pages are detected by how much of the document is duplicated
lines and how much is covered by the single most frequent n-gram.

Per document (doc_id):

  - n_lines, dup_line_frac       = (n_lines − n_distinct_lines)/n_lines
  - dup_line_char_frac           = chars in occurrences 2..k of each
                                   repeated line / total line chars
  - top_ngram_char_frac          = count(g*)·len(g*) / total token
                                   chars, g* the most frequent word
                                   n-gram (ties: lexicographically
                                   smallest — deterministic)

Lines are '\\n'-split, trimmed, empties dropped; n-grams come from the
pinned tokens() normalization (functions/text.py), so the signals are a
pure function of the text. Every fraction is ONE IEEE division of
exact integer counts (the edge_jaccard float tier).

Scale shape: two explode → groupBy(doc_id, unit) count passes (lines,
n-grams), each partial-combining map-side; per-doc reduction is an
integer aggregate plus ONE WindowGroupLimit top-1 for the argmax
n-gram. Group sizes are bounded by document length — no corpus-scale
key ever forms (the unit of repetition is within-document by
definition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 2,
) -> DataFrame:
    """(id, n_lines, dup_line_frac, dup_line_char_frac, top_ngram,
    top_ngram_char_frac) per document. Documents with no lines / fewer
    than `ngram` tokens get 0.0 fractions (nothing to repeat)."""
    if ngram < 1:
        raise ValueError(f"ngram must be >= 1, got {ngram}")
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))

    lines = base.select(
        "id",
        F.explode(
            F.filter(
                F.transform(
                    F.split(F.coalesce(F.col("_t"), F.lit("")), "\n"),
                    lambda x: F.trim(x),
                ),
                lambda x: F.length(x) > 0,
            )
        ).alias("line"),
    )
    per_line = lines.groupBy("id", "line").agg(F.count("*").alias("c"))
    line_stats = per_line.groupBy("id").agg(
        F.sum("c").alias("_nl"),
        F.count("*").alias("_ndl"),
        F.sum(F.length("line") * F.col("c")).alias("_chars"),
        F.sum(F.length("line") * (F.col("c") - 1)).alias("_dupchars"),
    )

    toks = base.select("id", tokens(F.col("_t")).alias("_tok"))
    grams = toks.select(
        "id",
        F.col("_tok"),
        F.explode(
            F.when(
                F.size("_tok") >= ngram,
                F.transform(
                    F.sequence(F.lit(0), F.size("_tok") - ngram),
                    lambda i: F.concat_ws(
                        " ",
                        *[
                            F.element_at("_tok", (i + j + 1).cast("int"))
                            for j in range(ngram)
                        ],
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    ).select("id", "gram")
    per_gram = grams.groupBy("id", "gram").agg(F.count("*").alias("c"))
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(F.col("c").desc(), F.col("gram").asc())
    top_gram = (
        per_gram.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "id",
            F.col("gram").alias("top_ngram"),
            F.col("c").alias("_tc"),
        )
    )
    tok_chars = toks.select(
        "id",
        F.aggregate(
            F.transform(F.col("_tok"), lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("_tchars"),
    )

    return (
        base.select("id")
        .join(line_stats, "id", "left")
        .join(top_gram, "id", "left")
        .join(tok_chars, "id", "left")
        .select(
            "id",
            F.coalesce("_nl", F.lit(0)).alias("n_lines"),
            F.when(
                F.coalesce("_nl", F.lit(0)) > 0,
                (F.col("_nl") - F.col("_ndl")) / F.col("_nl"),
            ).otherwise(F.lit(0.0)).alias("dup_line_frac"),
            F.when(
                F.coalesce("_chars", F.lit(0)) > 0,
                F.col("_dupchars") / F.col("_chars"),
            ).otherwise(F.lit(0.0)).alias("dup_line_char_frac"),
            "top_ngram",
            F.when(
                (F.coalesce("_tchars", F.lit(0)) > 0)
                & F.col("_tc").isNotNull(),
                # token chars only: the concat_ws separators are not
                # document characters (with them, 'ab cd' x3 over 12
                # token chars would score 1.25); overlapping
                # occurrences can still double-count shared tokens, so
                # clamp at 1 (the standard impl shortcut, documented)
                F.least(
                    F.lit(1.0),
                    (
                        F.col("_tc")
                        * (F.length("top_ngram") - F.lit(ngram - 1))
                    ) / F.col("_tchars"),
                ),
            ).otherwise(F.lit(0.0)).alias("top_ngram_char_frac"),
        )
    )


def repetition_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_top_ngram_char_frac: float = 0.20,
    ngram: int = 2,
) -> DataFrame:
    """Gopher-rule keep-list: the ids whose repetition signals are all
    at or below the thresholds (defaults are the published Gopher
    cut-offs for dup-line 30%, dup-line-chars 20%, top-2-gram 20%).
    Semi-join the corpus against this to drop degenerate documents."""
    s = repetition_stats(df, id_col, text_col, ngram)
    return s.where(
        (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("dup_line_char_frac") <= max_dup_line_char_frac)
        & (F.col("top_ngram_char_frac") <= max_top_ngram_char_frac)
    ).select("id")
