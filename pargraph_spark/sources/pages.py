"""Pages-table source: scan + latest-crawl dedupe (SURVEY.md §2.3 O1).

At 100 TB the pages table is Iceberg-partitioned by crawl date; the reader
here takes any path spark.read understands (parquet locally, ``iceberg``
catalog tables on a cluster) and always applies the same dedupe: one row per
url, the row with max(warc_ts).

Scale notes: the dedupe is a single hash shuffle on ``url`` carrying the html
blob once (max_by avoids the sort a window-rank would add, and AQE coalesces
the post-shuffle partitions). Column pruning matters at this width — callers
that only need (url, html) should select before calling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# text interchange layout for csv/jsonl page drops (those formats carry
# no binary/timestamp types): html is base64, warc_ts is an ISO-8601
# string; read_pages decodes back to the canonical typed schema
_TEXT_INTERCHANGE_SCHEMA = (
    "url string, warc_ts string, html string, text string, lang string"
)
_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def read_pages(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Pages scan normalized to the canonical schema
    (url string, warc_ts timestamp, html binary, text string, lang string)
    regardless of source format.

    parquet (and iceberg on a cluster) carry the types natively. csv and
    json drops use the text interchange layout — html base64-encoded,
    warc_ts ISO-8601 (see write_pages_text) — and are decoded here, so
    O2's byte-identical extraction contract holds over any source format.
    """
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt in ("csv", "json"):
        reader = spark.read.schema(_TEXT_INTERCHANGE_SCHEMA)
        if fmt == "csv":
            df = (
                reader.option("header", True)
                .option("multiLine", True)
                .option("escape", '"')
                .csv(path)
            )
        else:
            df = reader.json(path)
        return df.select(
            "url",
            F.to_timestamp("warc_ts", _TS_FMT).alias("warc_ts"),
            F.unbase64("html").alias("html"),
            "text",
            "lang",
        )
    return spark.read.format(fmt).load(path)


def write_pages_text(pages: DataFrame, path: str, fmt: str) -> None:
    """Write a pages DataFrame as a csv or json drop in the text
    interchange layout read_pages expects (html → base64, warc_ts → ISO
    string). Round-trip is byte-exact for html and value-exact for every
    other column."""
    enc = pages.select(
        "url",
        F.date_format("warc_ts", _TS_FMT).alias("warc_ts"),
        F.base64("html").alias("html"),
        "text",
        "lang",
    )
    if fmt == "csv":
        (
            enc.write.mode("overwrite")
            .option("header", True)
            .option("escape", '"')
            .csv(path)
        )
    elif fmt == "json":
        enc.write.mode("overwrite").json(path)
    else:
        raise ValueError(f"write_pages_text supports csv/json, got {fmt!r}")


def read_pages_table(
    spark: SparkSession,
    name: str,
    snapshot_id: int | None = None,
    as_of_ts_ms: int | None = None,
) -> DataFrame:
    """Pages scan from a CATALOG TABLE — the canonical access path for
    the Iceberg pages table the north rule names (`spark.read.table`;
    works unchanged for any catalog format: Iceberg, Hive, temp views in
    tests). Column pruning and predicate pushdown flow through exactly
    as for path scans — downstream operators select/filter before any
    action, so an Iceberg scan reads only the touched columns/files.

    `snapshot_id` / `as_of_ts_ms` forward Iceberg's public time-travel
    read options (`snapshot-id`, `as-of-timestamp`, ms since epoch) —
    reproducible re-runs against a pinned table state (the batch
    counterpart of streaming/incremental.py's idempotent ingest).
    Non-Iceberg sources ignore them; passing both is rejected (Iceberg
    would).
    """
    if snapshot_id is not None and as_of_ts_ms is not None:
        raise ValueError("pass snapshot_id OR as_of_ts_ms, not both")
    reader = spark.read
    if snapshot_id is not None:
        reader = reader.option("snapshot-id", int(snapshot_id))
    if as_of_ts_ms is not None:
        reader = reader.option("as-of-timestamp", int(as_of_ts_ms))
    return reader.table(name)


def latest_pages(pages: DataFrame) -> DataFrame:
    """One row per url: the latest crawl by warc_ts.

    Single wide shuffle on url; ties broken by the LEXICOGRAPHICALLY
    greatest html bytes (struct max compares html as binary, NOT by
    payload size), then text, then lang: any fixed
    total order makes the result deterministic when two crawl rows share
    a timestamp, and byte order is the one the struct-max plan gives for
    free.
    """
    payload = F.struct("warc_ts", "html", "text", "lang")
    return (
        pages.groupBy("url")
        .agg(F.max(payload).alias("_p"))
        .select("url", "_p.warc_ts", "_p.html", "_p.text", "_p.lang")
    )


def crawl_diff(old_pages: DataFrame, new_pages: DataFrame) -> DataFrame:
    """Recrawl delta: (url, status, old_ts, new_ts) with status in
    {added, removed, changed, unchanged} — the page-level input to any
    incremental pipeline decision (what to re-extract, which edges to
    re-append via sources/edgestore, which hosts to re-budget in
    frontier_waves). Both inputs must be one-row-per-url (compose with
    latest_pages).

    'changed' compares md5 over the RAW html bytes — the same
    byte-identity contract O2's extraction is pinned to, so unchanged
    here guarantees identical downstream text/links.

    Scale shape: ONE full outer join on url; fingerprints are computed
    in the map stage before the shuffle, so html bytes never cross the
    exchange — only (url, 16-byte md5, ts) rows do.
    """
    # explicit presence markers: md5(NULL html) is NULL, so the hash
    # column cannot double as "row exists on this side"
    o = old_pages.select(
        "url",
        F.md5(F.col("html")).alias("_oh"),
        F.lit(True).alias("_op"),
        F.col("warc_ts").alias("old_ts"),
    )
    n = new_pages.select(
        "url",
        F.md5(F.col("html")).alias("_nh"),
        F.lit(True).alias("_np"),
        F.col("warc_ts").alias("new_ts"),
    )
    return o.join(n, "url", "full_outer").select(
        "url",
        F.when(F.col("_op").isNull(), F.lit("added"))
        .when(F.col("_np").isNull(), F.lit("removed"))
        .when(
            F.col("_oh").eqNullSafe(F.col("_nh")), F.lit("unchanged")
        )
        .otherwise(F.lit("changed"))
        .alias("status"),
        "old_ts",
        "new_ts",
    )


def crawl_diff_summary(diff: DataFrame) -> DataFrame:
    """(status, n) counts of a crawl_diff — the recrawl health line."""
    return diff.groupBy("status").agg(F.count("*").alias("n"))
