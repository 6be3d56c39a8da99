"""Event-stream analytics over the ``events`` table
(event_id, ts timestamp, user_id, event_type, value double, props json-str).

Batch forms of the classic stream operators — each is the exact batch
equivalent of its Structured Streaming counterpart in
``pargraph_spark/streaming/events.py`` (same windows, same session rule),
so batch output doubles as the streaming oracle. All expressions JVM-side;
the only doubles are per-window/session sums rounded to 6dp (value noise
~1e-12 « rounding granularity), timestamps compare exactly (µs ints).

Scale notes: tumbling windows and sessionization are single-shuffle plans —
window counts partial-aggregate map-side (hub event types are safe);
sessionization shuffles once on user_id and runs two window functions over
each user's (ts, event_id)-sorted partition; skewed users are bounded by
per-user event counts, not table size.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_counts(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Tumbling-window counts+sums per event_type:
    (window_start, window_end, event_type, n_events, total_value6)."""
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value6"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value6",
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessions per user: a new session starts when the time
    since the previous event exceeds ``gap_minutes``. Deterministic order
    inside a user: (ts, event_id). Returns
    (user_id, session_id 0-based per user, session_start, session_end,
    n_events, total_value6)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # interval arithmetic, not epoch casts: TIMESTAMP_NTZ has no BIGINT
    # cast under ANSI, and ts - lag(ts) > INTERVAL is exact (µs ints)
    gap = F.expr(f"INTERVAL {int(gap_minutes)} MINUTE")
    new_sess = (
        F.when(F.col("ts") - F.lag("ts").over(w) > gap, F.lit(1))
        .otherwise(F.lit(0))
    )
    with_sid = events.withColumn(
        "session_id",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return with_sid.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value6"),
    )


def props_stats(events: DataFrame) -> DataFrame:
    """Semi-structured extraction: pull props.k (JSON) and aggregate per
    event_type — (event_type, n_events, k_sum, k_min, k_max). All-integer
    aggregates: exact across engines."""
    # try_cast: a non-integral props.k ('1.5', 'n/a') must become NULL,
    # not a CAST_INVALID_INPUT that kills the whole aggregation under
    # Spark 4's default ANSI mode; DuckDB's plain CAST of the
    # oracle only ever sees the valid-integer testdata, so parity holds
    k = F.get_json_object("props", "$.k").try_cast("long")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


def value_quantiles(
    df: DataFrame,
    col: str,
    group_col: str | None = None,
    probs: tuple = (0.25, 0.5, 0.75, 0.95),
    relative_error: float = 0.01,
    exact: bool = False,
) -> DataFrame:
    """Quantile summary of a numeric column, optionally per group — the
    distribution-profiling step of data-quality monitoring (token-count
    / value / latency distributions over a 100-TB corpus).

    Approximate tier (default): Greenwald–Khanna sketches via
    ``percentile_approx(col, probs, accuracy)`` — each map task folds its
    rows into a FIXED-SIZE summary (O(1/relative_error) tuples, not
    O(rows)), summaries merge associatively in the partial aggregate,
    and the answer is rank-correct within ``relative_error`` of the true
    rank. The exact tier (``percentile``) must materialize and sort each
    group's values — the pair is the same exact/approx contract as
    host_reach. Tolerance-gated in pytest (rank error, not value error —
    the GK guarantee is on ranks), deliberately not a value-oracle:
    sketch internals are engine-specific.

    Output: (group?, p, q) — one row per requested quantile."""
    # ceil, not floor: int(1/0.03)=33 would deliver 1/33 > 0.03 rank
    # error — slightly WORSE than requested
    accuracy = max(1, math.ceil(1.0 / relative_error))
    ps = list(probs)
    agg = (
        F.percentile(F.col(col), F.array(*[F.lit(p) for p in ps]))
        if exact
        else F.percentile_approx(
            F.col(col), F.array(*[F.lit(p) for p in ps]), F.lit(accuracy)
        )
    )
    keys = [group_col] if group_col else []
    base = df.groupBy(*keys).agg(agg.alias("_qs"))
    pos = F.posexplode(F.col("_qs"))
    out = base.select(*keys, pos.alias("_i", "q")).withColumn(
        "p", F.element_at(F.array(*[F.lit(float(p)) for p in ps]), F.col("_i") + 1)
    )
    return out.select(*keys, "p", F.col("q").cast("double").alias("q"))
