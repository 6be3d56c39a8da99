"""Structured Streaming event analytics: watermarked windowed aggregation
and a custom stateful sessionizer (applyInPandasWithState).

The reference is batch-only (SURVEY.md §2.2); these are the engine's
stream-native counterparts of operators/events.py, sharing its exact
semantics so the batch operator is the streaming test oracle:

- stream_windowed_counts: tumbling window + event-time watermark, append
  mode. Exact semantics (tested, not claimed): a window is finalized and
  emitted exactly once when the watermark passes its end; a late row
  arriving AFTER its window was finalized is dropped (never re-emitted);
  a late row arriving while the window's state is still live may merge
  (Spark's documented one-sided guarantee).
- streaming_sessionize: gap-based sessions kept as per-user GroupState;
  sessions close either when a new event arrives past the gap or when the
  event-time watermark passes (last_event + gap) — EventTimeTimeout. The
  emitted sessions equal operators.events.sessionize on the same rows
  (asserted in tests/test_events.py).

Scale notes: state is O(open sessions) = O(active users), partitioned by
user_id; watermark bounds state lifetime, so a 100-TB/day stream holds
state only for the gap horizon, not history.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

SESSION_OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, total_value double"
)
_SESSION_STATE_SCHEMA = "start_us long, last_us long, n long, total double"
_US = 1_000_000


def read_event_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    r = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        # validate here, not at query start — and never treat 0 as
        # "unthrottled" (a falsy check would silently drop the option,
        # the OPPOSITE of the requested throttle)
        if int(max_files_per_trigger) < 1:
            raise ValueError(
                f"max_files_per_trigger must be >= 1, got {max_files_per_trigger}"
            )
        r = r.option("maxFilesPerTrigger", int(max_files_per_trigger))
    return r.parquet(input_dir)


def stream_windowed_counts(events: DataFrame, window: str = "1 hour",
                           watermark: str = "2 hours") -> DataFrame:
    """Streaming mirror of operators.events.windowed_event_counts with an
    event-time watermark; rows later than the watermark are dropped."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
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


def streaming_sessionize(events: DataFrame, gap_minutes: int = 30,
                         watermark: str = "2 hours") -> DataFrame:
    """Gap-based sessions as custom per-user state (applyInPandasWithState,
    EventTimeTimeout). Emits a session when it closes; the open tail stays
    in state until the watermark passes last_event + gap."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * _US

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        user_id = int(key[0])

        def emit(start_us: int, last_us: int, n: int, total: float) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                    "total_value": [total],
                }
            )

        if state.hasTimedOut:
            start_us, last_us, n, total = state.get
            state.remove()
            yield emit(start_us, last_us, n, total)
            return

        rows: list[tuple[int, float, int]] = []  # (ts_us, value, event_id)
        for pdf in pdfs:
            if len(pdf):
                ts_us = (pdf["ts"].astype("int64") // 1000).tolist()
                rows += list(zip(ts_us, pdf["value"].tolist(), pdf["event_id"].tolist()))
        if not rows:  # defensive: invoked without data nor timeout
            return
        # rows sort within the batch; a row that arrives in a LATER batch
        # than a newer one (cross-batch disorder, still inside the
        # watermark) merges into the open session by gap-vs-last — equal to
        # batch sessionize for in-order feeds, the documented contract
        rows.sort(key=lambda r: (r[0], r[2]))
        if state.exists:
            start_us, last_us, n, total = state.get
        else:
            start_us = last_us = rows[0][0]
            n, total = 0, 0.0
        for ts_us, value, _eid in rows:
            if n > 0 and ts_us - last_us > gap_us:
                yield emit(start_us, last_us, n, total)
                start_us, n, total = ts_us, 0, 0.0
            last_us = max(last_us, ts_us)
            n += 1
            total += value
        state.update((start_us, last_us, n, total))
        # close the open tail when event time passes last + gap
        state.setTimeoutTimestamp((last_us + gap_us) // 1000)

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_OUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_to_memory(stream_df: DataFrame, name: str, checkpoint_dir: str,
                  output_mode: str = "append", timeout_s: int = 300) -> None:
    """Drain the available input into an in-memory table (availableNow) —
    the test/backfill harness for the streaming operators."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        # a silent timeout would hand the caller a PARTIAL memory table
        # while the query keeps draining behind their back
        q.stop()
        raise TimeoutError(
            f"stream {name!r} did not drain within {timeout_s}s"
        )
