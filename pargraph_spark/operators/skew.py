"""O10 — hub-vertex skew mitigation (SURVEY.md §2.3, north_rule).

What Spark already covers (verified via .explain: HashAggregate
partial→final pairs, AQE OptimizeSkewedJoin):
- algebraic aggregates (sum/count/min/max) partial-combine map-side, so a
  Zipf hub dst receiving 10^8 messages yields at most num_map_partitions
  partial rows — PageRank's groupBy(dst).sum and CC's groupBy(u).min are
  inherently skew-safe;
- joins on skewed keys are split at runtime by AQE skew-join.

What is NOT covered and what this module is for:
- grouped-map ops (applyInPandas/cogroup) ship the ENTIRE group to one
  task — a hub group means one straggler holding the superstep barrier;
- holistic aggregates (collect_list/exact distinct per key).

``salted_sum`` is the two-level pattern: spray rows of hot keys across
``num_salts`` sub-keys, partial-aggregate, then final-aggregate — identical
results by associativity, bounded per-task fan-in. ``with_salt`` /
``top_k_hot`` are the building blocks for salting grouped-map pipelines
(pre-reduce inside the salted group, final combine after).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def top_k_hot(edges: DataFrame, key: str = "dst", k: int = 100) -> DataFrame:
    """The k highest-fan-in keys (Zipf hub detection)."""
    return (
        edges.groupBy(key)
        .agg(F.count("*").alias("fan_in"))
        .orderBy(F.desc("fan_in"), F.asc(key))
        .limit(k)
    )


def with_salt(df: DataFrame, num_salts: int, salt_col: str = "_salt") -> DataFrame:
    """Content-hash salting: the salt is pmod(xxhash64(all columns), n), so
    a given row always lands in the same salt bucket regardless of physical
    partitioning — the downstream two-level combine is therefore
    bit-deterministic for integral values (grouping is stable), not merely
    value-equal. Rows of a hot key spread across buckets as long as they
    differ in ANY column (exact duplicate rows share a bucket — acceptable:
    duplicates combine cheaply in the partial aggregate anyway). For
    floating-point values even a stable grouping leaves within-partition
    accumulation order unpinned, so double sums are deterministic only to
    ~1 ulp × log(n) — documented, not promised."""
    if salt_col in df.columns:
        # withColumn would silently REPLACE the caller's column and
        # corrupt downstream group keys
        raise ValueError(f"input already has a {salt_col!r} column")
    return df.withColumn(
        salt_col, F.pmod(F.xxhash64(*df.columns), F.lit(num_salts)).cast("int")
    )


def salted_sum(
    df: DataFrame,
    key_cols: list[str],
    value: Column,
    num_salts: int = 16,
    alias: str = "sum",
) -> DataFrame:
    """Two-level Σ value GROUP BY key_cols with bounded per-task fan-in."""
    if "_v" in df.columns:
        raise ValueError("input already has a '_v' column")
    stage1 = (
        with_salt(df.withColumn("_v", value), num_salts)
        .groupBy(*key_cols, "_salt")
        .agg(F.sum("_v").alias("_partial"))
    )
    return stage1.groupBy(*key_cols).agg(F.sum("_partial").alias(alias))
