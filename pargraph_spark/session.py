"""SparkSession factory with scale-oriented defaults.

The reference picks its parallelism by swapping process-pool backends
(/root/reference/pargraph/engine/engine.py:22-40); here the analogue is the
master URL + shuffle partitioning, and everything else (DAG scheduling,
culling, fusion) is Catalyst's job.

The reference keeps its workers warm between task-graph runs; the Spark
analogue is keeping generated code resident. Whole-stage codegen compiles
one Java class per generated source, and Spark caches those classes per
JVM, keyed by their source text. Double, long and int literals and
hash-partition counts are inlined into that source, so a plan re-built
with the same literals and partition counts (the next round of a loop,
the next call on a graph seen before) reuses its compiled class and the
JIT-compiled code behind it: re-planning a seen plan costs no compile.
``get_spark`` sizes that cache to the engine's working set.
"""

from __future__ import annotations

import logging
import math
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

log = logging.getLogger(__name__)

ADVISORY_BYTES = 64 << 20  # bytes per partition, the AQE default


def _query_execution(df: DataFrame):
    """The JVM ``QueryExecution`` of ``df``: the one use of the private
    ``DataFrame._jdf`` handle (checked against PySpark 4.1.2)."""
    return df._jdf.queryExecution()


@contextmanager
def no_aqe(spark: SparkSession, shuffle_partitions: int | None = None):
    """Disable adaptive query execution for a superstep loop — and, when
    ``shuffle_partitions`` is given, pin the session's shuffle partition
    count to the operator's P for the loop's duration — restoring both on
    exit. Pinning matters once P is size-derived: groupBy/join exchanges
    inside the loop take their count from the session conf, and a conf
    value ≠ P would make every aggregate output partitioning incompatible
    with the P-partitioned state/edge tables, silently re-exchanging what
    the whole design keeps in place.

    Why (guide §2.4 — remove shuffles outright): ``localCheckpoint``
    records the materialized plan's outputPartitioning into its
    LogicalRDD, so a checkpointed state table partitioned on its key is
    probed IN PLACE by the next superstep's co-partitioned joins and
    aggregations. Under AQE the physical plan is an AdaptiveSparkPlan
    whose partitioning is reported as Unknown at checkpoint time, and
    every superstep silently re-exchanges the full state (measured: 2
    extra V-scale Exchanges per PageRank superstep, the same for every
    other fixpoint operator). Inside a superstep the plans are small and
    fixed-shape — partition counts are pinned to P by the operator, hub
    skew is absorbed by partial (map-side) aggregation — so AQE's runtime
    re-planning buys nothing there; it stays on for everything outside
    the loops (scans, one-shot queries, candidate joins)."""
    key = "spark.sql.adaptive.enabled"
    skey = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    prev_shuffle = spark.conf.get(skey)
    spark.conf.set(key, "false")
    if shuffle_partitions is not None:
        spark.conf.set(skey, str(int(shuffle_partitions)))
    try:
        yield
    finally:
        spark.conf.set(key, prev)
        spark.conf.set(skey, prev_shuffle)


def size_based_partitions(df, cap: int) -> int:
    """Scale-adaptive partition count for an operator's edge/state tables
    (guide §2.2) — the AQE partition-coalescing rule applied manually,
    because the fixpoint loops run under ``no_aqe`` and pin one P for
    every co-partitioned probe: enough partitions for ``ADVISORY_BYTES``
    each, floored at the session's default parallelism (AQE's
    parallelismFirst semantics — never idle cores to make partitions
    bigger), capped at the caller's ``num_partitions``.

    The size comes from the optimizer's estimate of the INPUT relation
    (parquet file sizes, cache statistics) — no extra job. When the
    estimate is unusable (join-cardinality guesses, LogicalRDD default
    of 2^63, or an estimate the JVM bridge cannot convert) the caller's
    cap is returned unchanged, so this can only REDUCE task-count
    overhead, never mis-partition real volume."""
    spark = df.sparkSession
    floor = max(1, min(cap, spark.sparkContext.defaultParallelism))
    try:
        size = int(_query_execution(df).optimizedPlan().stats().sizeInBytes())
    except Exception:
        log.debug("no usable size estimate; keeping %d partitions", cap,
                  exc_info=True)
        return cap
    if size <= 0 or size >= (1 << 60):  # unknown/unusable estimate
        return cap
    return max(floor, min(cap, math.ceil(size / ADVISORY_BYTES)))


_BYTE_UNITS = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
               "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40,
               "tb": 1 << 40, "p": 1 << 50, "pb": 1 << 50}


def broadcast_threshold(spark: SparkSession) -> int:
    """The byte size under which AQE turns a join side into a broadcast
    (its own threshold, else the static one); ``-1`` when broadcasts are
    off. Spark byte strings: ``10485760b``, ``10MB``, ``-1``."""
    raw = (spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
           or spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    s = raw.strip().lower()
    digits = s.rstrip("bkmgtp")
    n = int(digits) * _BYTE_UNITS[s[len(digits):]]
    return -1 if n < 0 else n


def ckpt_state(df, P: int):
    """Partitioning-preserving eager localCheckpoint for iteration state.

    Materializes under ``no_aqe(P)`` so (a) the produced LogicalRDD
    RECORDS its hash partitioning — the next round's co-partitioned joins
    and aggregations then probe the state in place instead of re-
    exchanging it (see no_aqe) — and (b) every exchange inside this
    materialization uses the operator's P rather than the session's
    shuffle-partition count. Drop-in as ``df.transform(ckpt_state, P)``
    in place of ``df.localCheckpoint(eager=True)``; rows unchanged."""
    with no_aqe(df.sparkSession, P):
        return df.localCheckpoint(eager=True)


def default_cores() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    except ValueError:
        return os.cpu_count() or 4


def get_spark(
    app_name: str = "pargraph-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for partition-parallel graph jobs.

    - AQE on (runtime coalesce + skew-join mitigation at scale).
    - Arrow on for every pandas/Arrow UDF crossing.
    - ``spark.sql.shuffle.partitions`` scales with cores (2x) unless pinned:
      supersteps are shuffle-bound, so partition count tracks parallelism.
    - Generated code stays resident: the codegen cache (per JVM, keyed by
      the generated source, which inlines numeric literals and
      hash-partition counts) holds the engine's working set, so re-planning
      a plan seen before compiles nothing.

    ``extra_conf`` entries override any of these; static confs (the
    codegen cache size among them) take effect only when this call starts
    the session.
    """
    cores = cores or default_cores()
    shuffle = shuffle_partitions or max(8, 2 * cores)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # a static conf, so set before the session starts. Spark's default
        # keeps 100 generated classes; one crawl pass (build_linkgraph,
        # pagerank, connected_components, label_propagation,
        # triangle_count) compiles about 280 and one near-dup round about
        # 90, so at 100 every repeated pass evicted and re-compiled its own
        # classes with Janino, then JIT-compiled them again
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # run_fixpoint frees what it supersedes; a localCheckpoint made
        # outside it waits for a ContextCleaner GC to notice the dropped
        # reference, and the default periodicGC (30min) is far too lazy
        .config("spark.cleaner.periodicGC.interval", "45s")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
