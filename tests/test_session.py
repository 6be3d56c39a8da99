"""session.get_spark — the session contract the operators rely on.

Generated code stays resident: whole-stage codegen classes are cached per
JVM, keyed by their source, so a pass re-run on the same graph reuses
every class the first run compiled.
"""

from __future__ import annotations

import random

from pargraph_spark.operators.components import connected_components
from pargraph_spark.operators.labelprop import label_propagation
from pargraph_spark.operators.pagerank import pagerank
from pargraph_spark.operators.triangles import triangle_count


def _compiles(spark) -> int:
    """Classes compiled by Janino in this JVM so far."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cm.METRIC_COMPILATION_TIME().getCount()


def _graph(spark):
    # seeded random graph with dangling vertices (90..99 have no out-edges),
    # so PageRank's per-superstep dangling-mass literal changes every step
    rng = random.Random(7)
    pairs = {(rng.randrange(90), rng.randrange(100)) for _ in range(300)}
    return spark.createDataFrame(sorted(pairs), "src long, dst long")


def _pass(spark, edges):
    pr = pagerank(spark, edges, tol=1e-9, max_iter=10, num_partitions=4)
    cc = connected_components(spark, edges, num_partitions=4)
    lpa = label_propagation(spark, edges, max_iter=5, num_partitions=4)
    tc = triangle_count(spark, edges)
    return (
        sorted(tuple(r) for r in pr.ranks.collect()),
        sorted(tuple(r) for r in cc.components.collect()),
        sorted(tuple(r) for r in lpa.labels.collect()),
        tc.total,
    )


def test_codegen_cache_holds_a_repeated_pass(spark):
    edges = _graph(spark)
    first = _pass(spark, edges)
    before = _compiles(spark)
    second = _pass(spark, edges)
    assert _compiles(spark) - before == 0
    assert second == first


def test_broadcast_threshold_reads_spark_byte_strings(spark):
    from pargraph_spark.session import broadcast_threshold

    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        for raw, want in (("10485760b", 10 << 20), ("10MB", 10 << 20),
                          ("512k", 512 << 10), ("4096", 4096), ("-1", -1)):
            spark.conf.set(key, raw)
            assert broadcast_threshold(spark) == want, raw
    finally:
        spark.conf.set(key, prev)
