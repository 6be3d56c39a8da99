"""Env-gated physical-plan capture (guide §1: measure first).

When $SPARK_GRAFT_PLAN_DUMP names a directory, ``dump_plan(df, name)``
writes ``<name>.txt`` with the ``formatted`` explain output of ``df`` —
once per name per process, so iterative operators can call it inside a
superstep loop and capture the FIRST superstep's plan (the steady-state
shape; later supersteps differ only in the checkpointed input). With the
variable unset it is a no-op (zero cost in production paths).

This exists so the plan evidence in plans/r*/ is the authentic executed
shape of the operator internals, not a reconstruction.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from pargraph_spark.session import _query_execution


def dump_plan(df: DataFrame, name: str) -> None:
    out_dir = os.environ.get("SPARK_GRAFT_PLAN_DUMP")
    if not out_dir:
        return
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{name}.txt")
    if os.path.exists(path):  # first dump per name wins (superstep loops)
        return
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    text = _query_execution(df).explainString(mode)
    with open(path, "w") as fh:
        fh.write(text)
