"""Per-call profile of one perfbench workload.

    python3 scripts/call_profile.py near_dup 3 11

Arguments: workload, rounds, seed. Run from the repository root. Sets up
the workload as ``perfbench/run.py`` does (same isolation, session and
seeded inputs; round 0 is its untimed warm-up), then runs ``rounds``
units. For every call of every round it prints the wall time, the CPU
seconds of the process tree (perfbench's ``cpu_s`` counter), the Spark
jobs the call ran (counted through a job group per call), the classes
Janino compiled and the JIT compile milliseconds of the Spark JVM. Each
round's output is checked against perfbench's expected results.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import run as bench  # noqa: E402  perfbench/run.py
import workloads  # noqa: E402


class ProfiledHarness(workloads.Harness):
    """perfbench's harness with every call measured."""

    def __init__(self, spark, scratch: str) -> None:
        super().__init__(spark, scratch)
        jvm = spark._jvm
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        self._jvm_pid = bench._jvm_pid(spark)

    def _counters(self) -> tuple[float, float, int, int]:
        return (time.perf_counter(), bench._cpu_s(self._jvm_pid),
                self._codegen.METRIC_COMPILATION_TIME().getCount(),
                self._jit.getTotalCompilationTime())

    def call(self, layer: str, name: str, fn):
        sc = self.spark.sparkContext
        group = f"profile-{uuid.uuid4().hex}"
        c0 = self._counters()
        sc.setJobGroup(group, name)
        try:
            return super().call(layer, name, fn)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            c1 = self._counters()
            sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts are posted async
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            print(f"{self.unit:>5}  {layer + ':' + name:<46} {c1[0] - c0[0]:>7.2f} "
                  f"{c1[1] - c0[1]:>7.2f} {jobs:>5} {c1[2] - c0[2]:>7} {c1[3] - c0[3]:>7}",
                  flush=True)


def main() -> int:
    if len(sys.argv) != 4 or sys.argv[1] not in workloads.WORKLOADS:
        print(__doc__, file=sys.stderr)
        return 2
    name, rounds, seed = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    os.makedirs(os.path.join(ROOT, ".perfbench_run"), exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"profile-{name}-", dir=os.path.join(ROOT, ".perfbench_run"))
    try:
        bench._isolate(scratch)
        wl = workloads.WORKLOADS[name]()
        wl.prepare(scratch, seed)
        h = ProfiledHarness(bench._session(scratch, traced=False), scratch)
        print(f"{'round':>5}  {'call':<46} {'wall_s':>7} {'cpu_s':>7} {'jobs':>5} "
              f"{'classes':>7} {'jit_ms':>7}", flush=True)
        wl.start(h)
        for r in range(1, rounds + 1):
            h.unit = r
            failed = wl.check(h, wl.unit(h))
            print(f"round {r}: {'correct' if not failed else 'FAILED ' + ', '.join(failed)}",
                  flush=True)
    finally:
        try:
            bench._stop_jvm()
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
