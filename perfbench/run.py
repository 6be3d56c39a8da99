"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload crawl_pipeline --seed 1 --seconds 5 --trace 0

Run from the repository root. Set-up (Spark session, seeded inputs, an
untimed warm-up) is timed as ``setup_s``; then the workload's units run in
a closed loop, one driver thread at local[4], until ``--seconds`` of unit
time is measured and at least the workload's ``min_units`` have run.
Outputs are checked after each unit, outside its timing.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` starts the
session with Spark's event log on, runs one unit untagged and one with
every call tagged by a job group, and prints the per-layer metrics folded
from the log, with the tracing overhead.

Standard output ends with one JSON line:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``;
the line before it is a JSON report with the host facts, input sizes and
every metric of the run.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from statistics import median

import catalog
import eventlog

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
DRIVER_MEM = "2g"
# a run must end well inside three minutes; stop starting units after this
DEADLINE_S = 150.0


def _parse() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _isolate(scratch: str) -> None:
    """Point every temp, spill and worker path of this process and the JVM
    it launches into the run's scratch dir, and let Python workers import
    the package from the checkout."""
    for sub in ("tmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(scratch, sub))
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    # every JVM spark-submit starts: temp files in scratch, no perf-data
    # file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(scratch, 'tmp')}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # the session's heap cap (get_spark reads it); small inputs need little,
    # and a fixed cap keeps the JVM's resident peak comparable across runs
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _session(scratch: str, traced: bool):
    from pargraph_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.local.dir": os.path.join(scratch, "local"),
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(scratch, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", cores=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm() -> None:
    """Stop the SparkContext and the gateway JVM, waiting for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _ms_median(fn, reps: int = 7) -> float:
    fn()
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append((time.perf_counter() - t0) * 1000.0)
    return median(out)


def _fixed_cost(spark) -> dict:
    """Wall of an empty 1-stage job and of an empty 2-stage shuffle job:
    the fixed cost every Spark job pays on the host."""
    from pyspark.sql import functions as F

    def one_stage():
        spark.range(0, CORES, 1, CORES)._jdf.rdd().count()

    def shuffle():
        spark.range(0, CORES, 1, CORES).groupBy(F.col("id") % 2).count().collect()

    return {"session.empty_job_ms": _ms_median(one_stage),
            "session.empty_shuffle_job_ms": _ms_median(shuffle)}


def _jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


def _jvm_hwm_mb(spark) -> float:
    with open(f"/proc/{_jvm_pid(spark)}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def _cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the Spark JVM and every
    process under it (the Python workers), reaped children included.
    Time the hypervisor steals is not in it, unlike wall time."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while listing
            continue
        pid = int(name)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(x) for x in fields[11:15]) / tick
    total = sum(os.times()[:2])
    for pid in cpu:
        p = pid
        while p in parent and p != jvm_pid:
            p = parent[p]
        if p == jvm_pid:
            total += cpu[pid]
    return total


class Loop:
    """The closed loop over units, with its walls, CPU times, outputs and
    failures."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.windows: list[tuple[float, float]] = []
        self.outs: list[dict] = []
        self.attempted = 0
        self.failed = 0

    def run(self, wl, h, seconds: float, t_start: float, min_units: int) -> None:
        h.spans.clear()
        while len(self.walls) < min_units or sum(self.walls) < seconds:
            if time.monotonic() - t_start > DEADLINE_S and self.walls:
                break
            h.unit += 1
            n_spans = len(h.spans)
            c0 = _cpu_s(self.jvm_pid)
            t0 = time.time()
            try:
                out = wl.unit(h)
            except Exception:
                traceback.print_exc()
                self.attempted += len(h.spans) - n_spans
                self.failed += 1
                return
            t1 = time.time()
            self.cpus.append(_cpu_s(self.jvm_pid) - c0)
            self.walls.append(t1 - t0)
            self.windows.append((t0, t1))
            self.outs.append(out)
            self.attempted += len(h.spans) - n_spans
            try:
                self.failed += len(wl.check(h, out))
            except Exception:
                traceback.print_exc()
                self.failed += len(h.spans) - n_spans


def _tree(path: str) -> tuple[int, int]:
    """(bytes, checkpoint manifests) under ``path``."""
    size = manifests = 0
    for d, _, files in os.walk(path):
        for f in files:
            size += os.path.getsize(os.path.join(d, f))
            manifests += f.startswith("manifest_") and f.endswith(".json")
    return size, manifests


def _per_layer(wl, h, loop: Loop, untagged: Loop) -> dict:
    """Per-layer metrics of the tagged loop, per unit of work."""
    units = len(loop.walls)
    rows = eventlog.fold(eventlog.read_events(os.path.join(h.scratch, "events")),
                         h.spans, loop.windows, CORES)
    zero = dict.fromkeys(eventlog.COUNTERS, 0.0)
    m = {}
    for layer in catalog.COMPUTE_LAYERS:
        row = rows.get(layer, zero)
        for k in eventlog.COUNTERS:
            m[f"{layer}.{k}"] = row[k] if k == "busy_ratio" else row[k] / units
    m["untagged.s"] = rows.get("untagged", zero)["s"] / units
    m["untagged.jobs"] = rows.get("untagged", zero)["jobs"] / units
    m["trace.overhead_s"] = median(loop.walls) - median(untagged.walls)

    ex_s = rows.get("extract", zero)["s"]
    m["extract.pages_per_s"] = wl.sizes.get("pages", 0) * units / ex_s if ex_s else 0.0

    prs = [o["pr"] for o in loop.outs if "pr" in o]
    steps = [s.wall_ms for pr in prs for s in pr.metrics.supersteps]
    n_steps = sum(pr.iterations for pr in prs)
    pr_row = rows.get("pagerank", zero)
    m["pagerank.superstep_p50_ms"] = median(steps) if steps else 0.0
    m["pagerank.jobs_per_superstep"] = pr_row["jobs"] / n_steps if n_steps else 0.0
    m["pagerank.shuffle_bytes_per_superstep"] = (
        pr_row["shuffle_write_bytes"] / n_steps if n_steps else 0.0)

    ccs = [o["cc"] for o in loop.outs if "cc" in o]
    rounds = sum(cc.rounds for cc in ccs)
    m["components.rounds"] = median(cc.rounds for cc in ccs) if ccs else 0.0
    m["components.jobs_per_round"] = rows.get("components", zero)["jobs"] / rounds if rounds else 0.0

    lps = [o["lp"] for o in loop.outs if "lp" in o]
    m["labelprop.iterations"] = median(lp.iterations for lp in lps) if lps else 0.0

    ckpts = [_tree(o["ckpt"]) for o in loop.outs if "ckpt" in o]
    m["checkpoint.bytes"] = median(c[0] for c in ckpts) if ckpts else 0.0
    m["checkpoint.manifests"] = median(c[1] for c in ckpts) if ckpts else 0.0
    write, read = h.wall("write_bucketed_edges"), h.wall("read_bucketed_edges")
    m["sources.write_s"] = median(write) if write else 0.0
    m["sources.read_s"] = median(read) if read else 0.0
    m["sources.store_bytes"] = _tree(os.path.join(h.scratch, "store"))[0]
    return m


def main() -> int:
    args = _parse()
    sys.path.insert(0, ROOT)
    try:
        import tests.oracles  # noqa: F401
        import pargraph_spark  # noqa: F401
        import workloads
    except ImportError as e:
        print(f"perfbench: run from a checkout of the repository root: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(ROOT, ".perfbench_run"), exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_run"))
    try:
        _isolate(scratch)
        result = _run(workloads, args, scratch)
    finally:
        try:
            _stop_jvm()
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
    if result is None:
        return 1
    report, line = result
    print(json.dumps({"report": report}))
    print(json.dumps(line))
    return 0


def _calls(spans) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for sp in spans:
        out.setdefault(sp.call, []).append(sp.t1 - sp.t0)
    return out


def _run(workloads, args, scratch: str):
    wl = workloads.WORKLOADS[args.workload]()
    t_start = time.monotonic()
    sizes = wl.prepare(scratch, args.seed)
    t0 = time.monotonic()
    spark = _session(scratch, traced=bool(args.trace))
    session_start_s = time.monotonic() - t0
    host = {
        "nproc": os.cpu_count(), "local": f"local[{CORES}]", "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
    layer = {"session.start_s": session_start_s}
    if args.trace:
        layer.update(_fixed_cost(spark))
    h = workloads.Harness(spark, scratch)
    wl.start(h)
    setup_s = time.monotonic() - t_start
    warmup = _calls(h.spans)

    # a traced run times one unit untagged and one tagged
    min_units = 1 if args.trace else wl.min_units
    loop = Loop(_jvm_pid(spark))
    loop.run(wl, h, args.seconds, t_start, min_units)
    if not loop.walls:
        return None
    calls = _calls(h.spans)
    layer.update(dict.fromkeys(
        ("edges_per_s", "pr_iterations", "minhash_dedup_s", "cosine_topk_s",
         "ann_lsh_s", "near_dup_bucketed_s", "similarity.planted_recall"), 0.0))
    layer.update(wl.metrics(h, loop.outs))
    layer["session.cached_rdds_end"] = len(spark.sparkContext._jsc.getPersistentRDDs())
    layer["peak_rss_mb"] = _jvm_hwm_mb(spark)
    layer["wall_s"] = median(loop.walls)
    e2e = {"setup_s": setup_s, "cpu_s": median(loop.cpus)}
    attempted, failed = loop.attempted, loop.failed

    if args.trace:
        # the same loop again with every call tagged; the untagged loop
        # above is the reference for the tracing overhead
        h.traced = True
        tagged = Loop(loop.jvm_pid)
        tagged.run(wl, h, args.seconds, t_start, min_units)
        if not tagged.walls:
            return None
        spark.stop()  # closes the event log
        attempted += tagged.attempted
        failed += tagged.failed
        layer.update(_per_layer(wl, h, tagged, loop))
    layer["ops_failed_ratio"] = failed / max(attempted, 1)
    metrics = layer if args.trace else e2e

    report = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace, "host": host,
        "sizes": sizes,
        "phases_s": {"inputs": t0 - t_start, "session": session_start_s, "setup": setup_s,
                     "total": time.monotonic() - t_start},
        "warmup_calls_s": warmup,
        "unit_walls_s": loop.walls,
        "unit_cpu_s": loop.cpus,
        "calls_s": calls,
        "metrics": {k: [v, catalog.unit(k)] for k, v in {**e2e, **layer}.items()},
    }
    line = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": catalog.unit(k)} for k, v in metrics.items()},
    }
    return report, line


if __name__ == "__main__":
    sys.exit(main())
