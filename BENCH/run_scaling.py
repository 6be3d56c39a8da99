"""Two-cluster-size scaling evidence (BASELINE.json north_rule).

No real cluster exists in this sandbox, so per the session protocol
(BASELINE.md) the N→4N-executor criterion is evidenced by running the SAME
job on the SAME input at two local parallelism levels in separate
processes, with spark.sql.shuffle.partitions scaled with cores and
everything else identical.

Protocol:
1. prep (once): synthetic pages graph (seed 42) → extracted distinct edge
   table, written to parquet — the shared input for every level.
2. per level (fresh process, fresh JVM): read edges, repartition to
   2×cores by src, PageRank for a fixed 9 supersteps (tol=0, one Spark
   job per superstep), record per-superstep edges/sec.
3. efficiency = eps(4N) / (4 × eps(N)), warm-up supersteps discarded.

Usage:
  python BENCH/run_scaling.py                        # → BENCH/BASELINE.md
  python BENCH/run_scaling.py --pages 3000000 --pairs 8:32 2:8
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WARMUP = 2
SUPERSTEPS = 9


def _calib_work(_):
    import numpy as np

    a = np.random.default_rng(1).random((600, 600))
    s = 0.0
    for _ in range(20):
        s += float((a @ a).sum())
    return s


def calibrate(pairs: list[tuple[int, int]]) -> dict:
    """Machine parallel-capacity ceiling: a perfectly-parallel pure-CPU
    pool (numpy matmuls, BLAS pinned to 1 thread) at each core count.
    On oversubscribed/steal-prone vCPUs the achievable efficiency of ANY
    workload is bounded by this number — reported alongside the engine's
    efficiency so the environment ceiling is explicit."""
    import multiprocessing as mp

    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    counts = sorted({c for p in pairs for c in p})
    thr = {}
    total = 64
    for procs in counts:
        t0 = __import__("time").time()
        with mp.Pool(procs) as pool:
            pool.map(_calib_work, range(total))
        thr[procs] = total / (__import__("time").time() - t0)
    return {
        "tasks_per_sec": thr,
        "efficiency": {
            f"{n}:{n4}": thr[n4] / ((n4 / n) * thr[n]) for n, n4 in pairs
        },
    }


def prep_edges(pages: int, path: str, cores: int) -> None:
    from pargraph_spark.operators.edges import build_edges
    from pargraph_spark.operators.extract_links import extract_links
    from pargraph_spark.session import get_spark
    from pargraph_spark.sources.pages import latest_pages
    from pargraph_spark.synth import generate_pages_spark

    spark = get_spark("scaling-prep", cores=cores, shuffle_partitions=2 * cores,
                      extra_conf={"spark.ui.enabled": "false"})
    pages_df = generate_pages_spark(spark, pages, seed=42, num_partitions=2 * cores)
    edges = build_edges(extract_links(latest_pages(pages_df)))
    edges.write.mode("overwrite").parquet(path)
    spark.stop()


def run_worker(cores: int, edges_path: str) -> dict:
    from pargraph_spark.operators.pagerank import pagerank
    from pargraph_spark.session import get_spark

    shuffle = 2 * cores
    spark = get_spark(f"scaling-{cores}", cores=cores, shuffle_partitions=shuffle,
                      extra_conf={"spark.ui.enabled": "false"})
    edges = spark.read.parquet(edges_path)
    res = pagerank(spark, edges, tol=0.0, max_iter=SUPERSTEPS,
                   num_partitions=shuffle)
    n_edges = res.metrics.supersteps[0].edges
    steps = [m.to_dict() for m in res.metrics.supersteps]
    # drop warm-up AND the final superstep, as every earlier measurement
    # in BENCH/BASELINE.md did, so the numbers stay comparable
    eps = [s["edges_per_sec"] for s in steps[WARMUP:-1]]
    out = {
        "cores": cores,
        "edges": n_edges,
        "shuffle_partitions": shuffle,
        "supersteps": steps,
        "samples": eps,
    }
    spark.stop()
    return out


def spawn(cores: int, edges_path: str) -> dict:
    env = dict(os.environ, PYTHONPATH=REPO, PYTHONUNBUFFERED="1")
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker",
         "--cores", str(cores), "--edges-path", edges_path],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=3600,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"worker cores={cores} failed:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--worker", action="store_true")
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--pages", type=int, default=1_500_000)
    ap.add_argument("--edges-path", default="/tmp/pargraph_scaling_edges.parquet")
    ap.add_argument("--pairs", nargs="*", default=["8:32"],
                    help="N:4N core pairs, e.g. 8:32 2:8")
    ap.add_argument("--trials", type=int, default=3,
                    help="fresh-process trials per level; per-superstep "
                         "samples pool across trials and the MEDIAN is the "
                         "estimator (this sandbox's vCPU steal makes single "
                         "runs unreliable)")
    ap.add_argument("--force-prep", action="store_true")
    args = ap.parse_args()

    if args.worker:
        print(json.dumps(run_worker(args.cores, args.edges_path)))
        return

    if args.force_prep or not os.path.exists(args.edges_path):
        print(f"prep: generating {args.pages} pages -> {args.edges_path}")
        prep_edges(args.pages, args.edges_path, cores=os.cpu_count() or 8)

    pair_list = [tuple(int(x) for x in p.split(":")) for p in args.pairs]
    calib = calibrate(pair_list)
    for pair, eff in calib["efficiency"].items():
        print(f"machine calibration (pure-CPU ceiling) {pair}: efficiency {eff:.2f}")

    import statistics

    results = []
    for pair in args.pairs:
        n, n4 = (int(x) for x in pair.split(":"))
        lo_samples, hi_samples = [], []
        lo = hi = None
        # interleave levels across trials so slow machine-level drift
        # (vCPU steal epochs) hits both levels alike
        for trial in range(args.trials):
            lo = spawn(n, args.edges_path)
            hi = spawn(n4, args.edges_path)
            lo_samples += lo["samples"]
            hi_samples += hi["samples"]
            print(f"  trial {trial + 1}/{args.trials}: "
                  f"{statistics.median(lo['samples']):.0f} -> "
                  f"{statistics.median(hi['samples']):.0f} edges/s (median)")
        lo_med = statistics.median(lo_samples)
        hi_med = statistics.median(hi_samples)
        eff = hi_med / ((n4 / n) * lo_med)
        lo = dict(lo, edges_per_sec={"median": lo_med, "samples": lo_samples})
        hi = dict(hi, edges_per_sec={"median": hi_med, "samples": hi_samples})
        results.append({"n": n, "n4": n4, "lo": lo, "hi": hi,
                        "trials": args.trials, "efficiency": eff})
        print(f"{n}->{n4} cores: {lo_med:.0f} -> {hi_med:.0f} "
              f"edges/s (median of {len(lo_samples)} supersteps), "
              f"efficiency {eff:.2f}")

    with open(os.path.join(REPO, "BENCH", "scaling.json"), "w") as f:
        json.dump({"pages": args.pages, "warmup": WARMUP,
                   "supersteps": SUPERSTEPS, "machine_calibration": calib,
                   "results": results}, f, indent=2)

    lines = [
        "# BENCH/BASELINE — measured scaling evidence",
        "",
        f"Job: PageRank, {SUPERSTEPS} supersteps (first {WARMUP} discarded as "
        f"warm-up, final superstep also excluded; one Spark job per "
        f"superstep), shared pre-materialized edge table "
        f"({results[0]['lo']['edges']} edges from {args.pages} synthetic pages, "
        "seed 42), shuffle partitions = 2×cores, all other config identical. "
        "Each level runs in a fresh process (fresh JVM) on the same input; "
        f"{results[0].get('trials', 1)} interleaved trials per level, estimator = "
        "median of pooled per-superstep edges/s (single runs are unreliable "
        "under this sandbox's vCPU steal).",
        "",
        "| cores N | cores 4N | edges/s @N (median) | edges/s @4N (median) | efficiency T4N/(4·TN) | machine ceiling (pure-CPU) | normalized |",
        "|---|---|---|---|---|---|---|",
    ]
    for r in results:
        ceil = calib["efficiency"].get(f"{r['n']}:{r['n4']}", float("nan"))
        lines.append(
            f"| {r['n']} | {r['n4']} | "
            f"{r['lo']['edges_per_sec']['median']:.0f} | "
            f"{r['hi']['edges_per_sec']['median']:.0f} | {r['efficiency']:.2f} | "
            f"{ceil:.2f} | {r['efficiency'] / ceil:.2f} |"
        )
    lines += [
        "",
        "The machine-ceiling column is the efficiency a PERFECTLY parallel "
        "pure-CPU workload (BLAS-pinned numpy matmul pool) achieves on this "
        "sandbox's oversubscribed vCPUs at the same core pair; 'normalized' "
        "is the engine's efficiency divided by that ceiling.",
    ]
    lines += [
        "",
        "Caveat: single-machine core scaling (shared memory bus, no network "
        "shuffle) is an optimistic-but-honest proxy for multi-executor "
        "scaling; per-superstep fixed costs (driver job scheduling, Arrow "
        "batch setup) are the dominant anti-scaling term at small inputs, "
        "which is why the evidence graph is sized so one superstep takes "
        "seconds at the low level.",
        "",
        "Raw per-superstep numbers: BENCH/scaling.json",
    ]
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("wrote BENCH/BASELINE.md, BENCH/scaling.json")


if __name__ == "__main__":
    main()
