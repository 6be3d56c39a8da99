"""Every metric the benchmark prints: name → (unit, better).

``BENCHMARK.json`` lists the same names; ``python3 perfbench/catalog.py``
prints its ``end_to_end`` and ``per_layer`` lists from this table.
"""

from __future__ import annotations

import json

# end to end, from untraced runs, on every workload
END_TO_END = {
    "setup_s": ("s", "lower"),
    "cpu_s": ("s", "lower"),
}
# bound: the share of the parent's median a metric may worsen by
BOUNDS = {"setup_s": 0.25, "cpu_s": 0.25}

COMPUTE_LAYERS = ("extract", "edges", "sources", "pagerank", "components", "labelprop",
                  "triangles", "dedup", "similarity")
COUNTERS = {
    "s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "tasks": ("count", "lower"),
    "task_run_ms": ("ms", "lower"),
    "task_cpu_ms": ("ms", "lower"),
    "gc_ms": ("ms", "lower"),
    "shuffle_read_bytes": ("bytes", "lower"),
    "shuffle_write_bytes": ("bytes", "lower"),
    "spill_bytes": ("bytes", "lower"),
    "busy_ratio": ("ratio", "higher"),
    "driver_gap_ms": ("ms", "lower"),
}
EXTRAS = {
    # the median unit wall: on a shared VM its run-to-run spread (0.07 to
    # 0.37 of the median) is too wide for a 0.25 bound, so it is not gated
    "wall_s": ("s", "lower"),
    # workload-level numbers that exist on only some workloads (0 elsewhere)
    "edges_per_s": ("edges/s", "higher"),
    "pr_iterations": ("count", "lower"),
    "minhash_dedup_s": ("s", "lower"),
    "cosine_topk_s": ("s", "lower"),
    "ann_lsh_s": ("s", "lower"),
    "near_dup_bucketed_s": ("s", "lower"),
    "ops_failed_ratio": ("ratio", "lower"),
    # the JVM's resident peak follows its elastic heap's growth policy more
    # than the engine (spread ~0.2 between runs), too loose to gate on
    "peak_rss_mb": ("MiB", "lower"),
    "session.start_s": ("s", "lower"),
    "session.empty_job_ms": ("ms", "lower"),
    "session.empty_shuffle_job_ms": ("ms", "lower"),
    "session.cached_rdds_end": ("count", "lower"),
    "sources.write_s": ("s", "lower"),
    "sources.read_s": ("s", "lower"),
    "sources.store_bytes": ("bytes", "lower"),
    "extract.pages_per_s": ("pages/s", "higher"),
    "pagerank.superstep_p50_ms": ("ms", "lower"),
    "pagerank.jobs_per_superstep": ("count", "lower"),
    "pagerank.shuffle_bytes_per_superstep": ("bytes", "lower"),
    "components.rounds": ("count", "lower"),
    "components.jobs_per_round": ("count", "lower"),
    "labelprop.iterations": ("count", "lower"),
    "checkpoint.bytes": ("bytes", "lower"),
    "checkpoint.manifests": ("count", "lower"),
    "similarity.planted_recall": ("ratio", "higher"),
    "untagged.s": ("s", "lower"),
    "untagged.jobs": ("count", "lower"),
    "trace.overhead_s": ("s", "lower"),
}
PER_LAYER = {
    **{f"{layer}.{c}": v for layer in COMPUTE_LAYERS for c, v in COUNTERS.items()},
    **EXTRAS,
}


def unit(name: str) -> str:
    return (END_TO_END.get(name) or PER_LAYER[name])[0]


if __name__ == "__main__":
    print(json.dumps({
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": BOUNDS[n]}
                       for n, (u, b) in END_TO_END.items()],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, (u, b) in PER_LAYER.items()],
    }, indent=2))
