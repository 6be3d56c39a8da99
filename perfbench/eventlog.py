"""Fold a Spark event log into per-layer counters.

The benchmark tags every call into the engine with a job group
``<layer>:<call>:<unit>`` and records the call's wall-clock span. Spark's
own event log (``spark.eventLog.enabled``) then attributes jobs, tasks and
task metrics to the group that submitted them. Nothing inside the engine
is instrumented.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass

COUNTERS = (
    "s", "jobs", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "busy_ratio", "driver_gap_ms",
)


@dataclass
class Span:
    layer: str
    call: str
    unit: int
    t0: float  # epoch seconds
    t1: float

    @property
    def group(self) -> str:
        return f"{self.layer}:{self.call}:{self.unit}"


def read_events(log_dir: str) -> list[dict]:
    """Every event of the (single, uncompressed) application log in
    ``log_dir``."""
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _covered_ms(span: tuple[float, float], intervals: list[tuple[float, float]]) -> float:
    """Milliseconds of ``span`` that the union of ``intervals`` covers."""
    lo, hi = span
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    covered, end = 0.0, lo
    for a, b in clipped:
        a = max(a, end)
        if b > a:
            covered += b - a
            end = b
    return covered


def fold(events: list[dict], spans: list[Span], windows: list[tuple[float, float]],
         cores: int) -> dict[str, dict[str, float]]:
    """{layer: {counter: value}} summed over ``spans``, plus an
    ``untagged`` row for jobs submitted inside a timed ``window`` (epoch
    seconds) but outside every tagged call. Its ``s`` is the timed wall
    that no span covers."""
    groups = {sp.group: sp.layer for sp in spans}
    job_group: dict[int, str | None] = {}
    job_time: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_time[jid] = [float(ev["Submission Time"]), float(ev["Submission Time"])]
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            job_time[ev["Job ID"]][1] = float(ev["Completion Time"])

    rows: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))

    def layer_of(jid: int) -> str | None:
        g = job_group.get(jid)
        if g is not None:
            return groups.get(g)
        t = job_time[jid][0] / 1000.0
        return "untagged" if any(a <= t <= b for a, b in windows) else None

    for jid in job_group:
        layer = layer_of(jid)
        if layer is not None:
            rows[layer]["jobs"] += 1
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        jid = stage_job.get(ev["Stage ID"])
        layer = layer_of(jid) if jid is not None else None
        m = ev.get("Task Metrics")
        if layer is None or not m:
            continue
        r = rows[layer]
        r["tasks"] += 1
        r["task_run_ms"] += m.get("Executor Run Time", 0)
        r["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        r["gc_ms"] += m.get("JVM GC Time", 0)
        rd = m.get("Shuffle Read Metrics", {})
        r["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        r["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        r["spill_bytes"] += m.get("Disk Bytes Spilled", 0)

    jobs_by_group: dict[str, list[tuple[float, float]]] = defaultdict(list)
    for jid, g in job_group.items():
        if g is not None:
            jobs_by_group[g].append(tuple(job_time[jid]))
    for sp in spans:
        r = rows[sp.layer]
        span_ms = (sp.t0 * 1000.0, sp.t1 * 1000.0)
        r["s"] += sp.t1 - sp.t0
        r["driver_gap_ms"] += (span_ms[1] - span_ms[0]) - _covered_ms(
            span_ms, jobs_by_group.get(sp.group, []))
    rows["untagged"]["s"] = sum(b - a for a, b in windows) - sum(sp.t1 - sp.t0 for sp in spans)
    for r in rows.values():
        r["busy_ratio"] = r["task_run_ms"] / (r["s"] * 1000.0 * cores) if r["s"] > 0 else 0.0
    return dict(rows)
