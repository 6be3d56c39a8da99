"""O11 — superstep-granular checkpoint/resume with per-partition lineage.

The reference has NO resume capability: the first failed future cancels the
run (/root/reference/pargraph/engine/engine.py:85-89). This module is the
capability pargraph lacks: each checkpoint is state parquet + a manifest
JSON committed with a write-tmp-then-rename protocol, so a killed run never
resumes from a half-written superstep (os.replace is atomic on POSIX).

Manifest: {job, superstep, num_partitions, partitions: [{pid, rows}],
wallclock_ms, extra...}. Per-partition row counts are the distributed
lineage record (which partition carried what), the analogue of the
reference's ref-count bookkeeping (engine.py:214-220) but persisted.
"""

from __future__ import annotations

import json
import os
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST_PREFIX = "manifest_"


class CheckpointManager:
    def __init__(self, root: str, job: str) -> None:
        self.dir = os.path.join(root, job)
        os.makedirs(self.dir, exist_ok=True)

    def _manifest_path(self, superstep: int) -> str:
        return os.path.join(self.dir, f"{_MANIFEST_PREFIX}{superstep:06d}.json")

    def _state_path(self, superstep: int, attempt: int = 0) -> str:
        suffix = "" if attempt == 0 else f"_a{attempt}"
        return os.path.join(self.dir, f"state_{superstep:06d}{suffix}.parquet")

    def save(self, df: DataFrame, superstep: int, extra: dict[str, Any] | None = None) -> dict:
        t0 = time.monotonic()
        # Never rewrite a state dir a committed manifest may point at: each
        # save of a superstep gets a fresh attempt-suffixed dir, and the
        # manifest records which dir is live (state_path). A kill mid-save
        # leaves the previous manifest+state fully intact (overwriting in
        # place would break the no-half-written-resume guarantee when the
        # converged save lands on a checkpoint_every multiple).
        attempt = 0
        while os.path.exists(self._state_path(superstep, attempt)):
            attempt += 1
        path = self._state_path(superstep, attempt)
        df.write.mode("error").parquet(path)
        # count what actually HIT DISK, not a second evaluation of df
        # (re-running the input plan would double the checkpoint cost,
        # and its partition ids need not match the written files — e.g.
        # AQE may coalesce the two jobs differently)
        written = df.sparkSession.read.parquet(path)
        parts = [
            {"pid": int(r["pid"]), "rows": int(r["rows"])}
            for r in written.groupBy(F.spark_partition_id().alias("pid"))
            .agg(F.count("*").alias("rows"))
            .collect()
        ]
        # NaN/Inf have no JSON encoding — json.dump would emit non-standard
        # literals that strict parsers reject; store None instead
        extra = {
            k: (None if isinstance(v, float) and not (v == v and abs(v) != float("inf")) else v)
            for k, v in (extra or {}).items()
        }
        reserved = {
            "job", "superstep", "state_path", "num_partitions",
            "partitions", "rows", "wallclock_ms",
        }
        clash = reserved & set(extra)
        if clash:
            # **extra spreads LAST: a colliding key would silently
            # overwrite the real state pointer / row record and corrupt
            # resume
            raise ValueError(f"extra keys collide with manifest fields: {sorted(clash)}")
        manifest = {
            "job": os.path.basename(self.dir),
            "superstep": superstep,
            "state_path": path,
            "num_partitions": len(parts),
            "partitions": sorted(parts, key=lambda p: p["pid"]),
            "rows": sum(p["rows"] for p in parts),
            "wallclock_ms": int((time.monotonic() - t0) * 1000),
            **extra,
        }
        tmp = self._manifest_path(superstep) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True, allow_nan=False)
        os.replace(tmp, self._manifest_path(superstep))  # commit point
        return manifest

    def latest(self) -> dict | None:
        """Newest committed manifest, or None. Half-written checkpoints
        (parquet without a renamed manifest) are invisible by construction."""
        if not os.path.isdir(self.dir):
            return None
        manifests = sorted(
            n for n in os.listdir(self.dir)
            if n.startswith(_MANIFEST_PREFIX) and n.endswith(".json")
        )
        if not manifests:
            return None
        with open(os.path.join(self.dir, manifests[-1])) as f:
            return json.load(f)

    def load(self, spark: SparkSession, superstep: int) -> DataFrame:
        """Load the state the committed manifest for `superstep` points at
        (manifests written before attempt-versioning lack state_path — fall
        back to the attempt-0 layout)."""
        path = self._state_path(superstep)
        mpath = self._manifest_path(superstep)
        if os.path.exists(mpath):
            with open(mpath) as f:
                path = json.load(f).get("state_path", path)
        return spark.read.parquet(path)
