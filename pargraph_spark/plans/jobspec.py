"""Job-spec artifact + plan rendering — the Spark analogue of the
reference's persisted/rendered task graphs (``Graph.to_json``/``from_json``,
/root/reference/pargraph/graph/objects.py:358-498, and ``to_dot``,
objects.py:545-651).

The reference serializes its hand-built task DAG because that DAG *is* the
job. Here the job is a declarative DataFrame program: the durable artifact
is therefore (a) a JobSpec — the operator + parameters + inputs that
produced an output, enough to re-run or audit it — and (b) a rendering of
the plan Catalyst actually chose (plan_json / plan_dot), which is the
engine-side DAG a user would want to see. Both are plain JSON/DOT text:
no engine state, safe to commit next to outputs.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field
from typing import Any

from pyspark.sql import DataFrame

from pargraph_spark.session import _query_execution

SPEC_VERSION = 1


@dataclass
class JobSpec:
    """What produced an artifact: operator name, parameters, input tables.

    `params` must be JSON-serializable; `inputs` maps role → path/summary.
    Round-trips byte-stably (sorted keys) via to_json/from_json.
    """

    job: str
    operator: str
    params: dict[str, Any] = field(default_factory=dict)
    inputs: dict[str, Any] = field(default_factory=dict)
    outputs: dict[str, Any] = field(default_factory=dict)
    version: int = SPEC_VERSION

    def to_json(self) -> str:
        return json.dumps(asdict(self), indent=2, sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "JobSpec":
        d = json.loads(s)
        return cls(
            job=d["job"],
            operator=d["operator"],
            params=d.get("params", {}),
            inputs=d.get("inputs", {}),
            outputs=d.get("outputs", {}),
            version=d.get("version", SPEC_VERSION),
        )

    def save(self, path: str) -> None:
        """Atomic write (tmp + rename), same commit protocol as
        checkpoint manifests."""
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(self.to_json())
        os.replace(tmp, path)

    @classmethod
    def load(cls, path: str) -> "JobSpec":
        with open(path) as f:
            return cls.from_json(f.read())


# --------------------------------------------------------------------------
# plan rendering
# --------------------------------------------------------------------------

def _jplan(df: DataFrame, which: str):
    qe = _query_execution(df)
    if which == "optimized":
        return qe.optimizedPlan()
    if which == "analyzed":
        return qe.analyzed()
    return qe.executedPlan()


def _walk(node) -> dict[str, Any]:
    children = []
    it = node.children().iterator()
    while it.hasNext():
        children.append(_walk(it.next()))
    if not children:
        # AQE wrappers carry their plan outside children(): descend through
        # AdaptiveSparkPlan.inputPlan() / QueryStage.plan(). (InMemoryTableScan
        # stays a leaf on purpose: its build plan belongs to another query.)
        for attr in ("inputPlan", "plan"):
            try:
                children = [_walk(getattr(node, attr)())]
                break
            except Exception:
                continue
    return {"node": node.nodeName(), "children": children}


def plan_json(df: DataFrame, which: str = "executed") -> dict[str, Any]:
    """Nested {node, children} tree of the chosen plan ('executed',
    'optimized' or 'analyzed')."""
    return _walk(_jplan(df, which))


def plan_dot(df: DataFrame, which: str = "executed") -> str:
    """Graphviz DOT of the plan tree — the engine-facing counterpart of the
    reference's Graph.to_dot (data flows child → parent, so edges point
    from each child node up to its consumer)."""
    tree = plan_json(df, which)
    lines = ["digraph plan {", "  rankdir=BT;", '  node [shape=box, fontname="monospace"];']
    counter = [0]

    def emit(t: dict[str, Any]) -> int:
        nid = counter[0]
        counter[0] += 1
        label = t["node"].replace('"', "'")
        lines.append(f'  n{nid} [label="{label}"];')
        for c in t["children"]:
            cid = emit(c)
            lines.append(f"  n{cid} -> n{nid};")
        return nid

    emit(tree)
    lines.append("}")
    return "\n".join(lines)
