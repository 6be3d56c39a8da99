"""Misra-Gries heavy hitters — frequent items with bounded state.

Completes the engine's mergeable-sketch family (HLL cardinality
`edges.host_reach`, GK quantiles `events.value_quantiles`): the items
whose frequency exceeds n/(k+1) over an arbitrarily large column,
computed with k counters per partition instead of a distinct-item-scale
shuffle. At 100 TB the exact top-k (count + WindowGroupLimit, which this
engine also has) shuffles one row per DISTINCT item — fine for hosts,
ruinous for raw anchors/tokens/urls at 10^11 distinct; Misra-Gries ships
k rows per partition, period.

Guarantees (Misra & Gries 1982; merge analysis Agarwal et al. PODS'12):
with per-partition budget k, every item with true count > n/(k+1) is in
the output, and for each returned item
    count_lb <= true count <= count_lb + err
where count_lb sums the per-partition surviving counters and err sums
the per-partition decrement totals — both computed, not estimated, so
the bound is certified per run. Items are never invented (count_lb > 0
only for items actually seen).

Engine-specific internals (WHICH non-heavy items survive depends on
partitioning/batch order), so correctness is pytest-gated on the
guarantee itself — the HLL/GK tier policy — while exact tiers stay
available for oracle-grade counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def frequent_items(
    df: DataFrame,
    item_col: str,
    k: int = 64,
    item_type: str = "string",
) -> DataFrame:
    """→ (item, count_lb, count_ub) for every per-partition-surviving
    item; filter count_ub > n/(k+1) for the certified heavy-hitter set.
    k is the per-partition counter budget (state = k items per task)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    schema = f"item {item_type}, w long, dec long"

    def mg(batches):
        import pandas as pd

        counters: dict = {}
        dec = 0
        for pdf in batches:
            for it in pdf["item"]:
                # NaN guard: Arrow delivers NULLs of numeric item types as
                # float NaN, and NaN != NaN would mint a FRESH dict key
                # per null, flooding the k counters
                if it is None or it != it:
                    continue
                if it in counters:
                    counters[it] += 1
                elif len(counters) < k:
                    counters[it] = 1
                else:
                    # decrement-all: one unit off every counter and the
                    # incoming item; drop zeroed counters
                    dec += 1
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        if counters or dec:
            yield pd.DataFrame(
                {
                    "item": list(counters.keys()) + [None],
                    "w": list(counters.values()) + [0],
                    "dec": [0] * len(counters) + [dec],
                }
            )

    # one pass: the summaries are P*(k+1) rows — localCheckpoint them so
    # the two consumers below don't re-execute the full mapInPandas scan
    summaries = (
        df.select(F.col(item_col).alias("item"))
        .mapInPandas(mg, schema=schema)
        .localCheckpoint(eager=True)
    )
    # the None row per partition carries that partition's decrement total;
    # global err = sum of all decrements (each decrement can hide at most
    # one occurrence of any single item per partition); attached via the
    # broadcast 1-row pattern (pagerank's dangling-mass normalizer), no
    # driver collect
    errdf = summaries.agg(
        F.coalesce(F.sum("dec"), F.lit(0)).cast("long").alias("_err")
    )
    return (
        summaries.where(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.sum("w").alias("count_lb"))
        .crossJoin(F.broadcast(errdf))
        .select(
            "item",
            "count_lb",
            (F.col("count_lb") + F.col("_err")).alias("count_ub"),
        )
    )
