"""Maintained state: one keyed merge and one micro-batch query starter.

Every streaming maintainer keeps a query answer current the same way:
each micro-batch becomes a delta relation in the state's own shape,
and the delta folds into the maintained state by a full outer join on
the state's keys, each value column combined by a monoid.

Contract of `merge_state`: the merge is associative and commutative,
so shard order, batch order and the split into micro-batches never
change the state, and an empty maintained side is the identity.
`MAX` and `MIN` are also idempotent, so a replayed micro-batch
re-merges to the same state; `SUM` is not (a replay double-counts),
so a sink maintaining a `SUM` state must dedupe on `batch_id`.

Two merges keep their own shape: the keeper merge
(`stream_dedup.merge_keepers`), whose winner is one whole row chosen
by its order columns, and the top-k reservoir
(`stream_profile.merge_samples`), which re-cuts the union to k rows.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Monoid = Callable[[Column, Column], Column]


def SUM(a: Column, b: Column) -> Column:
    """Counts: a missing side adds nothing."""
    return F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0))


def MAX(a: Column, b: Column) -> Column:
    """Sketch registers: a missing side is the empty register."""
    return F.greatest(F.coalesce(a, F.lit(0)), F.coalesce(b, F.lit(0)))


def MIN(a: Column, b: Column) -> Column:
    """First-seen values: a missing side defers to the other."""
    return F.least(F.coalesce(a, b), F.coalesce(b, a))


def merge_state(
    maintained: DataFrame,
    delta: DataFrame,
    keys: list[str],
    combine: dict[str, Monoid],
) -> DataFrame:
    """state ⊕ delta: full outer join on `keys`, each `combine` column
    merged by its monoid.  Returns the keys, then the value columns in
    `combine` order."""

    def side(df: DataFrame, tag: str) -> DataFrame:
        # One rename per value column: a `select` of keys and aliases
        # costs the driver several py4j calls per column, ~4x the time.
        for c in combine:
            df = df.withColumnRenamed(c, f"{c}_{tag}")
        return df

    return side(maintained, "a").join(side(delta, "b"), keys, "full_outer").select(
        *keys,
        *[m(F.col(f"{c}_a"), F.col(f"{c}_b")).alias(c) for c, m in combine.items()],
    )


def maintenance_stream(
    stream: DataFrame,
    delta: Callable[[DataFrame], DataFrame],
    sink: Callable[[DataFrame, int], None],
):
    """Start the `availableNow` foreachBatch query that hands each
    micro-batch's `delta(batch)` to `sink(delta, batch_id)`.  Returns
    the StreamingQuery; the caller awaits or stops it."""

    def fold_batch(batch: DataFrame, batch_id: int) -> None:
        sink(delta(batch), batch_id)

    return (
        stream.writeStream.foreachBatch(fold_batch)
        .trigger(availableNow=True)
        .start()
    )
