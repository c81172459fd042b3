"""J1 — event-window interval join (trial segmentation).

Reference semantics: for each behavioral event at bin τ, slice the
continuous series F[:, τ-pre : τ+post] into a per-trial epoch with
relative time t = bin - τ (`Matlab_part/segment_mdl_to_trials.m:192-233`;
window math `Matlab_part/oxford_single_session_pipeline_mdl.m:29-39`).
Boundary-invalid trials (window exits the recording) are dropped
(F3, `segment_mdl_to_trials.m:205-233`).

Spark-first design (SURVEY.md §4): an interval join `bin BETWEEN τ-pre
AND τ+post` is O(|bins|·|events|) as a broadcast-nested-loop range join.
We instead EXPLODE each trigger into its (pre+post+1) covered bins with
`explode(sequence(...))` and equi-join on `(key, bin)` — a plain shuffle
hash/sort-merge join that scales linearly and partitions on the same key
as the series table. At 100 TB the series side never re-partitions if it
is already laid out by `key`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def segment_by_events(
    series: DataFrame, triggers: DataFrame, key: Sequence[str], pre: int, post: int
) -> DataFrame:
    """Segment a long series table into event-aligned epochs (J1 + F3).

    series   : (key..., bin, payload...) long continuous series.
    triggers : (key..., trigger id columns..., start_bin) event table.
    Returns series payload rows annotated with every trigger column plus
    absolute `bin` and relative time `t` in [-pre, +post]; one output
    row per (series row, covering trigger).

    F3: a trigger whose window would exit its key's observed extent of
    `series` (an aggregate + broadcast join) is dropped entirely — the
    reference drops the whole trial, not just the out-of-range samples.
    """
    key = list(key)
    start = F.col("start_bin")
    extent = series.groupBy(*key).agg(
        F.min("bin").alias("_bin_lo"), F.max("bin").alias("_bin_hi")
    )
    windows = (
        triggers.join(F.broadcast(extent), key, "inner")
        .filter((start - pre >= F.col("_bin_lo")) & (start + post <= F.col("_bin_hi")))
        .drop("_bin_lo", "_bin_hi")
        .withColumn("bin", F.explode(F.sequence(start - pre, start + post)))
        .withColumn("t", F.col("bin") - start)
    )
    # Equi-join on (key..., bin): shuffle-friendly; Catalyst broadcasts
    # `windows` automatically when the trigger side is small.
    return series.join(windows, [*key, "bin"], "inner")
