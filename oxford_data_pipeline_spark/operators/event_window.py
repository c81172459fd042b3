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


def explode_trigger_windows(
    triggers: DataFrame,
    key: Sequence[str],
    start_col: str = "start_bin",
    pre: int = 75,
    post: int = 150,
) -> DataFrame:
    """Expand each trigger row into one row per covered bin.

    Output adds `bin` (absolute) and `t` (relative, in [-pre, +post]).
    """
    exploded = triggers.withColumn(
        "bin",
        F.explode(F.sequence(F.col(start_col) - pre, F.col(start_col) + post)),
    )
    return exploded.withColumn("t", F.col("bin") - F.col(start_col))


def segment_by_events(
    series: DataFrame,
    triggers: DataFrame,
    key: Sequence[str],
    bin_col: str = "bin",
    start_col: str = "start_bin",
    pre: int = 75,
    post: int = 150,
    drop_boundary: bool = True,
    bin_min: int | None = None,
    bin_max_col: str | None = None,
) -> DataFrame:
    """Segment a long series table into event-aligned epochs (J1 + F3).

    series   : (key..., bin_col, payload...) long continuous series.
    triggers : (key..., trigger id columns..., start_col) event table.
    Returns series payload rows annotated with every trigger column plus
    relative time `t`; one output row per (series row, covering trigger).

    drop_boundary=True applies F3: triggers whose window would exit
    [bin_min, bin_max] are dropped entirely (the reference drops the
    whole trial, not just the out-of-range samples). `bin_max_col`
    names a per-key column on `triggers` holding the series max bin;
    when None the window is validated against observed per-key extent
    computed from `series` (an aggregate + broadcast-friendly join).
    """
    key = list(key)
    if drop_boundary:
        if bin_max_col is None:
            extent = series.groupBy(*key).agg(
                F.min(bin_col).alias("_bin_lo"), F.max(bin_col).alias("_bin_hi")
            )
            triggers = triggers.join(F.broadcast(extent), key, "inner").filter(
                (F.col(start_col) - pre >= F.col("_bin_lo"))
                & (F.col(start_col) + post <= F.col("_bin_hi"))
            ).drop("_bin_lo", "_bin_hi")
        else:
            lo = bin_min if bin_min is not None else 0
            triggers = triggers.filter(
                (F.col(start_col) - pre >= F.lit(lo))
                & (F.col(start_col) + post <= F.col(bin_max_col))
            )

    windows = explode_trigger_windows(triggers, key, start_col, pre, post)
    # Equi-join on (key..., bin): shuffle-friendly; Catalyst broadcasts
    # `windows` automatically when the trigger side is small.
    return series.join(windows, [*key, bin_col], "inner")

