"""Aggregation operators (SURVEY.md §2.4).

All are expressed as declarative groupBy/agg (map-side partial
aggregation + one shuffle on the group keys — Catalyst handles the
partial/final split automatically, which is the 100 TB-safe shape).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def mean_std_sem(col: str) -> tuple[Column, Column, Column, Column]:
    """Mean, sample std, SEM and n of `col` over a group: n counts
    rows (`count(*)`), the std is null unless n > 1, SEM = std/√n."""
    n = F.count(F.lit(1))
    std = F.when(n > 1, F.stddev_samp(col))
    return F.avg(col), std, std / F.sqrt(n), n


def psth(
    segmented: DataFrame,
    group_cols: Sequence[str],
    value_col: str = "value",
    t_col: str = "t",
) -> DataFrame:
    """A1 — peri-stimulus time histogram: mean/std/sem/count over trials.

    Reference: trial-averaged `psth [neurons × timepoints]` + std
    (`Matlab_part/save_session_results.m:76-109`); SEM = std/sqrt(n) as in
    `cross_trial_type_cca_analysis.py:690-711` (A2).
    """
    n = F.count(value_col)
    std = F.when(n > 1, F.stddev_samp(value_col))
    return (
        segmented.groupBy(*group_cols, t_col)
        .agg(
            F.avg(value_col).alias("avg_value"),
            std.alias("std_value"),
            (std / F.sqrt(n)).alias("sem_value"),
            n.alias("n_obs"),
        )
    )


def label_distribution(events: DataFrame, label_col: str = "label") -> DataFrame:
    """A6 — `groupcounts(t_approach,'label')`
    (`Matlab_part/oxford_single_session_pipeline_mdl.m:128-134`)."""
    return events.groupBy(label_col).agg(F.count(F.lit(1)).alias("n"))


def group_count_stats(
    df: DataFrame, entity_cols: Sequence[str], rollup_col: str
) -> DataFrame:
    """A8 — N/mean/median/min/max/std of per-entity counts
    (`Matlab_part/analyze_neuron_count_thresholds.m:237-252`)."""
    counts = df.groupBy(*entity_cols, rollup_col).agg(F.count(F.lit(1)).alias("n"))
    return counts.groupBy(rollup_col).agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.avg("n").alias("mean_n"),
        F.median("n").alias("median_n"),
        F.min("n").alias("min_n"),
        F.max("n").alias("max_n"),
        F.stddev_samp("n").alias("std_n"),
    )


def threshold_availability(
    counts: DataFrame,
    thresholds: Sequence[int],
    count_col: str = "n",
    group_col: str = "region",
    entity_col: str = "session",
) -> DataFrame:
    """A7 — per (group, threshold): #entities with count ≥ t and the %
    (`Matlab_part/analyze_neuron_count_thresholds.m:114-235`).

    crossJoin against the tiny literal threshold grid (broadcast, no
    shuffle growth) then a conditional aggregate.
    """
    spark = counts.sparkSession
    grid = spark.createDataFrame([(int(t),) for t in thresholds], "threshold int")
    return (
        counts.crossJoin(F.broadcast(grid))
        .groupBy(group_col, "threshold")
        .agg(
            F.sum(F.when(F.col(count_col) >= F.col("threshold"), 1).otherwise(0)).alias(
                "n_available"
            ),
            F.count(F.lit(1)).alias("n_total"),
            (
                F.sum(F.when(F.col(count_col) >= F.col("threshold"), 1).otherwise(0))
                * 100.0
                / F.count(F.lit(1))
            ).alias("pct_available"),
        )
    )
