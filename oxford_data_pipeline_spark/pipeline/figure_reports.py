"""Entry C figure parity (report layer): the exact tidy tables behind
the reference's figures, emitted as ready-to-plot CSV artifacts — the
engine's answer to the matplotlib surface without taking a plotting
dependency.

Reference figures reproduced as tables:
- connectivity matrices  `CCA_test_all.py:402-541` (W1 rank-k R² per
  pair, mean ± std over sessions, anatomically ordered matrix layout)
- population summary     `CCA_test_all.py:815-970` (pair × component
  mean R² heatmap)
- temporal projections   `CCA_test_all.py:596-813` (O4-aligned
  cross-session mean ± SEM latent time courses)

Each function returns a deterministically ORDERED DataFrame whose rows
are exactly the marks a plotting frontend would draw; `write_figure_
reports` materializes all three as CSV via the S6-family sink.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oxford_data_pipeline_spark.functions.compat import round6
from oxford_data_pipeline_spark.operators.aggregates import mean_std_sem
from oxford_data_pipeline_spark.pipeline.reports import (
    ANATOMICAL_ORDER,
    min_sessions_filter,
    ranked_components,
    truncate_to_min_length,
)


def connectivity_figure_table(
    cca_r2: DataFrame, ranks: tuple[int, ...] = (1, 2, 3), min_sessions: int = 3
) -> DataFrame:
    """One row per (rank, region pair): mean ± std over sessions of the
    rank-k component R², with anatomical matrix indices — the cell
    values of `create_connectivity_matrices_figure`
    (`CCA_test_all.py:481-541`), one matrix per rank."""
    order_arr = F.array(*[F.lit(x) for x in ANATOMICAL_ORDER])
    ranked = ranked_components(min_sessions_filter(cca_r2, min_sessions)).filter(
        F.col("rnk").isin(*ranks)
    )
    mean, std, _, n = mean_std_sem("mean_cv_r2")
    return (
        ranked.groupBy(F.col("rnk").alias("rank"), F.col("pair_r1"), F.col("pair_r2"))
        .agg(
            round6(mean).alias("mean_r2"),
            round6(std).alias("std_r2"),
            n.alias("n_sessions"),
        )
        .withColumn("row_idx", F.array_position(order_arr, F.col("pair_r1")))
        .withColumn("col_idx", F.array_position(order_arr, F.col("pair_r2")))
        .orderBy("rank", "row_idx", "col_idx")
    )


def population_summary_table(
    cca_r2: DataFrame, min_sessions: int = 3
) -> DataFrame:
    """One row per (region pair, component): mean over sessions of the
    per-session mean-CV-R² — the pair × component heatmap of
    `create_population_summary_figure` (`CCA_test_all.py:815-970`)."""
    order_arr = F.array(*[F.lit(x) for x in ANATOMICAL_ORDER])
    per_session = (
        min_sessions_filter(cca_r2, min_sessions)
        .groupBy("session", "pair_r1", "pair_r2", "component")
        .agg(F.avg("r2").alias("mean_cv_r2"))
    )
    return (
        per_session.groupBy("pair_r1", "pair_r2", "component")
        .agg(
            round6(F.avg("mean_cv_r2")).alias("mean_r2"),
            F.count(F.lit(1)).alias("n_sessions"),
        )
        .withColumn("row_idx", F.array_position(order_arr, F.col("pair_r1")))
        .withColumn("col_idx", F.array_position(order_arr, F.col("pair_r2")))
        .orderBy("row_idx", "col_idx", "component")
    )


def timecourse_figure_table(projection_avg: DataFrame) -> DataFrame:
    """One row per (pair, side, component, t): cross-session mean ± SEM
    of the trial-averaged latent, after O4 truncation to the shortest
    session — the line+band marks of
    `create_temporal_projection_figure` (`CCA_test_all.py:596-813`)."""
    cut = truncate_to_min_length(projection_avg)
    mean, std, sem, n = mean_std_sem("mean_value")
    return (
        cut.groupBy("pair_r1", "pair_r2", "side", "component", "t")
        .agg(
            round6(mean).alias("mean_value"),
            round6(std).alias("std_value"),
            round6(sem).alias("sem_value"),
            n.alias("n_sessions"),
        )
        .orderBy("pair_r1", "pair_r2", "side", "component", "t")
    )


def sensitivity_figure_table(sensitivity: DataFrame) -> DataFrame:
    """One row per (strategy, pct_removed): mean ± SEM of the refit R²
    across (session, pair, region, iteration) — the line marks of the
    reference's sensitivity-curve figure
    (`Matlab_part/Oxford_glm_sensitivity.m:345-420`): top-|β| removal
    vs seeded-random removal as the two curves."""
    mean, std, sem, n = mean_std_sem("r2")
    return (
        sensitivity.groupBy("strategy", "pct_removed")
        .agg(
            round6(mean).alias("mean_r2"),
            round6(std).alias("std_r2"),
            round6(sem).alias("sem_r2"),
            n.alias("n_fits"),
        )
        .orderBy("strategy", "pct_removed")
    )


def variance_figure_table(pca_variance: DataFrame) -> DataFrame:
    """One row per (region, component): cross-session mean ± SEM of the
    cumulative explained variance — the curves of the PCA variant's
    cumulative-variance figure (`PCA_test_all_seperate.py:228-311`,
    consuming `perform_region_pca.m:201-204`)."""
    mean, std, sem, n = mean_std_sem("cumulative")
    return (
        pca_variance.groupBy("region", "component")
        .agg(
            round6(mean).alias("mean_cumulative"),
            round6(std).alias("std_cumulative"),
            round6(sem).alias("sem_cumulative"),
            n.alias("n_sessions"),
        )
        .orderBy("region", "component")
    )


def write_figure_reports(
    cca_r2: DataFrame, projection_avg: DataFrame, out_dir: str,
    ranks: tuple[int, ...] = (1, 2, 3), min_sessions: int = 3,
) -> dict[str, str]:
    """Emit all three figure tables as CSV artifacts (S6 family) and
    return {table_name: path}."""
    from oxford_data_pipeline_spark.sources.sinks import write_csv_report

    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "connectivity_matrix": connectivity_figure_table(cca_r2, ranks, min_sessions),
        "population_summary": population_summary_table(cca_r2, min_sessions),
        "temporal_projection": timecourse_figure_table(projection_avg),
    }
    paths = {}
    for name, df in tables.items():
        path = os.path.join(out_dir, f"{name}.csv")
        write_csv_report(df, path)
        paths[name] = path
    return paths
