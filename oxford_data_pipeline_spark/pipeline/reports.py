"""Entry C — cross-session visualization scan (SURVEY §3.3): the
aggregates behind the reference's connectivity-matrix and population
summary figures, as plain DataFrame plans over the result tables.

Reference: `CCA_test_all.py` (`_compute_component_matrices` W1+A4
`:402-541`, max-R² summary A5 `:872-887`, truncate-to-min O4
`:720-723`, anatomical ordering O1 `:360-363`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from oxford_data_pipeline_spark.operators.aggregates import mean_std_sem

ANATOMICAL_ORDER = [
    "mPFC", "ORB", "MOp", "MOs", "OLF", "STR", "STRv", "MD", "LP",
    "VALVM", "VPMPO", "ILM", "HY",
]


def min_sessions_filter(cca_r2: DataFrame, min_sessions: int = 3) -> DataFrame:
    """F7 — pairs analyzed in ≥ min_sessions sessions
    (`CCA_test_all.py:139-147`)."""
    ok = (
        cca_r2.groupBy("pair_r1", "pair_r2")
        .agg(F.countDistinct("session").alias("n_sessions"))
        .filter(F.col("n_sessions") >= min_sessions)
    )
    return cca_r2.join(
        F.broadcast(ok.select("pair_r1", "pair_r2")), ["pair_r1", "pair_r2"]
    )


def ranked_components(cca_r2: DataFrame) -> DataFrame:
    """W1 — per (session, pair): components ordered by descending mean
    CV-R²; 'rank-k component' = row_number k
    (`CCA_test_all.py:386-400`)."""
    mean_r2 = cca_r2.groupBy("session", "pair_r1", "pair_r2", "component").agg(
        F.avg("r2").alias("mean_cv_r2")
    )
    w = W.partitionBy("session", "pair_r1", "pair_r2").orderBy(
        F.col("mean_cv_r2").desc(), F.col("component")
    )
    return mean_r2.withColumn("rnk", F.row_number().over(w))


def connectivity_matrix(cca_r2: DataFrame, rank: int = 1) -> DataFrame:
    """A4 — per pair: mean ± std over sessions of the rank-k R², with O1
    anatomical ordering columns for the matrix layout
    (`CCA_test_all.py:481-541`)."""
    order_arr = F.array(*[F.lit(x) for x in ANATOMICAL_ORDER])
    ranked = ranked_components(cca_r2).filter(F.col("rnk") == rank)
    mean, std, _, n = mean_std_sem("mean_cv_r2")
    return (
        ranked.groupBy("pair_r1", "pair_r2")
        .agg(mean.alias("mean_r2"), std.alias("std_r2"), n.alias("n_sessions"))
        .withColumn("row_idx", F.array_position(order_arr, F.col("pair_r1")))
        .withColumn("col_idx", F.array_position(order_arr, F.col("pair_r2")))
    )


def max_r2_summary(cca_r2: DataFrame) -> DataFrame:
    """A5 — per pair: mean over sessions of (max over components of
    mean-CV-R²) (`CCA_test_all.py:872-887`)."""
    per_session = (
        cca_r2.groupBy("session", "pair_r1", "pair_r2", "component")
        .agg(F.avg("r2").alias("mean_cv_r2"))
        .groupBy("session", "pair_r1", "pair_r2")
        .agg(F.max("mean_cv_r2").alias("max_r2"))
    )
    return per_session.groupBy("pair_r1", "pair_r2").agg(
        F.avg("max_r2").alias("mean_max_r2"),
        F.count(F.lit(1)).alias("n_sessions"),
    )


def truncate_to_min_length(timecourses: DataFrame) -> DataFrame:
    """O4 — align variable-length series by truncating every session to
    the shortest (`CCA_test_all.py:720-723`)."""
    min_len = (
        timecourses.groupBy("session").agg(F.max("t").alias("t_max"))
        .agg(F.min("t_max").alias("t_cut"))
    )
    return timecourses.crossJoin(F.broadcast(min_len)).filter(
        F.col("t") <= F.col("t_cut")
    ).drop("t_cut")
