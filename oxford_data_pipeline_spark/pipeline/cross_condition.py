"""Entry B — cross-trial-type analysis (SURVEY §3.2): the reference
condition's CCA weights are applied to every condition's data, latent
time courses are sign-aligned across sessions with the REFERENCE
condition's flip decisions reused verbatim, then cross-session stats.

Reference: `cross_trial_type_cca_analysis.py` (pipeline `:2666-2925`,
weight extraction with pair-swap `:447-535` (J5/J7), projection
`:569-715` (M5), peaks `:744-767` (W4), sign alignment + decision
reuse `:1035-1147` (M12), cross-session aggregation `:989-1164` (A3)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from oxford_data_pipeline_spark.pipeline.session_pipeline import PipelineConfig
from oxford_data_pipeline_spark.operators.event_window import segment_by_events
from oxford_data_pipeline_spark.plans.memo import bounded_once


def segment_conditions(
    firing: DataFrame, events: DataFrame, cfg: PipelineConfig, labels: list[str]
) -> DataFrame:
    """S4 — one pass over all conditions: the per-condition source union
    is a single label-IN filter carrying `trial_type` through J1."""
    triggers = events.filter(F.col("label").isin(labels)).select(
        "session",
        "trial_id",
        F.col("label").alias("trial_type"),
        F.col("start_time").alias("start_bin"),
    )
    return segment_by_events(
        firing, triggers, key=["session"], pre=cfg.pre_bins, post=cfg.post_bins,
        drop_boundary=True,
    ).select("session", "trial_type", "trial_id", "neuron_id", "t", "rate")


def cross_condition_projections(
    segmented_all: DataFrame, sampled: DataFrame, cca_weights: DataFrame
) -> DataFrame:
    """J7 + M5 — project EVERY condition's z-scored data through the
    reference condition's weights. z-scoring is per (condition,
    session, neuron) as in `cross_trial_type_cca_analysis.py:678-683`."""
    tagged = segmented_all.join(
        F.broadcast(sampled.select("session", "neuron_id", "region")),
        ["session", "neuron_id"],
    )
    stats = tagged.groupBy("trial_type", "session", "neuron_id").agg(
        F.avg("rate").alias("mu"), F.stddev_samp("rate").alias("sigma")
    )
    z = tagged.join(stats, ["trial_type", "session", "neuron_id"]).withColumn(
        "z",
        F.when(F.col("sigma") > 0, (F.col("rate") - F.col("mu")) / F.col("sigma"))
        .otherwise(0.0),
    )
    return (
        z.join(cca_weights, ["session", "neuron_id"])
        .groupBy(
            "trial_type", "session", "pair_r1", "pair_r2", "side", "component",
            "trial_id", "t",
        )
        .agg(F.sum(F.col("z") * F.col("weight")).alias("value"))
    )


def session_mean_timecourses(projections: DataFrame) -> DataFrame:
    """A2 — per-session trial-mean latent time course."""
    return projections.groupBy(
        "trial_type", "session", "pair_r1", "pair_r2", "side", "component", "t"
    ).agg(F.avg("value").alias("u"))


def peak_amplitudes(timecourses: DataFrame, t_lo: int = 0, t_hi: int | None = None) -> DataFrame:
    """W4 — post-stimulus peak |u| per (condition, session, pair, side,
    component) within the restricted window."""
    cond = F.col("t") >= t_lo
    if t_hi is not None:
        cond = cond & (F.col("t") <= t_hi)
    return (
        timecourses.filter(cond)
        .groupBy("trial_type", "session", "pair_r1", "pair_r2", "side", "component")
        .agg(F.max(F.abs("u")).alias("peak_amp"))
    )


def flip_decisions(
    timecourses: DataFrame, reference_label: str, peak_lo: int = 0
) -> DataFrame:
    """M12 stages 1-3 ON THE REFERENCE CONDITION ONLY: baseline =
    first session (min session key) whose restricted-window peak is
    positive; flip a session iff corr(u_session, u_baseline) < 0."""
    ref = timecourses.filter(F.col("trial_type") == reference_label)
    keys = ["pair_r1", "pair_r2", "side", "component"]
    win = ref.filter(F.col("t") >= peak_lo)
    wpk = W.partitionBy("session", *keys).orderBy(
        F.round(F.abs("u"), 6).desc(), F.col("t")
    )
    peaks = (
        win.withColumn("rn", F.row_number().over(wpk))
        .filter(F.col("rn") == 1)
        .select("session", *keys, F.col("u").alias("peak"))
    )
    baseline = (
        peaks.filter(F.col("peak") > 0)
        .groupBy(*keys)
        .agg(F.min("session").alias("baseline_session"))
    )
    b = (
        ref.join(baseline, keys)
        .filter(F.col("session") == F.col("baseline_session"))
        .select(*keys, "t", F.col("u").alias("bu"))
    )
    corrs = (
        ref.join(b, [*keys, "t"])
        .groupBy("session", *keys)
        .agg(F.corr("u", "bu").alias("r"))
    )
    return corrs.select(
        "session", *keys,
        F.when(F.round("r", 6) < 0, F.lit(-1.0)).otherwise(F.lit(1.0)).alias("sign"),
    )


def aligned_cross_session_stats(
    timecourses: DataFrame, decisions: DataFrame
) -> DataFrame:
    """M12 decision REUSE (the reference applies the reference
    condition's flips to all conditions verbatim) + A3 cross-session
    mean/std/SEM of the aligned time courses."""
    keys = ["session", "pair_r1", "pair_r2", "side", "component"]
    aligned = timecourses.join(F.broadcast(decisions), keys).withColumn(
        "u_aligned", F.col("u") * F.col("sign")
    )
    n = F.count(F.lit(1))
    std = F.when(n > 1, F.stddev_samp("u_aligned"))
    return aligned.groupBy(
        "trial_type", "pair_r1", "pair_r2", "side", "component", "t"
    ).agg(
        F.avg("u_aligned").alias("mean_u"),
        std.alias("std_u"),
        (std / F.sqrt(n)).alias("sem_u"),
        n.alias("n_sessions"),
    )


def condition_similarity(
    timecourses: DataFrame, reference_label: str
) -> DataFrame:
    """M9 — Pearson r (and r²) between each condition's session time
    course and the reference condition's, per (session, pair, side,
    component) (`cross_trial_type_cca_analysis.py:769-798`)."""
    keys = ["session", "pair_r1", "pair_r2", "side", "component", "t"]
    ref = timecourses.filter(F.col("trial_type") == reference_label).select(
        *keys, F.col("u").alias("u_ref")
    )
    other = timecourses.filter(F.col("trial_type") != reference_label)
    r = F.corr("u", "u_ref")
    return (
        other.join(ref, keys)
        .groupBy("trial_type", "session", "pair_r1", "pair_r2", "side", "component")
        .agg(r.alias("r"), (r * r).alias("r2"), F.count(F.lit(1)).alias("n_t"))
    )


def run_cross_condition(
    firing: DataFrame,
    events: DataFrame,
    sampled: DataFrame,
    cca_weights: DataFrame,
    cfg: PipelineConfig,
    labels: list[str],
) -> dict[str, DataFrame]:
    """Entry B end-to-end, given Entry A's sampled neurons + weights."""
    segmented_all = segment_conditions(firing, events, cfg, labels)
    projections = cross_condition_projections(segmented_all, sampled, cca_weights)
    # every downstream table reads the time courses: materialize them once
    timecourses = bounded_once(session_mean_timecourses(projections))
    peaks = peak_amplitudes(timecourses)
    decisions = flip_decisions(timecourses, cfg.trial_type)
    aligned = aligned_cross_session_stats(timecourses, decisions)
    similarity = condition_similarity(timecourses, cfg.trial_type)
    return {
        "segmented_all": segmented_all,
        "projections": projections,
        "timecourses": timecourses,
        "peak_amplitudes": peaks,
        "flip_decisions": decisions,
        "aligned_stats": aligned,
        "condition_similarity": similarity,
    }
