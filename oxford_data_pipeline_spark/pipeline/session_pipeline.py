"""The reference's single-session compute pipeline (Entry A, SURVEY
§3.1), Spark-first: the per-session MATLAB loop becomes partitioning.

Phase map (reference → here):
- Phase 2 extract+segment (`extract_session_data_mdl.m` +
  `segment_mdl_to_trials.m`)      → segment_trials (F1-F3 + J1)
- Phase 3 region grouping (`perform_region_analysis.m`)
                                   → admit_regions (F4/F5/F10) +
                                     sample_neurons (M18) +
                                     region_pairs (J3/J6)
- PSTH (`save_session_results.m:76-109`) → psth_table (A1)
- Phase 4 PCA (`perform_region_pca.m`)   → fit_region_pca (M4 UDF)
- Phase 5 CCA (`perform_session_cca.m`)  → fit_pair_cca (M1/M2 UDF,
                                           M17 optional shuffle) +
                                           significant_components (W5)
                                           + project (M5, relational)
- Phase 6 save (`single_session_oxford_CCA_mdl.m:308-321`)
                                   → sinks.write_partitioned (S5)

Every stage is a DataFrame in, DataFrame out; all sessions process in
one job, in parallel, with one shuffle per stage boundary.

Three relations are materialized once per pipeline run with
`plans.memo.bounded_once`, because several outputs and actions read
each of them and Spark would otherwise re-run their whole lineage for
every one: the sampled neurons (read by PSTH, both fits, projection and
the GLM stage) and the two grouped-fit outputs, whose `applyInPandas`
kernels are the costliest step and feed two tables each. Their sizes
depend on sessions, regions and components, not on the trial count.
The segmented samples grow with trials × neurons × window, so they stay
lazy. Entry B (`cross_condition.run_cross_condition`) materializes its
per-session time courses the same way.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from oxford_data_pipeline_spark.operators.event_window import segment_by_events
from oxford_data_pipeline_spark.plans.memo import bounded_once


@dataclass(frozen=True)
class PipelineConfig:
    """Mirror of `analysis_config` with the REFERENCE's defaults
    (`oxford_single_session_pipeline_mdl.m:56-67`: window [-1.5, 3.0] s
    = bins [-75, +150] at 50 Hz, ≥50 neurons/region, 50 sampled,
    10 components, 10 CV folds, 90th-pct significance, seed 12345).
    Tests use `pipeline.fixtures.TEST_CONFIG`, scaled to the fixture
    volume."""

    trial_type: str = "cued hit long"
    pre_bins: int = 75
    post_bins: int = 150
    min_neurons_per_region: int = 50
    target_neurons: int = 50
    n_components: int = 10
    cv_folds: int = 10
    significance_pct: float = 0.9
    sample_seed: str = "12345"
    shuffle_trials: bool = False  # M17: permute Y-side trials


# ---------------------------------------------------------------------------
# Segmentation (F1-F3 + J1)
# ---------------------------------------------------------------------------


def segment_trials(
    firing: DataFrame, events: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Label-filtered (F2), boundary-validated (F3) event-window join
    (J1): firing samples within [start−pre, start+post] of each trial,
    with relative time t. Sparse zeros are implicit (absent rows)."""
    triggers = events.filter(F.col("label") == cfg.trial_type).select(
        "session", "trial_id", F.col("start_time").alias("start_bin")
    )
    return segment_by_events(
        firing,
        triggers,
        key=["session"],
        pre=cfg.pre_bins,
        post=cfg.post_bins,
        drop_boundary=True,
    ).select("session", "trial_id", "neuron_id", "t", "rate")


# ---------------------------------------------------------------------------
# Region admission + seeded sampling (F4/F5/F10 + M18)
# ---------------------------------------------------------------------------


def admit_regions(neurons: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Stable units only (F4), sane region names (F10), then the
    min-neuron HAVING predicate (F5, `perform_region_analysis.m:43-75`)."""
    clean = neurons.filter(
        F.col("stable") & ~F.col("region").isin("", "Unknown")
    )
    counts = clean.groupBy("session", "region").agg(
        F.count(F.lit(1)).alias("n_neurons")
    )
    admitted = counts.filter(F.col("n_neurons") >= cfg.min_neurons_per_region)
    return clean.join(
        F.broadcast(admitted.select("session", "region")), ["session", "region"]
    )


def sample_neurons(admitted: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """M18 — seeded k-per-region subsampling (`perform_region_analysis.
    m:104-133`, rng(12345)): deterministic md5 order replaces randperm,
    reproducible on any cluster layout."""
    order = F.md5(
        F.concat_ws("|", F.lit(cfg.sample_seed), "session", "region",
                    F.col("neuron_id").cast("string"))
    )
    w = W.partitionBy("session", "region").orderBy(order, "neuron_id")
    return (
        admitted.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= cfg.target_neurons)
        .drop("rk")
    )


def region_pairs(admitted: DataFrame) -> DataFrame:
    """J3/J6 — unordered pairs of admitted regions per session with
    canonical (r1 < r2) keys (`perform_region_analysis.m:79-99`)."""
    regions = admitted.select("session", "region").distinct()
    a, b = regions.alias("a"), regions.alias("b")
    return a.join(
        b,
        (F.col("a.session") == F.col("b.session"))
        & (F.col("a.region") < F.col("b.region")),
    ).select(
        F.col("a.session").alias("session"),
        F.col("a.region").alias("pair_r1"),
        F.col("b.region").alias("pair_r2"),
    )


# ---------------------------------------------------------------------------
# PSTH (A1)
# ---------------------------------------------------------------------------


def psth_table(segmented: DataFrame, sampled: DataFrame) -> DataFrame:
    """A1 — trial-averaged rate ± std per (session, region, neuron, t)
    (`save_session_results.m:87-106`)."""
    enriched = segmented.join(
        F.broadcast(sampled.select("session", "neuron_id", "region")),
        ["session", "neuron_id"],
    )
    n = F.count(F.lit(1))
    return enriched.groupBy("session", "region", "neuron_id", "t").agg(
        F.avg("rate").alias("mean_rate"),
        F.when(n > 1, F.stddev_samp("rate")).alias("std_rate"),
        n.alias("n_trials"),
    )


# ---------------------------------------------------------------------------
# Grouped ML stages (M4, M1/M2 + M17)
# ---------------------------------------------------------------------------


def _matrix(pdf: pd.DataFrame, value_col: str = "rate") -> tuple[np.ndarray, list[int]]:
    """Group rows → dense [samples × neurons] matrix: rows ordered by
    (trial_id, t), columns by neuron_id; missing samples = 0 (sparse)."""
    piv = pdf.pivot_table(
        index=["trial_id", "t"], columns="neuron_id", values=value_col,
        aggfunc="first", fill_value=0.0,
    ).sort_index()
    return piv.to_numpy(dtype=float), [int(c) for c in piv.columns]


def fit_region_pca(
    segmented: DataFrame, sampled: DataFrame, cfg: PipelineConfig
) -> tuple[DataFrame, DataFrame]:
    """M4 — CV-PCA per (session, region); returns (weights, variance)
    long tables (`perform_region_pca.m:93-156,201-221`)."""
    from oxford_data_pipeline_spark.ml.linalg import cv_pca

    data = segmented.join(
        F.broadcast(sampled.select("session", "neuron_id", "region")),
        ["session", "neuron_id"],
    )
    k, folds = cfg.n_components, cfg.cv_folds

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        Xm, neuron_ids = _matrix(pdf)
        if Xm.shape[0] < folds + 2:
            return pd.DataFrame(
                columns=["session", "region", "neuron_id", "component", "weight",
                         "explained", "cumulative"]
            )
        res = cv_pca(Xm, k, folds)
        rows = []
        kk = res["coefficients"].shape[1]
        for ci in range(kk):
            for ni, nid in enumerate(neuron_ids):
                rows.append(
                    (pdf["session"].iloc[0], pdf["region"].iloc[0], nid, ci + 1,
                     float(res["coefficients"][ni, ci]),
                     float(res["explained_variance"][ci]),
                     float(res["cumulative_variance"][ci]))
                )
        return pd.DataFrame(
            rows, columns=["session", "region", "neuron_id", "component", "weight",
                           "explained", "cumulative"]
        )

    # both tables below read this one fit output
    out = bounded_once(data.groupBy("session", "region").applyInPandas(
        fit,
        schema="session string, region string, neuron_id int, component int,"
        " weight double, explained double, cumulative double",
    ))
    weights = out.select("session", "region", "neuron_id", "component", "weight")
    variance = out.select("session", "region", "component", "explained", "cumulative").distinct()
    return weights, variance


def fit_pair_cca(
    segmented: DataFrame,
    sampled: DataFrame,
    pairs: DataFrame,
    cfg: PipelineConfig,
) -> tuple[DataFrame, DataFrame]:
    """M1/M2 — CV-CCA per (session, pair): contiguous folds over the
    (trial, t)-ordered samples (W6), optional M17 seeded permutation of
    the Y-side trials. Returns (cca_r2, cca_weights) long tables
    (`perform_session_cca.m:94-351`)."""
    from oxford_data_pipeline_spark.ml.linalg import cv_cca

    tagged = segmented.join(
        F.broadcast(sampled.select("session", "neuron_id", "region")),
        ["session", "neuron_id"],
    )
    sides = tagged.join(
        F.broadcast(pairs),
        (tagged.session == pairs.session)
        & ((tagged.region == pairs.pair_r1) | (tagged.region == pairs.pair_r2)),
    ).drop(pairs.session).withColumn(
        "side", F.when(F.col("region") == F.col("pair_r1"), "i").otherwise("j")
    )
    k, folds, shuffle = cfg.n_components, cfg.cv_folds, cfg.shuffle_trials

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        session = pdf["session"].iloc[0]
        r1, r2 = pdf["pair_r1"].iloc[0], pdf["pair_r2"].iloc[0]
        xi = pdf[pdf["side"] == "i"]
        xj = pdf[pdf["side"] == "j"]
        # Both matrices are built on the SHARED (trial_id, t) sample
        # index — the union of rows observed on either side, zeros
        # filled per the engine's implicit-zero segment semantics.
        # Pivoting each side independently and truncating to min length
        # would silently shift every sample after a one-sided gap and
        # correlate mismatched timepoints.
        shared = pd.MultiIndex.from_frame(
            pdf[["trial_id", "t"]].drop_duplicates().sort_values(["trial_id", "t"])
        )

        def side_matrix(sdf: pd.DataFrame) -> tuple[np.ndarray, list[int]]:
            piv = sdf.pivot_table(
                index=["trial_id", "t"], columns="neuron_id", values="rate",
                aggfunc="first", fill_value=0.0,
            ).reindex(shared, fill_value=0.0)
            return piv.to_numpy(dtype=float), [int(c) for c in piv.columns]

        X, nx = side_matrix(xi)
        Y, ny = side_matrix(xj)
        if shuffle:
            # M17 — seeded trial-order shuffle of the Y side
            # (`perform_session_cca.m:128-133`, rng(12345,'twister')).
            # Trial blocks are the ACTUAL contiguous row ranges of the
            # shared index (trial row counts may vary after boundary
            # drops); permuting ranges keeps every row exactly once.
            trial_of_row = shared.get_level_values(0).to_numpy()
            trials = list(dict.fromkeys(trial_of_row))  # index order
            seed = int.from_bytes(f"12345|{session}|{r1}|{r2}".encode()[:4], "big")
            perm = np.random.default_rng(seed).permutation(len(trials))
            idx = np.concatenate(
                [np.nonzero(trial_of_row == trials[p])[0] for p in perm]
            )
            Y = Y[idx]
        n = X.shape[0]
        if n < folds + 2 or X.shape[1] == 0 or Y.shape[1] == 0:
            return pd.DataFrame(
                columns=["session", "pair_r1", "pair_r2", "fold", "component",
                         "side", "neuron_id", "r2", "weight"]
            )
        res = cv_cca(X, Y, k, folds)
        rows = []
        for fi in range(res["cv_R2"].shape[0]):
            for ci in range(k):
                rows.append((session, r1, r2, fi + 1, ci + 1, "", -1,
                             float(res["cv_R2"][fi, ci]), float("nan")))
        for ci in range(k):
            for ni, nid in enumerate(nx):
                rows.append((session, r1, r2, 0, ci + 1, "i", nid, float("nan"),
                             float(res["mean_A"][ni, ci])))
            for ni, nid in enumerate(ny):
                rows.append((session, r1, r2, 0, ci + 1, "j", nid, float("nan"),
                             float(res["mean_B"][ni, ci])))
        return pd.DataFrame(
            rows, columns=["session", "pair_r1", "pair_r2", "fold", "component",
                           "side", "neuron_id", "r2", "weight"]
        )

    # cca_r2 and cca_weights are two filters over this one fit output
    out = bounded_once(sides.groupBy("session", "pair_r1", "pair_r2").applyInPandas(
        fit,
        schema="session string, pair_r1 string, pair_r2 string, fold int,"
        " component int, side string, neuron_id int, r2 double, weight double",
    ))
    cca_r2 = out.filter(F.col("fold") > 0).select(
        "session", "pair_r1", "pair_r2", "fold", "component", "r2"
    )
    cca_weights = out.filter(F.col("fold") == 0).select(
        "session", "pair_r1", "pair_r2", "side", "neuron_id", "component", "weight"
    )
    return cca_r2, cca_weights


def significant_components(cca_r2: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """W5 — components whose mean CV-R² reaches the 90th percentile of
    their pair (`perform_session_cca.m:154-156`)."""
    mean_r2 = cca_r2.groupBy("session", "pair_r1", "pair_r2", "component").agg(
        F.avg("r2").alias("mean_cv_r2")
    )
    thresh = mean_r2.groupBy("session", "pair_r1", "pair_r2").agg(
        F.expr(f"percentile(mean_cv_r2, {cfg.significance_pct})").alias("p")
    )
    return (
        mean_r2.join(thresh, ["session", "pair_r1", "pair_r2"])
        .filter(F.col("mean_cv_r2") >= F.col("p"))
        .select("session", "pair_r1", "pair_r2", "component", "mean_cv_r2")
    )


# ---------------------------------------------------------------------------
# Canonical projection (M5) — pure relational matmul
# ---------------------------------------------------------------------------


def project(
    segmented: DataFrame, sampled: DataFrame, cca_weights: DataFrame
) -> DataFrame:
    """M5 — `proj = zscore(X) @ W` per (session, pair, side):
    z-score per (session, neuron) over the segmented samples, join the
    weights on (session, neuron), sum products per (trial, t, comp)
    (`perform_session_cca.m:402-464`). No UDF, one shuffle."""
    tagged = segmented.join(
        F.broadcast(sampled.select("session", "neuron_id", "region")),
        ["session", "neuron_id"],
    )
    stats = tagged.groupBy("session", "neuron_id").agg(
        F.avg("rate").alias("mu"), F.stddev_samp("rate").alias("sigma")
    )
    z = (
        tagged.join(stats, ["session", "neuron_id"])
        .withColumn(
            "z",
            F.when(F.col("sigma") > 0, (F.col("rate") - F.col("mu")) / F.col("sigma"))
            .otherwise(0.0),
        )
    )
    return (
        z.join(cca_weights, ["session", "neuron_id"])
        .groupBy("session", "pair_r1", "pair_r2", "side", "component", "trial_id", "t")
        .agg(F.sum(F.col("z") * F.col("weight")).alias("value"))
    )


def trial_averaged_projection(projections: DataFrame) -> DataFrame:
    """A2 — mean/std/SEM over trials of the projected latents
    (`cross_trial_type_cca_analysis.py:690-711`)."""
    n = F.count(F.lit(1))
    std = F.when(n > 1, F.stddev_samp("value"))
    return projections.groupBy(
        "session", "pair_r1", "pair_r2", "side", "component", "t"
    ).agg(
        F.avg("value").alias("mean_value"),
        std.alias("std_value"),
        (std / F.sqrt(n)).alias("sem_value"),
        n.alias("n_trials"),
    )


# ---------------------------------------------------------------------------
# End to end
# ---------------------------------------------------------------------------


def run_session_pipeline(
    firing: DataFrame,
    events: DataFrame,
    neurons: DataFrame,
    cfg: PipelineConfig | None = None,
) -> dict[str, DataFrame]:
    """Entry A end-to-end for ALL sessions in one job."""
    cfg = cfg or PipelineConfig()
    segmented = segment_trials(firing, events, cfg)
    admitted = admit_regions(neurons, cfg)
    sampled = bounded_once(sample_neurons(admitted, cfg))
    pairs = region_pairs(admitted)
    psth = psth_table(segmented, sampled)
    pca_weights, pca_variance = fit_region_pca(segmented, sampled, cfg)
    cca_r2, cca_weights = fit_pair_cca(segmented, sampled, pairs, cfg)
    signif = significant_components(cca_r2, cfg)
    projections = project(segmented, sampled, cca_weights)
    proj_avg = trial_averaged_projection(projections)
    return {
        "segmented": segmented,
        "admitted_neurons": admitted,
        "sampled_neurons": sampled,
        "region_pairs": pairs,
        "psth": psth,
        "pca_weights": pca_weights,
        "pca_variance": pca_variance,
        "cca_r2": cca_r2,
        "cca_weights": cca_weights,
        "significant_components": signif,
        "projections": projections,
        "projection_avg": proj_avg,
    }
