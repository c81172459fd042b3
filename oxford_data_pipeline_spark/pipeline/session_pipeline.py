"""The reference's single-session compute pipeline (Entry A, SURVEY
§3.1), Spark-first: the per-session MATLAB loop becomes partitioning.

Phase map (reference → here):
- Phase 2 extract+segment (`extract_session_data_mdl.m` +
  `segment_mdl_to_trials.m`)      → segment_conditions (F1-F3 + J1,
                                     every label in one pass) and its
                                     one-label case segment_trials,
                                     tagged once with the sampled
                                     neurons' regions
- Phase 3 region grouping (`perform_region_analysis.m`)
                                   → admit_regions (F4/F5/F10) +
                                     sample_neurons (M18) +
                                     region_pairs (J3/J6)
- PSTH (`save_session_results.m:76-109`) → psth_table (A1)
- Phase 4 PCA (`perform_region_pca.m`)   → fit_region_pca (M4 kernel
                                           via grouped_fit)
- Phase 5 CCA (`perform_session_cca.m`)  → fit_pair_cca (M1/M2 kernel
                                           via grouped_fit, M17
                                           optional shuffle) +
                                           significant_components (W5)
                                           + project (M5 UDF)
- Phase 6 save (`single_session_oxford_CCA_mdl.m:308-321`)
                                   → sinks.write_partitioned (S5)

The four grouped fits (M4 and M1/M2 here, `glm_stage`'s M6 GLM and M7
sensitivity grid) are NumPy kernels behind one adapter: `dense_block`
is the one pivot of a group's rates into a [samples × neurons] matrix,
and `grouped_fit` the one `applyInPandas` wrapper, which adds the group
keys, emits nothing for a group too small to fit and orders the output
columns by the schema.

Every stage is a DataFrame in, DataFrame out; all sessions process in
one job, in parallel, with one shuffle per stage boundary.

Four relations are materialized once per pipeline run with
`plans.memo.bounded_once`, because several outputs and actions read
each of them and Spark would otherwise re-run their whole lineage for
every one:
- the sampled neurons, read by the region pairs, the region tagging and
  the GLM stage;
- the tagged samples: the trials segmented once and joined with the
  sampled neurons' region (null for a unit that was not sampled).
  PSTH, both fits, the projection and `segmented`, and through it the
  GLM stage, read this one relation, so nothing downstream segments or
  tags again. It grows with trials × neurons × window, unlike the
  others, and is materialized anyway: five or more consumers read it,
  and the checkpoint's blocks are MEMORY_AND_DISK, so a relation larger
  than memory spills instead of failing;
- the two grouped-fit outputs, whose `applyInPandas` kernels are the
  costliest step and feed two tables each.
Entry B (`cross_condition.run_cross_condition`) materializes its
per-session time courses and flip decisions the same way.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window as W

from oxford_data_pipeline_spark.operators.aggregates import mean_std_sem
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


def segment_conditions(
    firing: DataFrame, events: DataFrame, cfg: PipelineConfig, labels: list[str]
) -> DataFrame:
    """Label-filtered (F2), boundary-validated (F3) event-window join
    (J1) of every condition in `labels` in one pass (S4): firing samples
    within [start−pre, start+post] of each trial, with its `trial_type`
    and relative time t. Sparse zeros are implicit (absent rows)."""
    triggers = events.filter(F.col("label").isin(labels)).select(
        "session",
        "trial_id",
        F.col("label").alias("trial_type"),
        F.col("start_time").alias("start_bin"),
    )
    return segment_by_events(
        firing, triggers, key=["session"], pre=cfg.pre_bins, post=cfg.post_bins
    ).select("session", "trial_type", "trial_id", "neuron_id", "t", "rate")


def segment_trials(
    firing: DataFrame, events: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """`segment_conditions` of the configured trial type alone."""
    return segment_conditions(firing, events, cfg, [cfg.trial_type]).drop("trial_type")


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


def region_pairs(neurons: DataFrame) -> DataFrame:
    """J3/J6 — unordered pairs of the regions in `neurons` (admitted or
    sampled units) per session with canonical (r1 < r2) keys
    (`perform_region_analysis.m:79-99`)."""
    regions = neurons.select("session", "region").distinct()
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


def tag_regions(segmented: DataFrame, sampled: DataFrame) -> DataFrame:
    """The segmented samples of the sampled neurons, with their region."""
    return segmented.join(
        F.broadcast(sampled.select("session", "neuron_id", "region")),
        ["session", "neuron_id"],
    )


# ---------------------------------------------------------------------------
# PSTH (A1)
# ---------------------------------------------------------------------------


def psth_table(tagged: DataFrame) -> DataFrame:
    """A1 — trial-averaged rate ± std per (session, region, neuron, t)
    over the region-tagged samples (`save_session_results.m:87-106`)."""
    mean, std, _, n = mean_std_sem("rate")
    return tagged.groupBy("session", "region", "neuron_id", "t").agg(
        mean.alias("mean_rate"), std.alias("std_rate"), n.alias("n_trials")
    )


# ---------------------------------------------------------------------------
# Grouped ML stages (M4, M1/M2 + M17)
# ---------------------------------------------------------------------------


def dense_block(
    pdf: pd.DataFrame, index: pd.MultiIndex | None = None
) -> tuple[np.ndarray, np.ndarray, pd.MultiIndex]:
    """A group's rows as a dense [samples × neurons] rate matrix: rows in
    (trial_id, t) order, or on the given shared `index`; columns by
    neuron_id; absent samples 0. Returns (matrix, neuron ids, row index)."""
    piv = pdf.pivot_table(
        index=["trial_id", "t"], columns="neuron_id", values="rate",
        aggfunc="first", fill_value=0.0,
    )
    piv = piv.sort_index() if index is None else piv.reindex(index, fill_value=0.0)
    return piv.to_numpy(dtype=float), piv.columns.to_numpy(), piv.index


def grouped_fit(
    df: DataFrame,
    keys: list[str],
    kernel: Callable[[tuple, pd.DataFrame], dict | None],
    schema: str,
) -> DataFrame:
    """Run `kernel(key, pdf)` on each `keys` group of `df`. The kernel
    returns a dict of output column arrays (scalars broadcast), or None
    for a group too small to fit, which emits no rows. The group-key
    columns are added from `key`, and columns come out in `schema`'s
    order."""
    columns = StructType.fromDDL(schema).fieldNames()

    # unannotated: a partly annotated function makes applyInPandas warn
    def run(key, pdf):
        out = kernel(key, pdf)
        if out is None:
            return pd.DataFrame(columns=columns)
        return pd.DataFrame({**dict(zip(keys, key)), **out}, columns=columns)

    return df.groupBy(*keys).applyInPandas(run, schema=schema)


def fit_region_pca(
    tagged: DataFrame, cfg: PipelineConfig
) -> tuple[DataFrame, DataFrame]:
    """M4 — CV-PCA per (session, region) of the region-tagged samples;
    returns (weights, variance) long tables
    (`perform_region_pca.m:93-156,201-221`)."""
    from oxford_data_pipeline_spark.ml.linalg import cv_pca

    k, folds = cfg.n_components, cfg.cv_folds

    def fit(key, pdf: pd.DataFrame) -> dict | None:
        X, neurons, _ = dense_block(pdf)
        if X.shape[0] < folds + 2:
            return None
        res = cv_pca(X, k, folds)
        kk, d = res["coefficients"].shape[1], len(neurons)
        return {
            "neuron_id": np.tile(neurons, kk),
            "component": np.repeat(np.arange(1, kk + 1), d),
            "weight": res["coefficients"].T.ravel(),
            "explained": np.repeat(res["explained_variance"], d),
            "cumulative": np.repeat(res["cumulative_variance"], d),
        }

    # both tables below read this one fit output
    out = bounded_once(grouped_fit(
        tagged, ["session", "region"], fit,
        "session string, region string, neuron_id int, component int,"
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
    """`fit_tagged_pair_cca` over untagged segmented samples."""
    return fit_tagged_pair_cca(tag_regions(segmented, sampled), pairs, cfg)


def fit_tagged_pair_cca(
    tagged: DataFrame, pairs: DataFrame, cfg: PipelineConfig
) -> tuple[DataFrame, DataFrame]:
    """M1/M2 — CV-CCA per (session, pair) of the region-tagged samples:
    contiguous folds over the (trial, t)-ordered samples (W6), optional
    M17 seeded permutation of the Y-side trials. Returns (cca_r2,
    cca_weights) long tables (`perform_session_cca.m:94-351`)."""
    from oxford_data_pipeline_spark.ml.linalg import cv_cca

    sides = tagged.join(
        F.broadcast(pairs),
        (tagged.session == pairs.session)
        & ((tagged.region == pairs.pair_r1) | (tagged.region == pairs.pair_r2)),
    ).drop(pairs.session).withColumn(
        "side", F.when(F.col("region") == F.col("pair_r1"), "i").otherwise("j")
    )
    k, folds, shuffle = cfg.n_components, cfg.cv_folds, cfg.shuffle_trials
    comps = np.arange(1, k + 1)

    def fit(key, pdf: pd.DataFrame) -> dict | None:
        session, r1, r2 = key
        # Both matrices are built on the SHARED (trial_id, t) sample
        # index — the union of rows observed on either side, zeros
        # filled per the engine's implicit-zero segment semantics.
        # Pivoting each side independently and truncating to min length
        # would silently shift every sample after a one-sided gap and
        # correlate mismatched timepoints.
        shared = pd.MultiIndex.from_frame(
            pdf[["trial_id", "t"]].drop_duplicates().sort_values(["trial_id", "t"])
        )
        X, nx, _ = dense_block(pdf[pdf["side"] == "i"], shared)
        Y, ny, _ = dense_block(pdf[pdf["side"] == "j"], shared)
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
            Y = Y[np.concatenate([np.nonzero(trial_of_row == trials[p])[0] for p in perm])]
        if X.shape[0] < folds + 2 or X.shape[1] == 0 or Y.shape[1] == 0:
            return None
        res = cv_cca(X, Y, k, folds)
        # the per-fold R² rows (fold ≥ 1), then the fold-mean weights
        # (fold 0) of each component: side i's neurons, then side j's
        n_folds, neurons = len(res["cv_R2"]), np.concatenate([nx, ny])
        side_of = np.repeat(["i", "j"], [len(nx), len(ny)])
        n_r2, n_w = n_folds * k, k * len(neurons)
        return {
            "fold": np.concatenate([np.repeat(np.arange(1, n_folds + 1), k), np.zeros(n_w, int)]),
            "component": np.concatenate([np.tile(comps, n_folds), np.repeat(comps, len(neurons))]),
            "side": np.concatenate([np.full(n_r2, ""), np.tile(side_of, k)]),
            "neuron_id": np.concatenate([np.full(n_r2, -1), np.tile(neurons, k)]),
            "r2": np.concatenate([res["cv_R2"].ravel(), np.full(n_w, np.nan)]),
            "weight": np.concatenate([np.full(n_r2, np.nan),
                                      np.vstack([res["mean_A"], res["mean_B"]]).T.ravel()]),
        }

    # cca_r2 and cca_weights are two filters over this one fit output
    out = bounded_once(grouped_fit(
        sides, ["session", "pair_r1", "pair_r2"], fit,
        "session string, pair_r1 string, pair_r2 string, fold int,"
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
# Canonical projection (M5)
# ---------------------------------------------------------------------------

_PROJ_COLS = ["pair_r1", "pair_r2", "side", "component", "trial_id", "t", "value"]


def _project_group(samples: pd.DataFrame, weights: pd.DataFrame) -> pd.DataFrame:
    """`zscore(X) @ W` for one (condition, session): each neuron is
    z-scored over its own samples (ddof=1; σ of 0 or undefined gives
    z = 0), absent samples are zeros of X, and each (pair, side) emits
    the (trial, t) rows where at least one of its neurons has a sample."""
    if samples.empty or weights.empty:
        return pd.DataFrame(columns=_PROJ_COLS)
    by_neuron = samples.groupby("neuron_id")["rate"]
    mu = by_neuron.transform("mean").to_numpy()
    sd = by_neuron.transform("std").to_numpy()
    ok = sd > 0
    z = np.where(ok, (samples["rate"].to_numpy() - mu) / np.where(ok, sd, 1.0), 0.0)
    rows, index = pd.factorize(pd.MultiIndex.from_frame(samples[["trial_id", "t"]]))
    cols, neurons = pd.factorize(samples["neuron_id"])
    Z = np.zeros((len(index), len(neurons)))
    np.add.at(Z, (rows, cols), z)
    present = np.zeros(Z.shape, dtype=bool)
    present[rows, cols] = True
    trial_ids = index.get_level_values(0).to_numpy()
    ts = index.get_level_values(1).to_numpy()
    out = []
    for (r1, r2, side), w in weights.groupby(["pair_r1", "pair_r2", "side"]):
        wm = w.pivot(index="neuron_id", columns="component", values="weight")
        idx = pd.Index(neurons).get_indexer(wm.index)
        seen = idx >= 0
        idx, W = idx[seen], wm.to_numpy()[seen]
        hit = present[:, idx].any(axis=1)
        V = Z[np.ix_(hit, idx)] @ W
        k = W.shape[1]
        out.append(pd.DataFrame({
            "pair_r1": r1, "pair_r2": r2, "side": side,
            "component": np.tile(wm.columns.to_numpy(), len(V)),
            "trial_id": np.repeat(trial_ids[hit], k),
            "t": np.repeat(ts[hit], k),
            "value": V.ravel(),
        }))
    return pd.concat(out, ignore_index=True) if out else pd.DataFrame(columns=_PROJ_COLS)


def project(samples: DataFrame, cca_weights: DataFrame) -> DataFrame:
    """M5 — `proj = zscore(X) @ W` per (trial_type, session): one grouped
    pandas kernel over the region-tagged samples and the CCA weights,
    both keyed by (trial_type, session); z-scoring is per (condition,
    session, neuron) (`perform_session_cca.m:402-464`,
    `cross_trial_type_cca_analysis.py:678-683`)."""
    keys = ["trial_type", "session"]

    def kernel(key, pdf: pd.DataFrame, wdf: pd.DataFrame) -> pd.DataFrame:
        out = _project_group(pdf, wdf)
        out.insert(0, "trial_type", key[0])
        out.insert(1, "session", key[1])
        return out

    return (
        samples.select(*keys, "trial_id", "t", "neuron_id", "rate").groupBy(*keys)
        .cogroup(cca_weights.select(
            *keys, "pair_r1", "pair_r2", "side", "neuron_id", "component", "weight",
        ).groupBy(*keys))
        .applyInPandas(
            kernel,
            schema="trial_type string, session string, pair_r1 string,"
            " pair_r2 string, side string, component int, trial_id int, t int,"
            " value double",
        )
    )


def trial_averaged_projection(projections: DataFrame) -> DataFrame:
    """A2 — mean/std/SEM over trials of the projected latents
    (`cross_trial_type_cca_analysis.py:690-711`)."""
    mean, std, sem, n = mean_std_sem("value")
    return projections.groupBy(
        "session", "pair_r1", "pair_r2", "side", "component", "t"
    ).agg(
        mean.alias("mean_value"),
        std.alias("std_value"),
        sem.alias("sem_value"),
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
    admitted = admit_regions(neurons, cfg)
    sampled = bounded_once(sample_neurons(admitted, cfg))
    # region pairs from the sampled units: with target_neurons >= 1 every
    # admitted region keeps a sampled unit, and admission does not run again
    pairs = region_pairs(sampled)
    samples = bounded_once(segment_trials(firing, events, cfg).join(
        F.broadcast(sampled.select("session", "neuron_id", "region")),
        ["session", "neuron_id"], "left",
    ))
    segmented = samples.select("session", "trial_id", "neuron_id", "t", "rate")
    tagged = samples.filter(F.col("region").isNotNull())
    psth = psth_table(tagged)
    pca_weights, pca_variance = fit_region_pca(tagged, cfg)
    cca_r2, cca_weights = fit_tagged_pair_cca(tagged, pairs, cfg)
    signif = significant_components(cca_r2, cfg)
    condition = F.lit(cfg.trial_type).alias("trial_type")
    projections = project(
        tagged.select("*", condition), cca_weights.select("*", condition)
    ).drop("trial_type")
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
