"""GLM stage — the reference's third pipeline (README_Oxford_GLM_
Analysis.md): regress CCA latents onto region population activity.

Chain: J4 join of projections with region spike data on (session,
pair) → M6 per-(session, pair, region) OLS with full inference →
F9 significance predicate (p < 0.05) → M7/W2 neuron-removal
sensitivity (top-|β| schedule vs seeded-random Monte-Carlo) →
A9-style summary rollup.

Reference: `oxford_GLM_CCA_coefficients_extract.m:113-485`,
`Oxford_glm_sensitivity.m:40-342`, `Oxford_GLM_summary.m`.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oxford_data_pipeline_spark.pipeline.session_pipeline import (
    dense_block,
    grouped_fit,
    tag_regions,
)

_KEYS = ["session", "pair_r1", "pair_r2", "region"]


def _seed_from(*parts) -> int:
    h = hashlib.md5("|".join(str(p) for p in parts).encode()).hexdigest()
    return int(h[:8], 16)


def _design(
    projections: DataFrame,
    segmented: DataFrame,
    sampled: DataFrame,
    component: int,
    side: str,
) -> DataFrame:
    """J4 — each pair's component-`component` latent on its `side`,
    joined at every (trial, t) sample with the rates of the sampled
    neurons of both regions of the pair."""
    latent = projections.filter(
        (F.col("component") == component) & (F.col("side") == side)
    ).select("session", "pair_r1", "pair_r2", "trial_id", "t", "value")
    return latent.join(tag_regions(segmented, sampled), ["session", "trial_id", "t"]).filter(
        (F.col("region") == F.col("pair_r1")) | (F.col("region") == F.col("pair_r2"))
    )


def _block(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One (session, pair, region) design: the rates X in (trial, t)
    order, the latent y at the same samples, and X's neuron ids."""
    X, neurons, index = dense_block(pdf)
    y = (
        pdf.drop_duplicates(["trial_id", "t"])
        .set_index(["trial_id", "t"])["value"]
        .reindex(index)
        .to_numpy(dtype=float)
    )
    return X, y, neurons


def glm_fit(
    projections: DataFrame,
    segmented: DataFrame,
    sampled: DataFrame,
    component: int = 1,
    side: str = "i",
) -> DataFrame:
    """M6 — per (session, pair, region): OLS of the component-`component`
    latent (the `side` of the pair) on the region's z-scored neuron
    rates at the same (trial, t) samples. Output: one row per neuron
    coefficient with inference, plus model-level stats repeated."""
    from oxford_data_pipeline_spark.ml.linalg import ols_inference

    def fit(key, pdf: pd.DataFrame) -> dict | None:
        X, y, neurons = _block(pdf)
        if X.shape[0] <= X.shape[1] + 2:
            return None
        sd = X.std(axis=0, ddof=1)
        res = ols_inference((X - X.mean(axis=0)) / np.where(sd > 0, sd, 1.0), y)
        return {
            "neuron_id": neurons, "beta": res["beta"][1:], "se": res["se"][1:],
            "t_stat": res["t"][1:], "p_value": res["p"][1:], "r2": res["r2"],
            "adj_r2": res["adj_r2"], "aic": res["aic"], "bic": res["bic"],
            "n_samples": res["n"],
        }

    return grouped_fit(
        _design(projections, segmented, sampled, component, side), _KEYS, fit,
        "session string, pair_r1 string, pair_r2 string, region string,"
        " neuron_id int, beta double, se double, t_stat double, p_value double,"
        " r2 double, adj_r2 double, aic double, bic double, n_samples long",
    )


def significant_neurons(glm: DataFrame, alpha: float = 0.05) -> DataFrame:
    """F9 — p < α (`oxford_GLM_CCA_coefficients_extract.m:471-473`)."""
    return glm.filter(F.col("p_value") < alpha).select(
        "session", "pair_r1", "pair_r2", "region", "neuron_id", "beta", "p_value"
    )


def sensitivity_grid(
    projections: DataFrame,
    segmented: DataFrame,
    sampled: DataFrame,
    pcts: list[int] = (0, 25, 50, 75),
    mc_iters: int = 3,
    component: int = 1,
    side: str = "i",
) -> DataFrame:
    """M7 — refit after removing top-|β| ρ% of neurons (W2 schedule) or
    seeded-random ρ% × Monte-Carlo iterations; concentration index =
    ΔR²_top(50) − ΔR²_rand(50) computable from the output
    (`Oxford_glm_sensitivity.m:54-55,256-342`). The top-|β| order ranks
    the β of the unstandardized rates, while `glm_fit` reports the β of
    z-scored rates, so the two can order neurons differently."""
    from oxford_data_pipeline_spark.ml.linalg import ols_inference

    pcts = list(pcts)

    def fit(key, pdf: pd.DataFrame) -> dict | None:
        X, y, _ = _block(pdf)
        d = X.shape[1]
        if X.shape[0] <= d + 2:
            return None
        base = ols_inference(X, y, inference=False)
        order = np.argsort(-np.abs(base["beta"][1:]), kind="stable")
        runs = []
        for pct in pcts:
            n_drop = int(np.floor(d * pct / 100.0))
            runs.append(("top", pct, 0, order[:n_drop]))
            for it in range(mc_iters):
                rng = np.random.default_rng(_seed_from("m7", *key, pct, it))
                runs.append(("random", pct, it, rng.choice(d, size=n_drop, replace=False)))
        strategy, pct_removed, iteration, drops = zip(*runs)
        keeps = [np.setdiff1d(np.arange(d), drop) for drop in drops]
        return {
            "strategy": list(strategy), "pct_removed": list(pct_removed),
            "iteration": list(iteration),
            "r2": [ols_inference(X[:, keep], y, inference=False)["r2"] if keep.size
                   else np.nan for keep in keeps],
        }

    return grouped_fit(
        _design(projections, segmented, sampled, component, side), _KEYS, fit,
        "session string, pair_r1 string, pair_r2 string, region string,"
        " strategy string, pct_removed int, iteration int, r2 double",
    )


def glm_summary(glm: DataFrame, alpha: float = 0.05) -> DataFrame:
    """A9 — per-pair summary + overall rollup of GLM quality and
    significant-neuron counts (`oxford_GLM_CCA_coefficients_extract.m:
    504-557`)."""
    per_fit = glm.groupBy("session", "pair_r1", "pair_r2", "region").agg(
        F.first("r2").alias("r2"),
        F.count(F.when(F.col("p_value") < alpha, 1)).alias("n_significant"),
        F.count(F.lit(1)).alias("n_neurons"),
    )
    return per_fit.rollup("pair_r1", "pair_r2").agg(
        F.count(F.lit(1)).alias("n_fits"),
        F.avg("r2").alias("mean_r2"),
        F.min("r2").alias("min_r2"),
        F.max("r2").alias("max_r2"),
        F.avg("n_significant").alias("mean_n_significant"),
    )
