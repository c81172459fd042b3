"""Entry B — cross-trial-type pipeline over the domain fixtures."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from oxford_data_pipeline_spark.pipeline import PipelineConfig, run_session_pipeline
from oxford_data_pipeline_spark.pipeline.cross_condition import run_cross_condition
from oxford_data_pipeline_spark.pipeline.fixtures import LABELS, generate_fixtures


@pytest.fixture(scope="module")
def entry_b(spark, domain_fixtures, entry_a):
    fx = domain_fixtures
    cfg, a = entry_a
    b = run_cross_condition(
        fx["firing_rates"], fx["trial_events"], a["sampled_neurons"],
        a["cca_weights"], cfg, LABELS,
    )
    b["projections"].cache()
    b["timecourses"].cache()
    return cfg, a, b


def test_all_conditions_projected(entry_b):
    cfg, a, b = entry_b
    types = {r.trial_type for r in b["timecourses"].select("trial_type").distinct().collect()}
    assert types == set(LABELS)


def test_reference_condition_matches_entry_a_projection(entry_b):
    """J7 consistency: the reference condition's projection through its
    own weights must equal Entry A's projection output."""
    cfg, a, b = entry_b
    ref = (
        b["projections"]
        .filter(F.col("trial_type") == cfg.trial_type)
        .drop("trial_type")
    )
    a_rows = sorted(
        (r.session, r.pair_r1, r.pair_r2, r.side, r.component, r.trial_id, r.t,
         round(r.value, 6))
        for r in a["projections"].collect()
    )
    b_rows = sorted(
        (r.session, r.pair_r1, r.pair_r2, r.side, r.component, r.trial_id, r.t,
         round(r.value, 6))
        for r in ref.collect()
    )
    assert a_rows == b_rows


def test_peak_amplitudes_nonnegative(entry_b):
    _, _, b = entry_b
    rows = b["peak_amplitudes"].collect()
    assert rows and all(r.peak_amp >= 0 for r in rows)


def test_flip_decisions_binary_and_reused(entry_b):
    cfg, _, b = entry_b
    dec = b["flip_decisions"].collect()
    assert dec and all(r.sign in (-1.0, 1.0) for r in dec)
    # decision table is per (session, pair, side, comp) — condition-free,
    # so reuse across conditions is structural
    assert "trial_type" not in b["flip_decisions"].columns


def test_aligned_stats_cover_all_conditions_with_same_flips(entry_b):
    cfg, _, b = entry_b
    stats = b["aligned_stats"]
    types = {r.trial_type for r in stats.select("trial_type").distinct().collect()}
    assert types == set(LABELS)
    assert stats.filter(F.col("n_sessions") < 1).count() == 0


def test_condition_similarity_bounds(entry_b):
    cfg, _, b = entry_b
    rows = b["condition_similarity"].collect()
    assert rows
    assert all(r.r is None or -1.0 - 1e-9 <= r.r <= 1.0 + 1e-9 for r in rows)
    assert {r.trial_type for r in rows} == set(LABELS) - {cfg.trial_type}


# ---------------------------------------------------------------------------
# M5 projection oracle: zscore(X) @ W recomputed in NumPy
# ---------------------------------------------------------------------------

_PROJ_KEYS = ["trial_type", "session", "pair_r1", "pair_r2", "side", "component",
              "trial_id", "t"]


def _tagged_samples(segmented, sampled):
    return segmented.join(
        sampled.select("session", "neuron_id", "region"), ["session", "neuron_id"]
    ).toPandas()


def _oracle_projection(samples, weights) -> dict:
    """{projection key: value} from long samples and long CCA weights.

    Per (condition, session) each neuron is z-scored over its present
    samples (ddof=1; σ of 0 or undefined gives z = 0).  X is the dense
    [(trial, t) × neuron] matrix of one (pair, side) with absent samples
    as zeros, over exactly the (trial, t) rows where some neuron of that
    side has a sample; the projection is X @ W."""
    out = {}
    for (cond, session), grp in samples.groupby(["trial_type", "session"]):
        g = grp.groupby("neuron_id")["rate"]
        mu, sd = g.transform("mean"), g.transform("std")
        grp = grp.assign(z=np.where(sd > 0, (grp["rate"] - mu) / sd, 0.0))
        w_s = weights[weights["session"] == session]
        for (r1, r2, side), w in w_s.groupby(["pair_r1", "pair_r2", "side"]):
            wm = w.pivot(index="neuron_id", columns="component", values="weight")
            rows = grp[grp["neuron_id"].isin(wm.index)]
            if rows.empty:
                continue
            X = rows.pivot_table(
                index=["trial_id", "t"], columns="neuron_id", values="z",
                aggfunc="sum", fill_value=0.0,
            ).reindex(columns=wm.index, fill_value=0.0)
            V = X.to_numpy() @ wm.to_numpy()
            for (trial_id, t), vals in zip(X.index, V):
                for comp, v in zip(wm.columns, vals):
                    out[(cond, session, r1, r2, side, int(comp), int(trial_id),
                         int(t))] = float(v)
    return out


def _assert_projection_matches_oracle(projections, samples, weights):
    got = {
        tuple(r[k] for k in _PROJ_KEYS): r["value"]
        for r in projections.select(*_PROJ_KEYS, "value").collect()
    }
    want = _oracle_projection(samples, weights.toPandas())
    assert want and got.keys() == want.keys()
    for key, v in want.items():
        assert got[key] == pytest.approx(v, abs=1e-9), key
    return want


def _assert_entries_match_oracle(cfg, a, b):
    weights = a["cca_weights"]
    a_samples = _tagged_samples(a["segmented"], a["sampled_neurons"]).assign(
        trial_type=cfg.trial_type
    )
    _assert_projection_matches_oracle(
        a["projections"].withColumn("trial_type", F.lit(cfg.trial_type)),
        a_samples, weights,
    )
    b_samples = _tagged_samples(b["segmented_all"], a["sampled_neurons"])
    return _assert_projection_matches_oracle(b["projections"], b_samples, weights)


def test_projection_matches_numpy_oracle(entry_b):
    """Entry A's and Entry B's projections equal zscore(X) @ W computed
    in NumPy from the tagged samples and the CCA weights."""
    cfg, a, b = entry_b
    _assert_entries_match_oracle(cfg, a, b)


def test_projection_sparse_samples_match_numpy_oracle(spark, domain_fixtures, entry_a):
    """The same oracle on a copy of the fixtures with firing rows
    dropped: a scattered tenth of all (neuron, bin) samples (implicit
    zeros inside a row), and every fifth bin of one session's mPFC units,
    so one side of a pair has no sample at (trial, t) rows where its
    partner does (no projection row for that side there)."""
    from oxford_data_pipeline_spark.pipeline.fixtures import SESSIONS, T_TOTAL

    cfg, _ = entry_a
    fx = domain_fixtures
    mpfc = [
        r.neuron_id for r in fx["neurons"]
        .filter((F.col("session") == SESSIONS[0]) & (F.col("region") == "mPFC"))
        .collect()
    ]
    scattered = (F.pmod(F.xxhash64("session", "neuron_id", "bin"), F.lit(10)) == 0) & (
        F.col("bin").between(1, T_TOTAL - 2)
    )
    side_gap = (
        (F.col("session") == SESSIONS[0]) & F.col("neuron_id").isin(mpfc)
        & (F.col("bin") % 5 == 0)
    )
    firing = fx["firing_rates"].filter(~scattered & ~side_gap)
    a = run_session_pipeline(firing, fx["trial_events"], fx["neurons"], cfg)
    b = run_cross_condition(
        firing, fx["trial_events"], a["sampled_neurons"], a["cca_weights"], cfg, LABELS,
    )
    want = _assert_entries_match_oracle(cfg, a, b)
    sides: dict = {}
    for key in want:
        cond, session, r1, r2, side, comp, trial_id, t = key
        if session == SESSIONS[0] and comp == 1:
            sides.setdefault((cond, r1, r2, side), set()).add((trial_id, t))
    pairs = {k[:3] for k in sides}
    assert any(sides[(*p, "i")] != sides[(*p, "j")] for p in pairs)


def test_projection_degenerate_neurons_project_as_zero(spark):
    """A neuron whose σ is 0 (constant rate) or undefined (one sample)
    contributes z = 0, yet its samples still make their (trial, t) rows
    exist; a weighted neuron with no sample is an implicit zero column."""
    import pandas as pd

    from oxford_data_pipeline_spark.pipeline.session_pipeline import project

    samples = spark.createDataFrame(pd.DataFrame(
        [("c", "s1", trial_id, t, nid, rate) for trial_id, t, nid, rate in (
            (1, 0, 3, 1.0), (1, 1, 3, 2.0), (2, 0, 3, 3.0),  # z = -1, 0, 1
            (1, 0, 1, 2.0), (1, 1, 1, 2.0), (2, 1, 1, 2.0),  # constant
            (2, 2, 2, 5.0),                                  # single sample
        )],
        columns=["trial_type", "session", "trial_id", "t", "neuron_id", "rate"],
    ))
    weights = spark.createDataFrame(pd.DataFrame(
        [("c", "s1", "RA", "RB", "i", nid, 1, w)
         for nid, w in ((1, 1.0), (2, 1.0), (3, 2.0), (4, 1.0))],
        columns=["trial_type", "session", "pair_r1", "pair_r2", "side", "neuron_id",
                 "component", "weight"],
    ))
    got = {(r.trial_id, r.t): r.value for r in project(samples, weights).collect()}
    assert got == pytest.approx(
        {(1, 0): -2.0, (1, 1): 0.0, (2, 0): 2.0, (2, 1): 0.0, (2, 2): 0.0}
    )
