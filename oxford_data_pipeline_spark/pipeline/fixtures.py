"""Family A domain fixtures (FIXTURES.md): deterministic synthetic
versions of the reference's inputs — continuous firing-rate series,
behavioral event table, neuron metadata — seed 42.

Shapes mirror `Matlab_part/segment_mdl_to_trials.m:24-76` (long form)
and `extract_session_data_mdl.m:86-207`, scaled down for test speed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

SESSIONS = ["yp010_220209", "yp011_220310", "yp012_220411"]
REGIONS = ["mPFC", "STR", "MD", "ORB"]
LABELS = ["cued hit long", "spont hit long"]

T_TOTAL = 1200  # bins per session (50 Hz → 24 s; enough for ~20 windows)
N_NEURONS = 80  # per session


def test_config(**overrides):
    """PipelineConfig scaled to these fixtures (the reference-scale
    defaults need 50-neuron regions and 226-bin windows)."""
    from oxford_data_pipeline_spark.pipeline.session_pipeline import PipelineConfig

    params = dict(
        pre_bins=15,
        post_bins=30,
        min_neurons_per_region=20,
        target_neurons=20,
        n_components=3,
        cv_folds=5,
    )
    params.update(overrides)
    return PipelineConfig(**params)


def generate_fixtures(
    spark: SparkSession, seed: int = 42
) -> dict[str, DataFrame]:
    """Build the three domain tables as Spark DataFrames.

    Region sizes straddle the admission threshold (FIXTURES.md A3):
    mPFC/STR large (admitted), MD small (rejected), ORB large in two
    sessions only (exercises the min-sessions rule); plus a few
    Unknown/'' regions and ~15% unstable units.
    """
    rng = np.random.default_rng(seed)
    neurons_rows, rates_rows, events_rows = [], [], []

    region_sizes = {
        SESSIONS[0]: {"mPFC": 28, "STR": 26, "MD": 8, "ORB": 14, "Unknown": 2, "": 2},
        SESSIONS[1]: {"mPFC": 30, "STR": 24, "MD": 9, "ORB": 13, "Unknown": 2, "": 2},
        SESSIONS[2]: {"mPFC": 27, "STR": 25, "MD": 10, "ORB": 6, "Unknown": 6, "": 6},
    }

    for session in SESSIONS:
        animal, date = session.split("_")
        nid = 0
        regions_of = {}
        for region, size in region_sizes[session].items():
            for _ in range(size):
                stable = bool(rng.random() > 0.15)
                neurons_rows.append(
                    (session, nid, region, f"npx{1 + nid % 2}", stable)
                )
                regions_of[nid] = region
                nid += 1
        n_neurons = nid

        # events: ~20 per label, including boundary-invalid ones (F3)
        trial_id = 0
        starts = []
        for label in LABELS:
            for _ in range(10):
                start = int(rng.integers(40, T_TOTAL - 80))
                events_rows.append((animal, date, session, trial_id, start, label))
                starts.append((start, label))
                trial_id += 1
            # boundary violations: too early / too late (must be dropped)
            events_rows.append((animal, date, session, trial_id, 5, label))
            trial_id += 1
            events_rows.append((animal, date, session, trial_id, T_TOTAL - 10, label))
            trial_id += 1
        # an 'other'-label event (filtered by F2)
        events_rows.append((animal, date, session, trial_id, 500, "other"))

        # firing rates: baseline(neuron) + event bumps + noise, >= 0,
        # rounded to 2 decimals so downstream means are short rationals
        baseline = rng.uniform(0.5, 5.0, size=n_neurons)
        bump_gain = rng.uniform(0.0, 3.0, size=n_neurons)
        series = np.tile(baseline[:, None], (1, T_TOTAL))
        t_axis = np.arange(T_TOTAL)
        for start, label in starts:
            width = 8.0 if label == LABELS[0] else 14.0
            bump = np.exp(-0.5 * ((t_axis - start - 6) / width) ** 2)
            series += bump_gain[:, None] * bump[None, :]
        series += rng.normal(0, 0.35, size=series.shape)
        series = np.round(np.maximum(series, 0.0), 2)
        for n in range(n_neurons):
            nz = np.nonzero(series[n])[0]
            for b in nz:
                rates_rows.append((session, n, int(b), float(series[n, b])))

    firing = spark.createDataFrame(
        pd.DataFrame(rates_rows, columns=["session", "neuron_id", "bin", "rate"]),
        schema="session string, neuron_id int, bin int, rate double",
    )
    events = spark.createDataFrame(
        pd.DataFrame(
            events_rows,
            columns=[
                "animal_id", "session_date", "session", "trial_id", "start_time", "label",
            ],
        ),
        schema="animal_id string, session_date string, session string,"
        " trial_id int, start_time int, label string",
    )
    neurons = spark.createDataFrame(
        pd.DataFrame(
            neurons_rows, columns=["session", "neuron_id", "region", "probe", "stable"]
        ),
        schema="session string, neuron_id int, region string, probe string, stable boolean",
    )
    # `createDataFrame(pandas)` keeps every row inline in the plan, so each
    # later analysis of a plan over these tables would re-hash ~288k firing
    # rows; an eager local checkpoint turns each table into a leaf scan.
    tables = {"firing_rates": firing, "trial_events": events, "neurons": neurons}
    return {name: df.localCheckpoint(eager=True) for name, df in tables.items()}
