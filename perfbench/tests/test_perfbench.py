"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import common  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


# ---- same seed, same inputs ------------------------------------------------


def _frames_equal(a: dict, b: dict) -> bool:
    return a.keys() == b.keys() and all(a[k].equals(b[k]) for k in a)


def test_neural_corpus_same_seed_same_inputs():
    a = gen.neural_corpus(5, sessions=1, trials_per_label=1)
    b = gen.neural_corpus(5, sessions=1, trials_per_label=1)
    c = gen.neural_corpus(6, sessions=1, trials_per_label=1)
    assert _frames_equal(a, b)
    assert not a["firing_rates"].equals(c["firing_rates"])


def test_neural_corpus_keeps_fifty_stable_units_per_region():
    neurons = gen.neural_corpus(3, sessions=2, trials_per_label=1)["neurons"]
    stable = neurons[neurons["stable"] & neurons["region"].isin(gen.ADMITTED_REGIONS)]
    assert stable.groupby(["session", "region"]).size().min() >= 50


def _digest(path: str) -> str:
    """sha256 over every file under `path` (names and bytes, sorted)."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_stream_batches_same_seed_same_files(tmp_path):
    digests = []
    for seed, sub in ((7, "a"), (7, "b"), (8, "c")):
        out = tmp_path / sub
        gen.stream_batches(gen.event_frames(seed, 0.001), seed, 4, str(out))
        digests.append(_digest(str(out)))
    assert digests[0] == digests[1] != digests[2]


def test_stream_batches_are_in_time_order_and_complete(tmp_path):
    frames = gen.event_frames(9, 0.001)
    gen.stream_batches(frames, 9, 5, str(tmp_path))
    batches = gen.list_batches(str(tmp_path))
    assert len(batches) == 5
    assert sum(n for _, _, n in batches) == len(frames["events"])
    import pandas as pd

    ts = pd.concat([pd.read_parquet(ev) for ev, _, _ in batches])["ts"]
    assert ts.is_monotonic_increasing


def test_cached_dir_builds_once_per_seed(tmp_path):
    calls = []

    def build(path):
        calls.append(path)
        open(os.path.join(path, "x"), "w").close()

    a = gen.cached_dir(str(tmp_path), "w", 1, build)
    b = gen.cached_dir(str(tmp_path), "w", 1, build)
    gen.cached_dir(str(tmp_path), "w", 2, build)
    assert a == b and len(calls) == 2


# ---- self-time arithmetic ------------------------------------------------------


def _span(i, parent, start, end):
    return tracing.Span(i, f"s{i}", "t", parent, start, end)


def test_self_time_subtracts_children():
    spans = [_span(1, None, 0.0, 10.0), _span(2, 1, 1.0, 3.0), _span(3, 1, 5.0, 6.0)]
    st = tracing.self_times(spans)
    assert st == {1: pytest.approx(7.0), 2: pytest.approx(2.0), 3: pytest.approx(1.0)}


def test_self_time_merges_overlapping_children_and_clips_to_parent():
    spans = [_span(1, None, 0.0, 10.0), _span(2, 1, 1.0, 4.0), _span(3, 1, 3.0, 6.0),
             _span(4, 1, 9.0, 12.0)]
    assert tracing.self_times(spans)[1] == pytest.approx(10.0 - 5.0 - 1.0)


def test_self_time_counts_only_direct_children():
    spans = [_span(1, None, 0.0, 10.0), _span(2, 1, 0.0, 4.0), _span(3, 2, 1.0, 3.0)]
    st = tracing.self_times(spans)
    assert st[1] == pytest.approx(6.0) and st[2] == pytest.approx(2.0)
    assert tracing.descendants(spans, {2}) == {2, 3}


# ---- tracing overhead ---------------------------------------------------------


def test_overhead_is_against_the_untraced_run():
    import run

    res = {"window": [11.0, 13.0, 12.0],
           "layers": {"trace.materialize_s": 1.5, "pipeline.entry_a_s": 4.0}}
    out = run.layer_metrics(res, start_s=2.0, untraced_p50_s=10.0)
    assert out["trace.overhead_frac"]["value"] == pytest.approx(12.0 / 10.0 - 1.0)
    assert out["trace.materialize_s"]["value"] == 1.5
    assert out["session.start_s"]["value"] == 2.0
    assert out["plans.jobs"] == {"value": 0.0, "unit": "count"}
    assert set(out) == set(common.LAYER_UNITS)


# ---- metric names and the BENCHMARK.json contract ---------------------------------


def test_metric_names_are_well_formed():
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    for name in names:
        assert METRIC_NAME.match(name), name


def test_per_layer_metrics_match_what_traced_runs_report():
    assert [m["name"] for m in SPEC["per_layer"]] == list(common.LAYER_UNITS)
    for m in SPEC["per_layer"]:
        assert m["unit"] == common.LAYER_UNITS[m["name"]]


def test_end_to_end_bounds_and_setup_metric():
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())


def test_workloads_listed_are_the_runnable_ones():
    sys.path.insert(0, BENCH)
    import run

    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(run.WORKLOADS)
