"""Seeded input generators for the workloads.

Every input the engine sees is made here from the workload seed, so the
same seed always gives byte-identical files:

- `neural_corpus`: firing rates, trial events and neuron metadata in the
  `pipeline.fixtures` shape, sized for the reference `PipelineConfig`.
- `event_frames`: the catalog's `events` and `documents` tables, with
  the row counts, key counts, time span and value and category
  distributions measured on the engine's test tables (see NOTES.md).
- `stream_batches`: those tables split into in-order micro-batch files.

Generated files are cached per (workload, seed) under the work root.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream merge "
    "data vector join customer"
).split()
# Share of documents whose text is another document's text plus " dup".
DUP_SHARE = 0.05

_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _write(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table.replace_schema_metadata(None), path)


def _events(rng, n: int, n_users: int) -> pd.DataFrame:
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, size=n))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _EPOCH_2024 + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, size=n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, size=n),
        "value": np.round(rng.exponential(50.0, size=n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
    })


def _documents(rng, n: int) -> pd.DataFrame:
    texts = [
        " ".join(rng.choice(WORDS, size=int(rng.integers(10, 101))))
        for _ in range(n)
    ]
    for i in rng.choice(n, size=int(n * DUP_SHARE), replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, size=n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


_SCHEMAS = {
    "events": pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                         ("user_id", pa.int64()), ("event_type", pa.string()),
                         ("value", pa.float64()), ("props", pa.string())]),
    "documents": pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                            ("lang", pa.string()), ("source", pa.string()),
                            ("n_chars", pa.int64())]),
}


def event_frames(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The catalog's `events` and `documents` tables at scale factor `sf`:
    1e6 * sf events by 15000 * sf users, uniform over 30 days and the
    five event types, and max(500, 50000 * sf) documents, as in the
    engine's test tables at sf 0.001, 0.01 and 0.1."""
    rng = np.random.default_rng([seed, 1])
    return {
        "events": _events(rng, int(1_000_000 * sf), int(15_000 * sf)),
        "documents": _documents(rng, max(500, int(50_000 * sf))),
    }


# ---------------------------------------------------------------------------
# Neural corpus (oxford_batch)
# ---------------------------------------------------------------------------

ADMITTED_REGIONS = ["mPFC", "STR", "MD", "ORB"]
LABELS = ["cued hit long", "spont hit long"]


def neural_corpus(
    seed: int,
    sessions: int,
    trials_per_label: int,
    neurons_per_region: int = 53,
    unstable_per_region: int = 2,
    unknown_neurons: int = 8,
    pre: int = 75,
    post: int = 150,
) -> dict[str, pd.DataFrame]:
    """Firing rates, trial events and neuron metadata for `sessions`
    sessions: four admitted regions of `neurons_per_region` units (of
    which `unstable_per_region` are unstable, so every region keeps at
    least 50 stable units) plus `unknown_neurons` Unknown units.  Each
    label gets `trials_per_label` in-bounds trials plus one too-early
    and one too-late trial, which segmentation must drop.  Rates stay
    strictly positive, so every (trial, neuron, t) sample is present."""
    rng = np.random.default_rng([seed, 2])
    window = pre + post + 1
    t_total = pre + post + 40 + 2 * trials_per_label * (window // 2)
    neurons, rates, events = [], [], []
    for s in range(sessions):
        session = f"yp{10 + s:03d}_2202{s + 1:02d}"
        animal, date = session.split("_")
        regions = [r for r in ADMITTED_REGIONS for _ in range(neurons_per_region)]
        regions += ["Unknown"] * unknown_neurons
        stable = []
        for r in ADMITTED_REGIONS:
            flags = np.ones(neurons_per_region, dtype=bool)
            flags[rng.choice(neurons_per_region, unstable_per_region, replace=False)] = False
            stable.extend(flags.tolist())
        stable += [True] * unknown_neurons
        n = len(regions)
        for nid in range(n):
            neurons.append((session, nid, regions[nid], f"npx{1 + nid % 2}", stable[nid]))
        trial_id, starts = 0, []
        for label in LABELS:
            for _ in range(trials_per_label):
                start = int(rng.integers(pre + 5, t_total - post - 5))
                events.append((animal, date, session, trial_id, start, label))
                starts.append((start, label))
                trial_id += 1
            for bad in (pre // 2, t_total - post // 2):
                events.append((animal, date, session, trial_id, bad, label))
                trial_id += 1
        events.append((animal, date, session, trial_id, t_total // 2, "other"))
        baseline = rng.uniform(0.5, 5.0, size=n)
        gain = rng.uniform(0.0, 3.0, size=n)
        series = np.tile(baseline[:, None], (1, t_total))
        t_axis = np.arange(t_total)
        for start, label in starts:
            width = 8.0 if label == LABELS[0] else 14.0
            series += gain[:, None] * np.exp(-0.5 * ((t_axis - start - 6) / width) ** 2)
        series += rng.normal(0.0, 0.35, size=series.shape)
        series = np.round(np.maximum(series, 0.01), 2)
        nid_col = np.repeat(np.arange(n, dtype=np.int32), t_total)
        bin_col = np.tile(np.arange(t_total, dtype=np.int32), n)
        rates.append(pd.DataFrame({"session": session, "neuron_id": nid_col,
                                   "bin": bin_col, "rate": series.ravel()}))
    return {
        "firing_rates": pd.concat(rates, ignore_index=True),
        "trial_events": pd.DataFrame(
            events, columns=["animal_id", "session_date", "session", "trial_id",
                             "start_time", "label"]
        ).astype({"trial_id": np.int32, "start_time": np.int32}),
        "neurons": pd.DataFrame(
            neurons, columns=["session", "neuron_id", "region", "probe", "stable"]
        ).astype({"neuron_id": np.int32}),
    }


# ---------------------------------------------------------------------------
# Micro-batch split (stream_maintain)
# ---------------------------------------------------------------------------


def batch_bounds(seed: int, n_rows: int, n_batches: int) -> np.ndarray:
    """In-order cut points splitting `n_rows` into `n_batches` batches
    whose sizes vary by up to ±5 % around the mean."""
    rng = np.random.default_rng([seed, 3])
    weights = rng.uniform(0.95, 1.05, size=n_batches)
    cuts = np.round(np.cumsum(weights) / weights.sum() * n_rows).astype(int)
    return np.concatenate([[0], cuts])


DOCS_STREAM_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def stream_batches(
    frames: dict[str, pd.DataFrame], seed: int, n_batches: int, out_dir: str
) -> None:
    """Write (events, documents) batch files in time order."""
    events = frames["events"].sort_values(["ts", "event_id"], kind="stable")
    docs = frames["documents"]
    ev_cut = batch_bounds(seed, len(events), n_batches)
    doc_cut = batch_bounds(seed + 1, len(docs), n_batches)
    os.makedirs(out_dir, exist_ok=True)
    for b in range(n_batches):
        _write(events.iloc[ev_cut[b]:ev_cut[b + 1]],
               os.path.join(out_dir, f"events_{b:03d}.parquet"), _SCHEMAS["events"])
        _write(docs.iloc[doc_cut[b]:doc_cut[b + 1]],
               os.path.join(out_dir, f"docs_{b:03d}.parquet"), _SCHEMAS["documents"])


def list_batches(in_dir: str) -> list[tuple[str, str, int]]:
    """[(events file, documents file, event count)] in batch order."""
    ev_files = sorted(f for f in os.listdir(in_dir) if f.startswith("events_"))
    return [
        (os.path.join(in_dir, f), os.path.join(in_dir, "docs_" + f[len("events_"):]),
         pq.ParquetFile(os.path.join(in_dir, f)).metadata.num_rows)
        for f in ev_files
    ]


# ---------------------------------------------------------------------------
# Cache
# ---------------------------------------------------------------------------


def cached_dir(root: str, workload: str, seed: int, build, keep: int = 4) -> str:
    """Return `root/inputs/<workload>-<seed>`, calling `build(dir)` once
    to fill it.  Keeps the `keep` most recently used seeds per workload."""
    base = os.path.join(root, "inputs")
    path = os.path.join(base, f"{workload}-{seed}")
    marker = os.path.join(path, ".done")
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        build(path)
        open(marker, "w").close()
    os.utime(marker)
    siblings = sorted(
        (d for d in os.listdir(base) if d.startswith(f"{workload}-")),
        key=lambda d: os.path.getmtime(os.path.join(base, d, ".done"))
        if os.path.exists(os.path.join(base, d, ".done")) else 0.0,
    )
    for d in siblings[:-keep]:
        shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    return path
