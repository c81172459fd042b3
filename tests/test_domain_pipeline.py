"""End-to-end test of the domain pipeline (reference Entry A) on the
Family A fixtures, including a DuckDB cross-check of the relational
stages and determinism of the seeded ones."""

from __future__ import annotations

import os
import tempfile

import duckdb
import pytest
from pyspark.sql import functions as F

from oxford_data_pipeline_spark.pipeline import PipelineConfig, run_session_pipeline
from oxford_data_pipeline_spark.pipeline.fixtures import (
    LABELS,
    SESSIONS,
    T_TOTAL,
    generate_fixtures,
)


@pytest.fixture(scope="module")
def fixtures(domain_fixtures):
    return domain_fixtures


@pytest.fixture(scope="module")
def results(entry_a):
    cfg, res = entry_a
    return res, cfg


def test_segmentation_drops_boundary_and_other_labels(fixtures, results):
    res, cfg = results
    seg = res["segmented"]
    # t range is exactly the window
    bounds = seg.agg(F.min("t"), F.max("t")).collect()[0]
    assert bounds[0] >= -cfg.pre_bins and bounds[1] <= cfg.post_bins
    # boundary-invalid trials never appear
    bad = (
        fixtures["trial_events"]
        .filter(
            (F.col("label") == cfg.trial_type)
            & ((F.col("start_time") < cfg.pre_bins)
               | (F.col("start_time") + cfg.post_bins >= T_TOTAL))
        )
        .select("session", "trial_id")
        .collect()
    )
    assert bad, "fixtures must contain boundary violations"
    seg_trials = {(r.session, r.trial_id) for r in seg.select("session", "trial_id").distinct().collect()}
    for r in bad:
        assert (r.session, r.trial_id) not in seg_trials


def test_region_admission(results):
    res, cfg = results
    admitted = res["admitted_neurons"]
    regions = {
        (r.session, r.region)
        for r in admitted.select("session", "region").distinct().collect()
    }
    # MD is always below threshold; Unknown/'' always excluded
    assert all(reg not in ("MD", "Unknown", "") for _, reg in regions)
    # mPFC and STR admitted everywhere
    for s in SESSIONS:
        assert (s, "mPFC") in regions and (s, "STR") in regions
    counts = admitted.groupBy("session", "region").count().collect()
    assert all(r["count"] >= cfg.min_neurons_per_region for r in counts)


def test_sampling_is_seeded_and_bounded(spark, fixtures, results):
    res, cfg = results
    sampled = res["sampled_neurons"]
    counts = sampled.groupBy("session", "region").count().collect()
    assert all(r["count"] <= cfg.target_neurons for r in counts)
    # determinism: re-running sampling yields the identical set
    from oxford_data_pipeline_spark.pipeline.session_pipeline import (
        admit_regions,
        sample_neurons,
    )

    again = sample_neurons(admit_regions(fixtures["neurons"], cfg), cfg)
    a = sorted(map(tuple, sampled.select("session", "neuron_id").collect()))
    b = sorted(map(tuple, again.select("session", "neuron_id").collect()))
    assert a == b


def test_psth_matches_duckdb(spark, fixtures, results):
    """The relational heart (J1+F3+A1) cross-checked against DuckDB on
    the same parquet input — the pipeline analog of the driver oracle."""
    res, cfg = results
    with tempfile.TemporaryDirectory() as d:
        fpath, epath, npath = (os.path.join(d, x) for x in ("f", "e", "n"))
        fixtures["firing_rates"].write.parquet(fpath)
        fixtures["trial_events"].write.parquet(epath)
        res["sampled_neurons"].write.parquet(npath)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW firing AS SELECT * FROM read_parquet('{fpath}/*.parquet')")
        con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet('{epath}/*.parquet')")
        con.execute(f"CREATE VIEW samp AS SELECT * FROM read_parquet('{npath}/*.parquet')")
        oracle = con.execute(f"""
            WITH extent AS (
                SELECT session, min(bin) AS lo, max(bin) AS hi FROM firing GROUP BY 1
            ),
            trig AS (
                SELECT e.session, e.trial_id, e.start_time
                FROM ev e JOIN extent x ON e.session = x.session
                WHERE e.label = '{cfg.trial_type}'
                  AND e.start_time - {cfg.pre_bins} >= x.lo
                  AND e.start_time + {cfg.post_bins} <= x.hi
            ),
            seg AS (
                SELECT f.session, t.trial_id, f.neuron_id,
                       f.bin - t.start_time AS t, f.rate
                FROM firing f JOIN trig t
                  ON f.session = t.session
                 AND f.bin BETWEEN t.start_time - {cfg.pre_bins}
                              AND t.start_time + {cfg.post_bins}
            )
            SELECT s.session, n.region, s.neuron_id, s.t,
                   avg(s.rate) AS mean_rate, count(*) AS n_trials
            FROM seg s JOIN samp n
              ON s.session = n.session AND s.neuron_id = n.neuron_id
            GROUP BY 1, 2, 3, 4
        """).fetchall()
        spark_rows = [
            (r.session, r.region, r.neuron_id, r.t, round(r.mean_rate, 9), r.n_trials)
            for r in res["psth"].collect()
        ]
        oracle_rows = [(a, b, c, d, round(e, 9), f) for a, b, c, d, e, f in oracle]
        assert sorted(spark_rows) == sorted(oracle_rows)


def test_pca_outputs(results):
    res, cfg = results
    var = res["pca_variance"].collect()
    assert var
    by_grp = {}
    for r in var:
        by_grp.setdefault((r.session, r.region), []).append(r)
    for (s, reg), rs in by_grp.items():
        total = sum(r.explained for r in rs)
        assert total <= 100.0 + 1e-6
        cums = [r.cumulative for r in sorted(rs, key=lambda r: r.component)]
        assert cums == sorted(cums)
    w = res["pca_weights"]
    assert w.filter(F.col("weight").isNull()).count() == 0


def test_cca_r2_bounds_and_fold_counts(results):
    res, cfg = results
    r2 = res["cca_r2"].collect()
    assert r2
    assert all(0.0 <= r.r2 <= 1.0 for r in r2)
    per_pair = {}
    for r in r2:
        per_pair.setdefault((r.session, r.pair_r1, r.pair_r2), set()).add(
            (r.fold, r.component)
        )
    for key, cells in per_pair.items():
        assert len(cells) == cfg.cv_folds * cfg.n_components


def test_projections_shape_and_signal(results):
    res, cfg = results
    avg = res["projection_avg"]
    n = avg.count()
    assert n > 0
    # both sides present, components 1..k, full window
    sides = {r.side for r in avg.select("side").distinct().collect()}
    assert sides == {"i", "j"}
    comps = {r.component for r in avg.select("component").distinct().collect()}
    assert comps == set(range(1, cfg.n_components + 1))


def test_significant_components_selected(results):
    res, cfg = results
    sig = res["significant_components"].collect()
    assert sig
    # with k=3 and pct=0.9 exactly one component per pair passes
    per_pair = {}
    for r in sig:
        per_pair.setdefault((r.session, r.pair_r1, r.pair_r2), []).append(r.component)
    assert all(len(v) >= 1 for v in per_pair.values())


def test_s5_save_roundtrip(results, spark):
    res, _ = results
    from oxford_data_pipeline_spark.sources.sinks import write_partitioned

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "psth")
        write_partitioned(res["psth"], path, ["session"])
        back = spark.read.parquet(path)
        assert back.count() == res["psth"].count()
        assert set(back.select("session").distinct().toPandas()["session"]) == set(SESSIONS)


def test_m17_shuffle_changes_cca_but_stays_deterministic(spark, fixtures):
    from oxford_data_pipeline_spark.pipeline.fixtures import test_config

    cfg = test_config(shuffle_trials=True)
    res1 = run_session_pipeline(
        fixtures["firing_rates"], fixtures["trial_events"], fixtures["neurons"], cfg
    )
    a = sorted(map(tuple, res1["cca_r2"].collect()))
    res2 = run_session_pipeline(
        fixtures["firing_rates"], fixtures["trial_events"], fixtures["neurons"], cfg
    )
    b = sorted(map(tuple, res2["cca_r2"].collect()))
    assert a == b  # seeded shuffle is reproducible


def test_seconds_to_bins_heuristic(spark, fixtures):
    """×50 heuristic: a session whose start times are in seconds gets
    converted; a bins-valued session is untouched."""
    from oxford_data_pipeline_spark.pipeline.heuristics import normalize_start_bins

    ev = fixtures["trial_events"]
    extent = fixtures["firing_rates"].groupBy("session").agg(
        F.max("bin").alias("bin_hi")
    )
    # make one session seconds-valued (divide by 50)
    mixed = ev.withColumn(
        "start_time",
        F.when(F.col("session") == SESSIONS[0], F.col("start_time") / 50.0).otherwise(
            F.col("start_time").cast("double")
        ),
    )
    out = normalize_start_bins(mixed, extent)
    orig = {(r.session, r.trial_id): r.start_time for r in ev.collect()}
    for r in out.collect():
        assert r.start_bin == int(round(orig[(r.session, r.trial_id)]))


def test_session_date_fallback_predicate(spark, fixtures):
    from oxford_data_pipeline_spark.pipeline.heuristics import session_date_predicate

    ev = fixtures["trial_events"]
    base = ev.filter(session_date_predicate("yp010", "220209")).count()
    assert base > 0
    # same rows match when the stored date carries the century prefix
    prefixed = ev.withColumn("session_date", F.concat(F.lit("20"), "session_date"))
    assert prefixed.filter(session_date_predicate("yp010", "220209")).count() == base


def test_time_seconds_axis(spark, fixtures, results):
    from oxford_data_pipeline_spark.pipeline.heuristics import with_time_seconds

    res, cfg = results
    seg = with_time_seconds(res["segmented"])
    row = seg.filter(F.col("t") == cfg.post_bins).limit(1).collect()
    assert row and abs(row[0].t_sec - cfg.post_bins / 50.0) < 1e-12


@pytest.mark.parametrize("shuffle", [False, True])
def test_pair_cca_missing_sample_equals_explicit_zero(spark, shuffle):
    """Implicit-zero contract on the SHARED sample index (round-1
    ADVICE, medium): a (trial_id, t) row absent on one side must give
    bit-identical CCA results to the same row present with rate=0.0.
    Under min-length truncation the sparse variant shifts every later
    sample and diverges.  Runs with uneven per-trial row counts so the
    M17 shuffle path must also permute actual trial ranges."""
    import numpy as np
    import pandas as pd

    from oxford_data_pipeline_spark.pipeline.fixtures import test_config
    from oxford_data_pipeline_spark.pipeline.session_pipeline import fit_pair_cca

    rng = np.random.default_rng(7)
    rows_sparse, rows_dense = [], []
    for tr in range(1, 9):
        for t in range(10):
            for nid in (1, 2, 11, 12):
                v = float(rng.normal())
                on_a_side = nid in (1, 2)
                # two mid-sequence gaps on the A side only
                if on_a_side and (tr, t) in ((3, 4), (6, 0)):
                    rows_dense.append(("s1", tr, t, nid, 0.0))
                    continue
                rows_sparse.append(("s1", tr, t, nid, v))
                rows_dense.append(("s1", tr, t, nid, v))
    cols = ["session", "trial_id", "t", "neuron_id", "rate"]
    sampled = spark.createDataFrame(
        pd.DataFrame(
            [("s1", 1, "RA"), ("s1", 2, "RA"), ("s1", 11, "RB"), ("s1", 12, "RB")],
            columns=["session", "neuron_id", "region"],
        )
    )
    pairs = spark.createDataFrame(
        pd.DataFrame([("s1", "RA", "RB")], columns=["session", "pair_r1", "pair_r2"])
    )
    cfg = test_config(n_components=2, cv_folds=3, shuffle_trials=shuffle)

    def run(rows):
        seg = spark.createDataFrame(pd.DataFrame(rows, columns=cols))
        cca_r2, weights = fit_pair_cca(seg, sampled, pairs, cfg)
        r2 = {(r.fold, r.component): r.r2 for r in cca_r2.collect()}
        w = {
            (r.side, r.neuron_id, r.component): r.weight for r in weights.collect()
        }
        return r2, w

    r2_s, w_s = run(rows_sparse)
    r2_d, w_d = run(rows_dense)
    assert r2_s.keys() == r2_d.keys() and r2_s
    for key in r2_s:
        assert r2_s[key] == pytest.approx(r2_d[key], abs=1e-9), key
    assert w_s.keys() == w_d.keys()
    for key in w_s:
        assert w_s[key] == pytest.approx(w_d[key], abs=1e-9), key


# ---------------------------------------------------------------------------
# Grouped-fit oracle: CV-PCA, CV-CCA, OLS and the M7 grid recomputed in
# NumPy from the collected tagged samples
# ---------------------------------------------------------------------------


def _dense(rows, index=None):
    """[samples × neurons] rate matrix of `rows`: samples in (trial_id, t)
    order (or on `index`), neurons ascending, absent samples 0."""
    import numpy as np

    if index is None:
        index = sorted(set(zip(rows["trial_id"], rows["t"])))
    neurons = sorted(set(rows["neuron_id"]))
    at = {k: i for i, k in enumerate(index)}
    col = {n: j for j, n in enumerate(neurons)}
    X = np.zeros((len(index), len(neurons)))
    for tr, t, n, v in zip(rows["trial_id"], rows["t"], rows["neuron_id"], rows["rate"]):
        if (tr, t) in at:
            X[at[(tr, t)], col[n]] = v
    return X, neurons, index


def _assert_close(got: dict, want: dict):
    assert got.keys() == want.keys() and want
    for key, value in want.items():
        assert got[key] == pytest.approx(value, rel=1e-9, abs=1e-9, nan_ok=True), key


def _m17_permutation(index, session, r1, r2):
    """Row order of the M17 Y-side shuffle: whole trials permuted with
    the pair's seed, each trial's rows kept in order."""
    import numpy as np

    trial_of_row = np.array([tr for tr, _ in index])
    trials = list(dict.fromkeys(trial_of_row))
    seed = int.from_bytes(f"12345|{session}|{r1}|{r2}".encode()[:4], "big")
    perm = np.random.default_rng(seed).permutation(len(trials))
    return np.concatenate([np.nonzero(trial_of_row == trials[p])[0] for p in perm])


def _cca_oracle(tagged, pairs, cfg):
    from oxford_data_pipeline_spark.ml.linalg import cv_cca

    r2, weights = {}, {}
    for p in pairs.itertuples():
        s = tagged[tagged["session"] == p.session]
        xi, xj = s[s["region"] == p.pair_r1], s[s["region"] == p.pair_r2]
        index = sorted(set(zip(xi["trial_id"], xi["t"])) | set(zip(xj["trial_id"], xj["t"])))
        X, nx, _ = _dense(xi, index)
        Y, ny, _ = _dense(xj, index)
        if cfg.shuffle_trials:
            Y = Y[_m17_permutation(index, p.session, p.pair_r1, p.pair_r2)]
        if len(index) < cfg.cv_folds + 2:
            continue
        res = cv_cca(X, Y, cfg.n_components, cfg.cv_folds)
        pair = (p.session, p.pair_r1, p.pair_r2)
        for f, row in enumerate(res["cv_R2"], 1):
            for c, v in enumerate(row, 1):
                r2[(*pair, f, c)] = v
        for side, ids, W in (("i", nx, res["mean_A"]), ("j", ny, res["mean_B"])):
            for n, row in zip(ids, W):
                for c, v in enumerate(row, 1):
                    weights[(*pair, side, n, c)] = v
    return r2, weights


def _tagged(res):
    """Entry A's segmented samples of the sampled neurons, with region."""
    return res["segmented"].toPandas().merge(
        res["sampled_neurons"].select("session", "neuron_id", "region").toPandas(),
        on=["session", "neuron_id"],
    )


def _glm_design(res, component=1, side="i"):
    """Per (session, pair, region of the pair): the latent and the rates
    of the region's sampled neurons at their common (trial_id, t)."""
    import pandas as pd

    latent = res["projections"].filter(
        (F.col("component") == component) & (F.col("side") == side)
    ).toPandas()
    joined = latent.merge(_tagged(res), on=["session", "trial_id", "t"])
    joined = joined[(joined["region"] == joined["pair_r1"]) | (joined["region"] == joined["pair_r2"])]
    for key, g in joined.groupby(["session", "pair_r1", "pair_r2", "region"]):
        X, neurons, index = _dense(g)
        y = g.drop_duplicates(["trial_id", "t"]).set_index(["trial_id", "t"])["value"]
        yield key, X, neurons, y.reindex(pd.MultiIndex.from_tuples(index)).to_numpy(float)


def test_grouped_fits_match_numpy_oracle(results):
    """Every number of the four grouped fits (M4 CV-PCA, M1/M2 CV-CCA
    with and without the M17 shuffle, the M6 GLM and the M7 removal
    grid) equals `ml.linalg` run on matrices rebuilt here from the
    collected tagged samples."""
    import hashlib

    import numpy as np

    from oxford_data_pipeline_spark.ml.linalg import cv_pca, ols_inference
    from oxford_data_pipeline_spark.pipeline.fixtures import test_config
    from oxford_data_pipeline_spark.pipeline.glm_stage import glm_fit, sensitivity_grid
    from oxford_data_pipeline_spark.pipeline.session_pipeline import fit_pair_cca

    res, cfg = results
    tagged = _tagged(res)

    # M4
    want_w, want_v = {}, {}
    for (session, region), g in tagged.groupby(["session", "region"]):
        X, neurons, _ = _dense(g)
        if X.shape[0] < cfg.cv_folds + 2:
            continue
        fit = cv_pca(X, cfg.n_components, cfg.cv_folds)
        for n, row in zip(neurons, fit["coefficients"]):
            for c, v in enumerate(row, 1):
                want_w[(session, region, n, c)] = v
        for c, (e, cum) in enumerate(
                zip(fit["explained_variance"], fit["cumulative_variance"]), 1):
            want_v[(session, region, c)] = (e, cum)
    _assert_close({(r.session, r.region, r.neuron_id, r.component): r.weight
                   for r in res["pca_weights"].collect()}, want_w)
    got_v = {(r.session, r.region, r.component): (r.explained, r.cumulative)
             for r in res["pca_variance"].collect()}
    _assert_close(got_v, want_v)

    # M1/M2, and M17 through the untagged entry point on the same samples
    pairs = res["region_pairs"].toPandas()
    for shuffle in (False, True):
        c = test_config(shuffle_trials=shuffle)
        if shuffle:
            cca_r2, cca_w = fit_pair_cca(
                res["segmented"], res["sampled_neurons"], res["region_pairs"], c)
        else:
            cca_r2, cca_w = res["cca_r2"], res["cca_weights"]
        want_r2, want_cw = _cca_oracle(tagged, pairs, c)
        _assert_close({(r.session, r.pair_r1, r.pair_r2, r.fold, r.component): r.r2
                       for r in cca_r2.collect()}, want_r2)
        _assert_close({(r.session, r.pair_r1, r.pair_r2, r.side, r.neuron_id,
                        r.component): r.weight for r in cca_w.collect()}, want_cw)

    # M6 (z-scored rates) and M7 (raw rates)
    pcts, iters = (0, 25, 50, 75), 3
    want_glm, want_grid = {}, {}
    for key, X, neurons, y in _glm_design(res):
        d = X.shape[1]
        if X.shape[0] <= d + 2:
            continue
        sd = X.std(axis=0, ddof=1)
        fit = ols_inference((X - X.mean(axis=0)) / np.where(sd > 0, sd, 1.0), y)
        for i, n in enumerate(neurons, 1):
            want_glm[(*key, n)] = (fit["beta"][i], fit["r2"], fit["adj_r2"], fit["n"], *(
                (fit["se"][i], fit["t"][i], fit["p"][i], fit["aic"], fit["bic"])
                if fit["r2"] < 1 - 1e-12 else ()))
        base = ols_inference(X, y, inference=False)
        order = np.argsort(-np.abs(base["beta"][1:]), kind="stable")

        def r2_without(drop):
            keep = np.setdiff1d(np.arange(d), drop)
            return ols_inference(X[:, keep], y, inference=False)["r2"] if keep.size else np.nan

        for pct in pcts:
            n_drop = int(np.floor(d * pct / 100.0))
            want_grid[(*key, "top", pct, 0)] = r2_without(order[:n_drop])
            for it in range(iters):
                h = hashlib.md5("|".join(map(str, ("m7", *key, pct, it))).encode())
                rng = np.random.default_rng(int(h.hexdigest()[:8], 16))
                want_grid[(*key, "random", pct, it)] = r2_without(
                    rng.choice(d, size=n_drop, replace=False))
    glm = glm_fit(res["projections"], res["segmented"], res["sampled_neurons"])
    # side i's latent is a linear map of its own region's rates, so that
    # region's fit can be exact; then its residual is rounding noise, and
    # so are the statistics built on it (se, t, p, AIC, BIC)
    _assert_close({(r.session, r.pair_r1, r.pair_r2, r.region, r.neuron_id):
                   (r.beta, r.r2, r.adj_r2, r.n_samples, *(
                       (r.se, r.t_stat, r.p_value, r.aic, r.bic)
                       if r.r2 < 1 - 1e-12 else ()))
                   for r in glm.collect()}, want_glm)
    grid = sensitivity_grid(res["projections"], res["segmented"], res["sampled_neurons"],
                            pcts=pcts, mc_iters=iters)
    _assert_close({(r.session, r.pair_r1, r.pair_r2, r.region, r.strategy,
                    r.pct_removed, r.iteration): r.r2 for r in grid.collect()}, want_grid)
