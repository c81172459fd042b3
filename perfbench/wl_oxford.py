"""oxford_batch: the reference workflow (Entry A → B → GLM → C) over a
seeded neural corpus, with the actions, caches and sink writes of
`examples/run_reference_workflow.py`.  Of the example's figures, Entry C
writes the PCA variance figure, so all three grouped fits (CV-PCA,
CV-CCA, OLS) run in a pass.

One operation is one pass over the whole corpus, the way a user runs the
workflow as a batch job.  Setup starts Spark, loads the corpus (three
times; the median counts) and starts the Python UDF workers.  Passes
then run until the window ends; a pass takes longer than the window, so
a run times one pass in a fresh session.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd

import gen
import tracing as tr
import common
from common import metric

SESSIONS = 1
TRIALS_PER_LABEL = 1
N_REGIONS, N_SAMPLED, N_PAIRS = 4, 50, 6
CONSTRUCT_SPANS = {
    "pipeline.run_session_pipeline", "pipeline.run_cross_condition",
    "pipeline.glm_fit", "pipeline.glm_summary", "pipeline.significant_neurons",
    "pipeline.connectivity_matrix", "pipeline.max_r2_summary",
}


def _modules():
    from oxford_data_pipeline_spark.ml import linalg
    from oxford_data_pipeline_spark.pipeline import cross_condition, glm_stage, reports
    from oxford_data_pipeline_spark.pipeline import session_pipeline
    from oxford_data_pipeline_spark.sources import sinks

    return linalg, session_pipeline, cross_condition, glm_stage, reports, sinks


def workflow_pass(spark, tables, cfg, labels, out_dir, tracer) -> dict:
    """One pass of the reference workflow; returns the row counts its
    actions produced.  Function lookups go through the modules, so a
    traced run sees the patched (span-opening) versions."""
    from pyspark.sql import functions as F

    from oxford_data_pipeline_spark.pipeline import svg_figures

    _, sp, cc, glm_stage, reports, sinks = _modules()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    counts = {}

    def write(fn, df, *args):
        if tracer.enabled:
            with tracer.span("pipeline.materialize"):
                df = df.cache()
                df.count()
        fn(df, *args)
        if tracer.enabled:
            df.unpersist()

    def action(name, df):
        with tracer.span(f"action.{name}"):
            counts[name] = df.count()

    with tracer.span("pipeline.entry_a"):
        a = sp.run_session_pipeline(
            tables["firing_rates"], tables["trial_events"], tables["neurons"], cfg)
        a["sampled_neurons"].cache()
        a["cca_weights"].cache()
        write(sinks.write_partitioned, a["psth"], os.path.join(out_dir, "psth"), ["session"])
        write(sinks.write_partitioned, a["cca_r2"], os.path.join(out_dir, "cca_r2"),
              ["session"])
        action("psth", a["psth"])
        action("significant_components", a["significant_components"])
    with tracer.span("pipeline.entry_b"):
        b = cc.run_cross_condition(
            tables["firing_rates"], tables["trial_events"], a["sampled_neurons"],
            a["cca_weights"], cfg, labels)
        aligned = b["aligned_stats"]
        write(sinks.write_json_report,
              aligned.orderBy("trial_type", "pair_r1", "pair_r2", "side", "component",
                              "t").limit(200),
              os.path.join(out_dir, "aligned_stats_sample.json"))
        action("aligned_stats", aligned)
        action("flip_decisions", b["flip_decisions"])
    with tracer.span("pipeline.glm"):
        glm = glm_stage.glm_fit(
            a["projections"], a["segmented"], a["sampled_neurons"]).cache()
        write(sinks.write_text_summary,
              glm_stage.glm_summary(glm).orderBy(F.col("pair_r1").asc_nulls_last()),
              os.path.join(out_dir, "glm_summary.txt"), "GLM summary")
        action("glm", glm)
        action("significant_neurons", glm_stage.significant_neurons(glm))
    with tracer.span("pipeline.entry_c"):
        conn = reports.connectivity_matrix(a["cca_r2"]).orderBy("row_idx", "col_idx")
        write(sinks.write_text_summary, conn,
              os.path.join(out_dir, "connectivity_matrix.txt"), "connectivity")
        write(sinks.write_text_summary,
              reports.max_r2_summary(a["cca_r2"]).orderBy("pair_r1", "pair_r2"),
              os.path.join(out_dir, "max_r2_summary.txt"), "max R2")
        write(svg_figures.write_variance_svg, a["pca_variance"],
              os.path.join(out_dir, "figures"))
    counts["_a"] = a
    for df in (glm, a["sampled_neurons"], a["cca_weights"]):
        df.unpersist()
    return counts


def expected_counts(sessions: int, cfg) -> dict:
    window = cfg.pre_bins + cfg.post_bins + 1
    return {
        "psth": sessions * N_REGIONS * N_SAMPLED * window,
        "aligned_stats": len(gen.LABELS) * N_PAIRS * 2 * cfg.n_components * window,
        "glm": sessions * N_PAIRS * 2 * N_SAMPLED,
        "cca_r2": sessions * N_PAIRS * cfg.cv_folds * cfg.n_components,
    }


def _check_counts(counts: dict, want: dict, cfg) -> list[str]:
    bad = [k for k in ("psth", "glm") if counts[k] != want[k]]
    # aligned rows exist only for (pair, side, component) keys that got a
    # flip decision, i.e. whose reference time course has a positive peak
    if not 0 < counts["aligned_stats"] <= want["aligned_stats"]:
        bad.append("aligned_stats")
    if not 0 < counts["flip_decisions"] <= SESSIONS * N_PAIRS * 2 * cfg.n_components:
        bad.append("flip_decisions")
    if not 0 < counts["significant_neurons"] <= counts["glm"]:
        bad.append("significant_neurons")
    if counts["significant_components"] < SESSIONS * N_PAIRS:
        bad.append("significant_components")
    return bad


def _recompute_cv_r2(spark, corpus, a, cfg, out_dir) -> bool:
    """CV-R² of one (session, pair) recomputed with `ml.linalg.cv_cca`
    from the generator's own rate matrix, against the engine's output."""
    from oxford_data_pipeline_spark.ml.linalg import cv_cca

    session = sorted(corpus["neurons"]["session"].unique())[0]
    r1, r2 = "MD", "ORB"
    sampled = a["sampled_neurons"].filter(f"session = '{session}'").collect()
    side = {r: sorted(int(x["neuron_id"]) for x in sampled if x["region"] == r)
            for r in (r1, r2)}
    ev = corpus["trial_events"]
    rates = corpus["firing_rates"]
    rates = rates[rates["session"] == session]
    t_max = int(rates["bin"].max())
    trig = ev[(ev["session"] == session) & (ev["label"] == cfg.trial_type)
              & (ev["start_time"] - cfg.pre_bins >= 0)
              & (ev["start_time"] + cfg.post_bins <= t_max)].sort_values("trial_id")
    grid = rates.pivot(index="neuron_id", columns="bin", values="rate")

    def block(neurons):
        rows = [grid.loc[neurons, s - cfg.pre_bins:s + cfg.post_bins].to_numpy().T
                for s in trig["start_time"]]
        return np.vstack(rows)

    want = cv_cca(block(side[r1]), block(side[r2]), cfg.n_components, cfg.cv_folds)["cv_R2"]
    got = spark.read.parquet(os.path.join(out_dir, "cca_r2")).filter(
        f"session = '{session}' AND pair_r1 = '{r1}' AND pair_r2 = '{r2}'").collect()
    if len(got) != want.size:
        return False
    mat = np.zeros_like(want)
    for row in got:
        mat[row["fold"] - 1, row["component"] - 1] = row["r2"]
    return bool(np.allclose(mat, want, rtol=1e-6, atol=1e-9))


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from oxford_data_pipeline_spark.pipeline import PipelineConfig

    spark = ctx.spark
    cfg = PipelineConfig()

    def build(path):
        for name, df in gen.neural_corpus(ctx.seed, SESSIONS, TRIALS_PER_LABEL).items():
            df.to_parquet(os.path.join(path, f"{name}.parquet"), index=False)

    in_dir = gen.cached_dir(common.WORK, "oxford_batch", ctx.seed, build)
    corpus = {n: pd.read_parquet(os.path.join(in_dir, f"{n}.parquet"))
              for n in ("firing_rates", "trial_events", "neurons")}
    out_dir = os.path.join(ctx.paths["run"], "out")

    # ---- setup: load the corpus (median of three), start the UDF workers
    loads, tables = [], {}
    for _ in range(3):
        for df in tables.values():
            df.unpersist()
        t0 = time.perf_counter()
        tables = {n: spark.read.parquet(os.path.join(in_dir, f"{n}.parquet")).cache()
                  for n in corpus}
        for df in tables.values():
            df.count()
        loads.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    spark.range(64).withColumn("g", F.col("id") % 8).groupBy("g").applyInPandas(
        lambda pdf: pdf[["g"]].head(1), "g long").count()
    setup_s = ctx.session.start_s + statistics.median(loads) + time.perf_counter() - t0

    # ---- timed passes ----------------------------------------------------
    want = expected_counts(SESSIONS, cfg)
    tally = {"attempted": 0, "failed": 0, "problems": [], "last": None}
    _, sp, cc, glm_stage, reports, sinks = _modules()
    ctx.patches = [
        (sp, ["run_session_pipeline"], "pipeline"),
        (cc, ["run_cross_condition"], "pipeline"),
        (glm_stage, ["glm_fit", "glm_summary", "significant_neurons"], "pipeline"),
        (reports, ["connectivity_matrix", "max_r2_summary"], "pipeline"),
        (sinks, ["write_partitioned", "write_json_report", "write_text_summary"],
         "sources"),
    ]

    def one_pass(tracer) -> float:
        tally["attempted"] += 1
        t0 = time.perf_counter()
        try:
            with tracer.trace("pass") as root:
                counts = workflow_pass(spark, tables, cfg, gen.LABELS, out_dir, tracer)
        except Exception as exc:  # a failed pass is counted, not fatal
            tally["failed"] += 1
            tally["problems"].append(f"pass raised {type(exc).__name__}: {exc}"[:300])
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        wrong = _check_counts(counts, want, cfg)
        if wrong:
            tally["failed"] += 1
            tally["problems"].append(f"row counts off: {wrong}")
        tally["last"] = counts
        if tracer.enabled:
            root.attrs["bytes_written"] = _du(out_dir)
            with tracer.span("operators.segment_by_events") as seg_span:
                seg = sp.segment_trials(tables["firing_rates"], tables["trial_events"], cfg)
                seg.write.format("noop").mode("overwrite").save()
            seg_span.attrs["rows"] = seg.count()
        return dt

    window = ctx.window(one_pass)

    # ---- correctness outside the window ------------------------------------
    if tally["last"] is not None:
        tally["attempted"] += 1
        cca_rows = spark.read.parquet(os.path.join(out_dir, "cca_r2")).count()
        if cca_rows != want["cca_r2"] or not _recompute_cv_r2(
                spark, corpus, tally["last"]["_a"], cfg, out_dir):
            tally["failed"] += 1
            tally["problems"].append("cca_r2 rows or recomputed CV-R2 differ")

    result = {k: tally[k] for k in ("attempted", "failed", "problems")}
    result["window"] = window
    result["metrics"] = {
        "setup_s": metric(setup_s, "s"),
        "peak_rss_mb": metric(ctx.session.peak_rss_mb(), "MB"),
        "p50_s": metric(statistics.median(window), "s"),
        "items_per_s": metric(SESSIONS * len(window) / sum(window), "1/s"),
    }
    if ctx.trace:
        result["layers"] = layer_metrics(ctx, statistics.median(loads), cfg)
    return result


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def layer_metrics(ctx, load_s, cfg) -> dict:
    """Per-layer numbers from the traced passes: medians per pass."""
    linalg = _modules()[0]
    spans, jobs = ctx.tracer.spans, ctx.spark_jobs()
    self_s = tr.self_times(spans)
    kernels = tr.read_kernel_log(ctx.paths["kernel_log"])
    groups = {"cv_pca": SESSIONS * N_REGIONS, "cv_cca": SESSIONS * N_PAIRS,
              "ols_inference": SESSIONS * N_PAIRS * 2}
    rows: dict[str, list[float]] = {}
    for root in (s for s in spans if s.name == "pass"):
        ids = tr.descendants(spans, {root.id})
        sub = [s for s in spans if s.id in ids]

        def total(pred, use_self=False):
            return sum(self_s[s.id] if use_self else s.duration for s in sub if pred(s.name))

        calls = [k for k, t0, _ in kernels
                 if root.wall_start <= t0 <= root.wall_start + root.duration]
        runs = sum(calls.count(k) / n for k, n in groups.items())
        jt = tr.job_totals(jobs, ids)
        row = {
            "pipeline.entry_a_s": total(lambda n: n == "pipeline.entry_a"),
            "pipeline.entry_b_s": total(lambda n: n == "pipeline.entry_b"),
            "pipeline.glm_s": total(lambda n: n == "pipeline.glm"),
            "pipeline.entry_c_s": total(lambda n: n == "pipeline.entry_c"),
            "pipeline.construct_s": total(lambda n: n in CONSTRUCT_SPANS),
            "trace.materialize_s": total(lambda n: n == "pipeline.materialize"),
            "sources.sink_write_s": total(lambda n: n.startswith("sources."), True),
            "sources.bytes_written": root.attrs.get("bytes_written", 0),
            "pipeline.shuffle_write_bytes": jt["shuffle_write_bytes"],
            "pipeline.spill_bytes": jt["spill_bytes"],
            "pipeline.task_cpu_s": jt["task_cpu_s"],
            "pipeline.gc_s": jt["gc_s"],
            "pipeline.udf_fit_runs": runs,
            "pipeline.udf_useful_ratio": len(groups) / runs if runs else 0.0,
            "ml.kernel_calls": len(calls),
        }
        for k, v in row.items():
            rows.setdefault(k, []).append(v)
    out = {k: statistics.median(v) for k, v in rows.items()}
    seg = [s for s in spans if s.name == "operators.segment_by_events"]
    out["operators.segment_s"] = statistics.median(s.duration for s in seg)
    out["operators.segment_rows"] = seg[-1].attrs["rows"]
    rng = np.random.default_rng(ctx.seed)
    n = TRIALS_PER_LABEL * (cfg.pre_bins + cfg.post_bins + 1)
    X, Y = rng.normal(size=(n, N_SAMPLED)), rng.normal(size=(n, N_SAMPLED))
    k, folds = cfg.n_components, cfg.cv_folds
    for name, call in (("ml.cv_cca_call_s", lambda: linalg.cv_cca(X, Y, k, folds)),
                       ("ml.cv_pca_call_s", lambda: linalg.cv_pca(X, k, folds)),
                       ("ml.ols_call_s", lambda: linalg.ols_inference(X, Y[:, 0]))):
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            call()
            times.append(time.perf_counter() - t0)
        out[name] = statistics.median(times)
    out["sources.table_scan_s"] = load_s
    return out
