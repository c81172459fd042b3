"""stream_maintain: the eventops and corpus-sketch maintainers fed by
in-order micro-batch files, one batch in flight (closed loop).

Each batch lands as an events file and a documents file.  Its latency
runs from the landing to the maintained state merged and the reports
served:

1. the eventops maintainers build their deltas, merge them into the
   maintained state, and write the new state as parquet (write path);
2. the CMS and HLL maintainers run as checkpointed `availableNow`
   foreachBatch queries over the batch's documents, merging into their
   parquet state;
3. five reports are served from the state (read path).

Setup starts Spark, scans the batch files (three times; the median
counts) and runs batches 0 to 2 as the warm-up.  Later batches run
until the window ends, at least three of them.  The served reports and sketch state
after the last batch must equal the batch queries over every landed
batch.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import statistics
import time

import pyarrow.parquet as pq

import gen
import tracing as tr
import common
from common import metric

SF = 0.1  # the volume of the engine's sf0.1 test tables
N_BATCHES = 16
WARMUP_BATCHES = 3
MIN_TIMED_BATCHES = 3
REPORTS = {
    "anomaly": "e_rolling_anomaly",
    "seasonality": "e_seasonality",
    "weekly_hist": "e_value_histogram",
    "retention": "e_retention",
    "growth": "e_growth_accounting",
}


def _modules():
    from oxford_data_pipeline_spark.plans import eventops
    from oxford_data_pipeline_spark.streaming import stream_eventops, stream_profile

    return eventops, stream_eventops, stream_profile


class Maintainer:
    """Maintained state as versioned parquet directories."""

    def __init__(self, spark, root: str, tracer):
        self.spark, self.root, self.tracer = spark, root, tracer
        self.version: dict[str, int] = {}

    def path(self, name: str, v: int | None = None) -> str:
        v = self.version[name] if v is None else v
        return os.path.join(self.root, "state", name, f"v{v:04d}")

    def read(self, name: str):
        return self.spark.read.parquet(self.path(name)) if name in self.version else None

    def write(self, name: str, df) -> None:
        v = self.version.get(name, -1) + 1
        with self.tracer.span("streaming.state_write", relation=name):
            df.write.mode("overwrite").parquet(self.path(name, v))
        old = self.version.get(name)
        self.version[name] = v
        if old is not None and old > 0:
            shutil.rmtree(self.path(name, old - 1), ignore_errors=True)

    def rows(self) -> int:
        return sum(pq.ParquetFile(f).metadata.num_rows
                   for name in self.version
                   for f in glob.glob(os.path.join(self.path(name), "*.parquet")))


def batch_step(ctx, st: Maintainer, b: int, batch, tracer) -> dict:
    """Land batch `b` and run it to served reports; returns the rows of
    each served report."""
    from oxford_data_pipeline_spark.sources.catalog import load_table

    spark = ctx.spark
    eventops, se, sp = _modules()
    st.tracer = tracer
    ev_file, doc_file, _ = batch
    land_ev = os.path.join(ctx.paths["run"], "land", "events", f"b{b:03d}")
    land_doc = os.path.join(ctx.paths["run"], "land", "docs", f"b{b:03d}")
    for src, dst, name in ((ev_file, land_ev, "events"), (doc_file, land_doc, "documents")):
        os.makedirs(dst)
        shutil.copyfile(src, os.path.join(dst, f"{name}.parquet"))

    with tracer.span("streaming.eventops"):
        ev = load_table(spark, land_ev, "events")
        with tracer.span("streaming.delta_construct"):
            deltas = {
                "dau": (se.dau_register_deltas(ev), se.merge_dau_registers),
                "daily": (se.daily_count_deltas(ev), se.merge_daily_counts),
                "hist": (se.value_hist_deltas(ev), se.merge_value_hists),
            }
            merged = {n: d if st.read(n) is None else merge(st.read(n), d)
                      for n, (d, merge) in deltas.items()}
            fw, ac = se.retention_deltas(ev)
            prev = (st.read("firstw"), st.read("active"))
            merged["firstw"], merged["active"] = se.merge_retention_state(
                None if prev[0] is None else prev, (fw, ac))
        for name, df in merged.items():
            st.write(name, df)

    docs = spark.readStream.schema(gen.DOCS_STREAM_SCHEMA).parquet(land_doc)
    for name, start, merge in (("cms", sp.cms_maintenance_stream, sp.merge_counters),
                               ("hll", sp.hll_maintenance_stream, sp.merge_registers)):
        def sink(delta, _batch_id, name=name, merge=merge):
            prev = st.read(name)
            st.write(name, delta if prev is None else merge(prev, delta))

        with tracer.span("streaming.foreach_batch_query", sketch=name) as s:
            q = start(docs, sink)
            q.awaitTermination()
        if s is not None:
            s.attrs["add_batch_s"] = sum(
                p["durationMs"].get("addBatch", 0) for p in q.recentProgress) / 1e3

    served = {}
    with tracer.span("plans.serve"):
        daily, hist = st.read("daily"), st.read("hist")
        retention = (st.read("firstw"), st.read("active"))
        build = {
            "anomaly": lambda: eventops.anomaly_scores_from(daily),
            "seasonality": lambda: se.seasonality_report_from(daily),
            "weekly_hist": lambda: se.weekly_hist_report_from(hist),
            "retention": lambda: se.retention_matrix_from(retention),
            "growth": lambda: se.growth_report_from(retention),
        }
        for name, fn in build.items():
            with tracer.span("plans.construct", report=name):
                df = fn()
            if tracer.enabled:
                with tracer.span("plans.plan", report=name):
                    df._jdf.queryExecution().executedPlan()
            with tracer.span("plans.execute", report=name):
                served[name] = df.collect()
    return served


def _rows(rows, cols):
    return sorted((tuple(r[c] for c in cols) for r in rows), key=repr)


def check(ctx, st: Maintainer, served: dict, batches, n_landed: int) -> list[str]:
    """Served reports and sketch state against the batch queries over
    every landed batch."""
    from oxford_data_pipeline_spark.plans import QUERIES
    from oxford_data_pipeline_spark.plans import curation
    from oxford_data_pipeline_spark.streaming.stream_profile import batch_counters

    spark = ctx.spark
    ref_dir = os.path.join(ctx.paths["run"], "landed")
    for i, name in ((0, "events"), (1, "documents")):
        table_dir = os.path.join(ref_dir, f"{name}.parquet")
        os.makedirs(table_dir)
        for b, batch in enumerate(batches[:n_landed]):
            shutil.copyfile(batch[i], os.path.join(table_dir, f"part-{b:03d}.parquet"))
    bad = []
    for report, query in REPORTS.items():
        cols = sorted(served[report][0].asDict()) if served[report] else []
        want = QUERIES[query](spark, ref_dir).collect()
        if not cols or _rows(served[report], cols) != _rows(want, cols):
            bad.append(report)
    counters = st.read("cms").collect()
    docs = spark.read.parquet(os.path.join(ref_dir, "documents.parquet"))
    cols = ["k", "pos", "cnt"]
    if _rows(counters, cols) != _rows(batch_counters(docs).collect(), cols):
        bad.append("cms_counters")
    table = {(r["k"], r["pos"]): r["cnt"] for r in counters}
    for r in QUERIES["cur_term_cms"](spark, ref_dir).collect():
        est = min(table.get((k, _cms_pos(k, r["term"], curation._CMS_HEX)), 0)
                  for k in range(curation._CMS_K))
        if est != r["cms_est"]:
            bad.append(f"cms_est:{r['term']}")
    if _rows(st.read("hll").collect(), ["bucket", "mreg"]) != _rows(
            QUERIES["cur_vocab_hll"](spark, ref_dir).collect(), ["bucket", "mreg"]):
        bad.append("hll_registers")
    return bad


def _cms_pos(k: int, term: str, n_hex: int) -> str:
    return hashlib.md5(f"{k}|{term}".encode()).hexdigest()[:n_hex]


def run(ctx) -> dict:
    spark = ctx.spark

    def build(path):
        frames = gen.event_frames(ctx.seed, SF)
        gen.stream_batches(frames, ctx.seed, N_BATCHES, path)

    in_dir = gen.cached_dir(common.WORK, "stream_maintain", ctx.seed, build)
    batches = gen.list_batches(in_dir)

    # ---- setup: scan the batch files (median of three), warm-up batches ---
    scans = []
    for _ in range(3):
        t0 = time.perf_counter()
        for i in (0, 1):
            spark.read.parquet(*(b[i] for b in batches)).count()
        scans.append(time.perf_counter() - t0)

    st = Maintainer(spark, ctx.paths["run"], tr.NullTracer())
    eventops, se, sp = _modules()
    ctx.patches = [
        (se, ["dau_register_deltas", "daily_count_deltas", "value_hist_deltas",
              "retention_deltas", "merge_dau_registers", "merge_daily_counts",
              "merge_value_hists", "merge_retention_state"], "streaming"),
        (sp, ["merge_counters", "merge_registers"], "streaming"),
    ]
    tally = {"attempted": 0, "failed": 0, "problems": [], "next": 0, "served": None,
             "events": []}

    def step(tracer) -> float:
        b = tally["next"]
        if b >= len(batches):
            raise RuntimeError(f"all {len(batches)} batches used before the window ended")
        tally["next"] += 1
        tally["attempted"] += 1
        t0 = time.perf_counter()
        try:
            with tracer.trace("batch") as root:
                tally["served"] = batch_step(ctx, st, b, batches[b], tracer)
        except Exception as exc:  # a failed batch is counted, not fatal
            tally["failed"] += 1
            tally["problems"].append(f"batch {b}: {type(exc).__name__}: {exc}"[:300])
        dt = time.perf_counter() - t0
        tally["events"].append((batches[b][2], dt))
        if tracer.enabled:
            root.attrs["state_rows"] = st.rows()
        return dt

    # batch 0 bootstraps the state and batch 1 is the first to merge into
    # it, so both plan shapes compile before timing.  Batch latency keeps
    # falling for several more batches as the JVM warms up, so the
    # median is taken over a fixed minimum number of batches
    compiles0 = tr.codegen_snapshot(spark)
    warm_s = sum(step(tr.NullTracer()) for _ in range(WARMUP_BATCHES))
    compiles1 = tr.codegen_snapshot(spark)
    setup_s = ctx.session.start_s + statistics.median(scans) + warm_s
    tally["events"].clear()
    window = ctx.window(step, MIN_TIMED_BATCHES)

    tally["attempted"] += 1
    problems = (check(ctx, st, tally["served"], batches, tally["next"])
                if tally["served"] else ["no batch served"])
    if problems:
        tally["failed"] += 1
        tally["problems"].append(f"stream != batch: {problems}")

    timed_events = sum(n for n, _ in tally["events"])
    result = {k: tally[k] for k in ("attempted", "failed", "problems")}
    result["window"] = window
    result["metrics"] = {
        "setup_s": metric(setup_s, "s"),
        "peak_rss_mb": metric(ctx.session.peak_rss_mb(), "MB"),
        "p50_s": metric(statistics.median(window), "s"),
        "items_per_s": metric(timed_events / sum(window), "1/s"),
    }
    if ctx.trace:
        result["layers"] = layer_metrics(ctx, statistics.median(scans),
                                         compiles1[0] - compiles0[0],
                                         compiles1[1] - compiles0[1])
    return result


def layer_metrics(ctx, scan_s, compiles, compile_s) -> dict:
    spans, jobs = ctx.tracer.spans, ctx.spark_jobs()
    rows: dict[str, list[float]] = {}
    for root in (s for s in spans if s.name == "batch"):
        ids = tr.descendants(spans, {root.id})
        sub = [s for s in spans if s.id in ids]

        def total(name, attr=None):
            return sum(s.attrs.get(attr, 0.0) if attr else s.duration
                       for s in sub if s.name == name)

        serve_ids = tr.descendants(spans, {s.id for s in sub if s.name == "plans.serve"})
        serve_jobs = tr.job_totals(jobs, serve_ids)
        add_batch = total("streaming.foreach_batch_query", "add_batch_s")
        row = {
            "streaming.delta_construct_s": total("streaming.delta_construct"),
            "streaming.state_write_s": total("streaming.state_write"),
            "streaming.serve_s": total("plans.serve"),
            "streaming.foreach_batch_s": add_batch,
            "streaming.trigger_overhead_s":
                total("streaming.foreach_batch_query") - add_batch,
            "streaming.state_rows": root.attrs["state_rows"],
            "streaming.jobs_per_batch": tr.job_totals(jobs, ids)["jobs"],
            "plans.construct_s": total("plans.construct"),
            "plans.plan_s": total("plans.plan"),
            "plans.execute_s": total("plans.execute"),
            "plans.py4j_calls": sum(s.py4j_calls for s in sub
                                    if s.name in ("plans.construct", "plans.plan",
                                                  "plans.execute")),
            "plans.jobs": serve_jobs["jobs"],
            "plans.stages": serve_jobs["stages"],
            "plans.tasks": serve_jobs["tasks"],
            "plans.shuffle_write_bytes": serve_jobs["shuffle_write_bytes"],
            "plans.spill_bytes": serve_jobs["spill_bytes"],
        }
        for k, v in row.items():
            rows.setdefault(k, []).append(v)
    out = {k: statistics.median(v) for k, v in rows.items()}
    out.update({"sources.table_scan_s": scan_s, "plans.codegen_compiles": compiles,
                "plans.codegen_compile_s": compile_s})
    return out
