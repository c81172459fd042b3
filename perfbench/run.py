"""Benchmark entry point.

    python3 perfbench/run.py --workload oxford_batch --seed 1 --seconds 10 --trace 0

Runs one workload of the engine in one client process against
`local[<cpus>]`, measures for `--seconds` seconds, checks the engine's
outputs and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}`.  With `--trace 0` the
metrics are the end-to-end ones.  With `--trace 1` the run first makes
the `--trace 0` run of the same seed in a child process, then repeats
it traced and prints the per-layer metrics, with the tracing overhead
against the untraced run.  A run
record (cpus, load average at start and end, source id, problems) goes
to stderr and to `.perfbench_work/records/`.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import tracing as tr  # noqa: E402

WORKLOADS = {
    "oxford_batch": "wl_oxford",
    "stream_maintain": "wl_stream",
}


class Ctx:
    """What a workload gets: seed, window length, Spark, and the tracer
    (a `NullTracer` in untraced runs)."""

    def __init__(self, args, paths, session):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.paths, self.session, self.spark = paths, session, session.spark
        self.tracer = tr.Tracer(self.spark) if self.trace else tr.NullTracer()
        self.patches: list[tuple[object, list[str], str]] = []

    def window(self, op, min_ops: int = 1) -> list[float]:
        """Run `op(tracer)` (returns its latency) until `seconds` have
        passed and at least `min_ops` operations ran; return the
        latencies.  A traced run traces the same operations an untraced
        run times, with the layers' functions patched to open spans."""
        for module, names, layer in self.patches:
            self.tracer.patch(module, names, layer)
        out: list[float] = []
        t_end = time.perf_counter() + self.seconds
        try:
            while len(out) < min_ops or time.perf_counter() < t_end:
                out.append(op(self.tracer))
        finally:
            self.tracer.unpatch()
        return out

    def spark_jobs(self) -> dict[int, tr.JobStats]:
        """Wait for Spark's listener bus to drain, then read the event
        log written so far (the log is flushed at every job end)."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return tr.read_event_log(self.paths["eventlog"])


def untraced_run(args) -> tuple[int, dict | None]:
    """Run the same workload and seed with `--trace 0` in a child
    process, before this process starts Spark, and return its exit code
    and result line."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
    if proc.returncode != 0 or not proc.stdout.strip():
        return proc.returncode or 1, None
    return 0, json.loads(proc.stdout.strip().splitlines()[-1])


def layer_metrics(res: dict, start_s: float, untraced_p50_s: float) -> dict:
    """Every per-layer metric, 0 for layers the workload does not use,
    plus the tracing overhead: the traced median against the median of
    the untraced run of the same seed.  The overhead includes the
    traced run's materialization at layer boundaries, whose time is
    also reported on its own (`trace.materialize_s`)."""
    unknown = set(res["layers"]) - set(common.LAYER_UNITS)
    if unknown:
        raise KeyError(f"layer metrics without a unit: {sorted(unknown)}")
    values = dict.fromkeys(common.LAYER_UNITS, 0.0)
    values.update(res["layers"])
    values["session.start_s"] = start_s
    values["trace.overhead_frac"] = statistics.median(res["window"]) / untraced_p50_s - 1.0
    return {k: common.metric(v, common.LAYER_UNITS[k]) for k, v in values.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(common.ROOT, common.PACKAGE)):
        print(f"perfbench: engine package {common.PACKAGE!r} not found beside "
              "the benchmark directory", file=sys.stderr)
        return 2

    untraced = None
    if args.trace:
        code, untraced = untraced_run(args)
        if untraced is None:
            print(f"perfbench: the untraced run failed with exit code {code}",
                  file=sys.stderr)
            return code
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "cpus": common.cpus(), "loadavg_start": common.loadavg(),
              "source": common.source_id()}
    if untraced is not None:
        record["untraced_p50_s"] = untraced["metrics"]["p50_s"]["value"]
    paths = common.prepare_env(args.workload, bool(args.trace))
    module = importlib.import_module(WORKLOADS[args.workload])
    session = common.Session(f"perfbench-{args.workload}")
    try:
        ctx = Ctx(args, paths, session)
        res = module.run(ctx)
        record["peak_rss_mb"] = session.peak_rss_split_mb()
        if ctx.trace:
            ctx.tracer.dump(os.path.join(paths["run"], "spans.jsonl"))
            ctx.tracer.close()
    finally:
        session.stop()
    record.update(loadavg_end=common.loadavg(), problems=res["problems"],
                  samples=len(res["window"]))
    os.makedirs(os.path.join(common.WORK, "records"), exist_ok=True)
    with open(os.path.join(common.WORK, "records",
                           f"{args.workload}-{args.seed}-{args.trace}-{int(time.time())}.json"),
              "w") as fh:
        json.dump({**record, "metrics": res["metrics"], "layers": res.get("layers"),
                   "window": res["window"]}, fh)
    print(json.dumps(record), file=sys.stderr)
    attempted, failed, metrics = res["attempted"], res["failed"], res["metrics"]
    if untraced is not None:
        attempted += untraced["attempted"]
        failed += untraced["failed"]
        metrics = layer_metrics(res, session.start_s,
                                untraced["metrics"]["p50_s"]["value"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
