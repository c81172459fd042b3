"""Run context shared by the workloads: environment, Spark session,
memory and load readings, and the run record."""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "oxford_data_pipeline_spark"
DRIVER_MEM = "3g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def source_id() -> str:
    """The git commit when the benchmark's checkout is a git work tree,
    else a sha256 over the package sources."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=30, check=True).stdout.split()
        if len(out) == 2 and os.path.realpath(out[0]) == os.path.realpath(ROOT):
            return "git:" + out[1]
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(os.path.join(ROOT, PACKAGE)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return "src:" + h.hexdigest()[:16]


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def prepare_env(workload: str, trace: bool) -> dict[str, str]:
    """Set the environment the engine and Spark read, before the JVM
    starts, and write the benchmark-owned Spark conf directory.
    Returns the run's scratch paths."""
    run_dir = os.path.join(WORK, "run", workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    paths = {
        "run": run_dir,
        "conf": os.path.join(run_dir, "conf"),
        "local": os.path.join(run_dir, "local"),
        "eventlog": os.path.join(run_dir, "eventlog"),
        "checkpoint": os.path.join(run_dir, "checkpoint"),
        "warehouse": os.path.join(run_dir, "warehouse"),
        "tmp": os.path.join(run_dir, "tmp"),
        "kernel_log": os.path.join(run_dir, "kernels.log"),
    }
    for key in ("conf", "local", "eventlog", "checkpoint", "tmp"):
        os.makedirs(paths[key])
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": paths["warehouse"],
        "spark.sql.streaming.checkpointLocation": paths["checkpoint"],
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={paths['tmp']} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + paths["eventlog"],
            "spark.python.daemon.module": "pb_daemon",
        })
    with open(os.path.join(paths["conf"], "spark-defaults.conf"), "w") as fh:
        for k, v in conf.items():
            fh.write(f"{k} {v}\n")
    with open(os.path.join(paths["conf"], "log4j2.properties"), "w") as fh:
        fh.write("rootLogger.level = error\nrootLogger.appenderRef.stderr.ref = console\n"
                 "appender.console.type = Console\nappender.console.name = console\n"
                 "appender.console.target = SYSTEM_ERR\n"
                 "appender.console.layout.type = PatternLayout\n"
                 "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n%ex\n")
    pythonpath = [ROOT] + ([os.path.join(BENCH_DIR, "hook")] if trace else [])
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": paths["local"],
        "SPARK_CONF_DIR": paths["conf"],
        "PYTHONPATH": os.pathsep.join(pythonpath),
        "PERFBENCH_KERNEL_LOG": paths["kernel_log"],
        "TMPDIR": paths["tmp"],
    })
    tempfile.tempdir = None
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return paths


class Session:
    """The engine's SparkSession plus the handle of its JVM process."""

    def __init__(self, app: str):
        from oxford_data_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app)
        self.start_s = time.perf_counter() - t0
        self.gateway = self.spark.sparkContext._gateway
        self.proc = self.gateway.proc

    def peak_rss_split_mb(self) -> dict[str, float]:
        """VmHWM of the client Python process and of its JVM, in MB."""
        return {"python": vm_hwm_mb("self"),
                "jvm": vm_hwm_mb(self.proc.pid) if self.proc else 0.0}

    def peak_rss_mb(self) -> float:
        return sum(self.peak_rss_split_mb().values())

    def stop(self) -> None:
        """Stop Spark, then close the gateway and wait for the JVM."""
        self.spark.stop()
        self.gateway.shutdown()
        if self.proc is not None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=30)


# Per-layer metrics (name -> unit).  Every traced run reports all of
# them; a layer a workload does not exercise reports 0.
LAYER_UNITS = {
    "session.start_s": "s",
    "sources.table_scan_s": "s",
    "sources.sink_write_s": "s",
    "sources.bytes_written": "bytes",
    "operators.segment_s": "s",
    "operators.segment_rows": "count",
    "ml.cv_cca_call_s": "s",
    "ml.cv_pca_call_s": "s",
    "ml.ols_call_s": "s",
    "ml.kernel_calls": "count",
    "pipeline.entry_a_s": "s",
    "pipeline.entry_b_s": "s",
    "pipeline.glm_s": "s",
    "pipeline.entry_c_s": "s",
    "pipeline.construct_s": "s",
    "pipeline.shuffle_write_bytes": "bytes",
    "pipeline.spill_bytes": "bytes",
    "pipeline.task_cpu_s": "s",
    "pipeline.gc_s": "s",
    "pipeline.udf_fit_runs": "count",
    "pipeline.udf_useful_ratio": "ratio",
    "plans.construct_s": "s",
    "plans.plan_s": "s",
    "plans.py4j_calls": "count",
    "plans.codegen_compiles": "count",
    "plans.codegen_compile_s": "s",
    "plans.execute_s": "s",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.shuffle_write_bytes": "bytes",
    "plans.spill_bytes": "bytes",
    "streaming.delta_construct_s": "s",
    "streaming.state_write_s": "s",
    "streaming.serve_s": "s",
    "streaming.foreach_batch_s": "s",
    "streaming.trigger_overhead_s": "s",
    "streaming.state_rows": "count",
    "streaming.jobs_per_batch": "count",
    "trace.materialize_s": "s",
    "trace.overhead_frac": "ratio",
}


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}
