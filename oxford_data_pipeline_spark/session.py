"""SparkSession factory tuned for this engine.

Local test posture is ``local[N]`` (single JVM); the configs below are
chosen so the same code scales to a multi-executor cluster:
- AQE on (runtime coalesce, skew-join splitting) so shuffle partition
  counts adapt to real data sizes at any scale factor.
- Arrow on for the pandas-UDF ML kernels (vectorized transfer).
- UTC session timezone so timestamp arithmetic matches the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local[N] core count when $SPARK_GRAFT_CPUS is unset; bench.py's
# reference grid (BENCH_DETAIL.json) is measured at this count.
DEFAULT_CPUS = 32
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", DEFAULT_CPUS))


def get_spark(app_name: str = "oxford_data_pipeline_spark") -> SparkSession:
    """Build (or fetch) the tuned SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(DEFAULT_CPUS))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing knobs, env-parameterised for cluster tuning but
        # DEFAULTED to Spark's own defaults after a measured A/B (r15,
        # OPTIMIZATION_r15.md "AQE coalescing audit"): with
        # parallelismFirst=false + a 64m advisory, every sf0.1 shuffle
        # collapses to one partition and reduce-side compute serializes
        # (text_dup_window_profile 3.2 -> 5.3 s, dedup_simhash_pairs
        # 0.63 -> 1.14 s); parallelism-first already size-coalesces tiny
        # shuffles via minPartitionSize, which is the right local shape.
        # On a real cluster with 100 MB-1 GB partitions the advisory
        # path is the documented recommendation — hence the env knobs.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            os.environ.get("SPARK_GRAFT_AQE_CACHED", "false"),
        )
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "true"),
        )
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_AQE_ADVISORY", "64m"),
        )
        # Janino compiled-class cache (r15): the default 100 entries
        # thrash on a 189-query workload — every grid pass recompiles
        # every WholeStageCodegen stage from scratch.  Sizing the cache
        # to hold the workload's generated classes removes pure
        # recompilation overhead (compiled CODE, never data or results;
        # rep-1 timings still pay every first compile).  Scale-neutral:
        # any long-lived production session re-running a query mix
        # wants its generated classes resident.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "4096"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        # Read TIMESTAMP(NANOS) parquet as raw longs; set once here so
        # catalog reads never mutate session conf (round-3 advice) —
        # load_table normalizes every timestamp flavor to epoch-ns longs.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
