"""Flagship query: event-aligned PSTH over the `events` stream table.

This is the reference pipeline's core shape re-expressed on the driver
star schema: `purchase` events are the behavioral triggers (t_approach
rows, `Matlab_part/segment_mdl_to_trials.m:78-190`), every event is a
sample of the continuous per-user series, and the PSTH is the
trial-averaged response per event_type and relative time
(`Matlab_part/save_session_results.m:76-109`).

Pipeline: scan → binning (scalar time math §2.8) → J1 explode+equi-join
→ F3 boundary validity → A1 groupBy mean/std/sem — exactly SURVEY §7
step 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oxford_data_pipeline_spark.functions.compat import round6
from oxford_data_pipeline_spark.operators.aggregates import psth
from oxford_data_pipeline_spark.operators.event_window import segment_by_events
from oxford_data_pipeline_spark.plans.registry import register
from oxford_data_pipeline_spark.sources.catalog import load_table

# One bin = 60 s of event time; window = [-75, +150] bins around each
# trigger, mirroring the reference's [-75, +150] 20 ms bins.
BIN_SECONDS = 60
BIN_NANOS = BIN_SECONDS * 1_000_000_000
PRE, POST = 75, 150

_ORACLE = f"""
WITH series AS (
    SELECT user_id,
           epoch_ns(ts) // {BIN_NANOS} AS bin,
           event_type, value
    FROM events
),
extent AS (
    SELECT user_id, min(bin) AS bin_lo, max(bin) AS bin_hi FROM series GROUP BY 1
),
triggers AS (
    SELECT s.user_id, s.bin AS start_bin
    FROM series s JOIN extent e ON s.user_id = e.user_id
    WHERE s.event_type = 'purchase'
      AND s.bin - {PRE} >= e.bin_lo AND s.bin + {POST} <= e.bin_hi
),
segmented AS (
    SELECT s.event_type, s.value, s.bin - t.start_bin AS t
    FROM series s
    JOIN triggers t
      ON s.user_id = t.user_id
     AND s.bin BETWEEN t.start_bin - {PRE} AND t.start_bin + {POST}
)
SELECT event_type, t,
       round(avg(value) * 1000000 + 0.01, 0) / 1000000 + 0 AS avg_value,
       CASE WHEN count(*) > 1 THEN round(stddev_samp(value) * 1000000 + 0.01, 0) / 1000000 + 0 END AS std_value,
       CASE WHEN count(*) > 1
            THEN round(stddev_samp(value) / sqrt(count(*)) * 1000000 + 0.01, 0) / 1000000 + 0 END AS sem_value,
       count(*) AS n_obs
FROM segmented
GROUP BY event_type, t
"""


@register("j1_event_psth", _ORACLE)
def j1_event_psth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+F3+A1: event-aligned segmentation then PSTH aggregation."""
    events = load_table(spark, sf_dir, "events")
    series = events.select(
        "user_id",
        F.expr(f"ts DIV {BIN_NANOS}").alias("bin"),
        "event_type",
        "value",
    )
    triggers = (
        series.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("bin").alias("start_bin"))
    )
    segmented = segment_by_events(series, triggers, key=["user_id"], pre=PRE, post=POST)
    out = psth(segmented, ["event_type"], value_col="value", t_col="t")
    return out.select(
        "event_type",
        "t",
        round6("avg_value").alias("avg_value"),
        round6("std_value").alias("std_value"),
        round6("sem_value").alias("sem_value"),
        "n_obs",
    )
