"""Session-scoped memoization for persisted relations.

Several plan families reference the same derived relation (tokenized
documents, shingles, verified near-dup pairs, trained IVF centroids)
3-4 times each, and Spark does not reuse the exchange across separate
query subtrees.  In production these are materialized tables; locally
we persist them once per (SparkSession, sf_dir).

Keys use ``spark.sparkContext.applicationId`` — stable and unique per
SparkContext — rather than ``id(spark)``, which can be reused by the
allocator after a session is garbage-collected and hand a later
session a DataFrame bound to a stopped one.  Entries from other
(necessarily stopped: one local SparkContext at a time) applications
are evicted on first touch by a new session, unpersisting their
DataFrames.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def bounded_once(df: DataFrame) -> DataFrame:
    """Materialize-once marker for a BOUNDED intermediate that several
    subtrees or actions re-reference: a lazy ``localCheckpoint``.

    It truncates the SQL plan at construction: every consumer reads one
    ``Scan ExistingRDD`` instead of re-expanding the subtree's lineage,
    so the optimizer never sees the repeated towers and the subtree
    runs once however many actions read it.  The first action computes
    the checkpointed RDD; its blocks stay on the executors
    (MEMORY_AND_DISK) for the remaining consumers.

    "Lazy" covers the last stage only.  Creating the checkpoint builds
    the subtree's physical plan, and under adaptive query execution
    (which ``session.get_spark`` turns on) that runs every shuffle and
    broadcast stage below it at once, at construction; only the final
    stage, the one that yields the checkpointed rows, waits for the
    first action.  So use it on relations whose size does not grow with
    the input (fits, per-group summaries, sampled keys), and expect a
    caller that builds the plan without consuming it to pay for those
    stages.  Nothing survives the run and nothing is keyed on the input
    path."""
    return df.localCheckpoint(eager=False)


def memoized(
    cache: dict,
    spark: SparkSession,
    key_extra: tuple,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Return the cached persisted DataFrame for (applicationId, *key_extra),
    building + persisting via ``build`` on first use."""
    app = spark.sparkContext.applicationId
    key = (app, *key_extra)
    hit = cache.get(key)
    if hit is not None:
        return hit
    for stale in [k for k in cache if k[0] != app]:
        try:  # stopped session: unpersist may fail; the entry goes anyway
            cache[stale].unpersist()
        except Exception:
            pass
        del cache[stale]
    df = build().persist()
    cache[key] = df
    return df
