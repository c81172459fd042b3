"""Shared pytest fixtures: one SparkSession per test session, plus an
oracle-comparison helper replicating the driver's check (row count,
column names, order-insensitive values)."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The suite's one JVM takes its heap cap from SPARK_GRAFT_DRIVER_MEM; the
# session default (48g) lets it grow past a small host's RAM and be
# killed mid-run.  Unless set, cap it at a quarter of physical memory,
# the JVM's own default max-heap share.
_PHYS_MB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{max(1024, _PHYS_MB // 4)}m")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    from oxford_data_pipeline_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


def _norm(v):
    if v is None:
        return None
    if hasattr(v, "item"):  # numpy scalar -> native (stable repr sort key)
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9) + 0.0
    return v


def assert_matches_oracle(spark_df, con, sql, check_schema=True):
    """Driver-like compare: row count + column-name set + multiset of
    rows after sorting columns by name (floats rounded)."""
    odf = con.execute(sql).fetchdf()
    scols = sorted(spark_df.columns)
    ocols = sorted(odf.columns)
    assert scols == ocols, f"column mismatch: spark={scols} oracle={ocols}"
    srows = spark_df.collect()
    orows = odf.where(odf.notna(), None).to_dict("records")
    assert len(srows) == len(orows), f"row count: spark={len(srows)} oracle={len(orows)}"
    # key=repr: tuples mixing None with values aren't orderable
    skey = sorted(
        (tuple(_norm(r[c]) for c in scols) for r in srows), key=repr
    )
    okey = sorted(
        (tuple(_norm(None if isinstance(r[c], float) and math.isnan(r[c]) else r[c])
               for c in ocols)
         for r in orows),
        key=repr,
    )
    for i, (a, b) in enumerate(zip(skey, okey)):
        assert a == b, f"row {i} differs:\n spark={a}\n oracle={b}"


@pytest.fixture(scope="session")
def domain_fixtures(spark):
    """Family A fixtures, generated once per test session."""
    from oxford_data_pipeline_spark.pipeline.fixtures import generate_fixtures

    return generate_fixtures(spark)


@pytest.fixture(scope="session")
def entry_a(spark, domain_fixtures):
    """Entry A pipeline results, computed once and cached (the UDF
    stages are the expensive part of the whole suite)."""
    from oxford_data_pipeline_spark.pipeline import run_session_pipeline
    from oxford_data_pipeline_spark.pipeline.fixtures import test_config

    cfg = test_config()
    res = run_session_pipeline(
        domain_fixtures["firing_rates"],
        domain_fixtures["trial_events"],
        domain_fixtures["neurons"],
        cfg,
    )
    for k in ("segmented", "sampled_neurons", "cca_weights", "cca_r2",
              "projections", "psth"):
        res[k].cache()
    return cfg, res
