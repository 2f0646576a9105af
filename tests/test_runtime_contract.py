"""Pin the platform assumptions the query catalog is built on.

Round 4 lesson: the sandbox moved from Spark 3 to Spark 4 mid-build and the
tz-less testdata parquet silently started reading as TIMESTAMP_NTZ, breaking
four catalog queries at once. This file is the single loud place a platform
shift shows up — if any assertion here fails, fix the assumption (and grep
for its uses) before chasing individual query failures.
"""

from __future__ import annotations

import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")

needs_testdata = pytest.mark.skipif(
    not os.path.exists(f"{SF_DIR}/events.parquet"), reason="driver testdata absent"
)

REPO = Path(__file__).resolve().parent.parent


def test_spark_fixture_is_built_with_session_tuning(spark):
    """The shared fixture is built by session.get_spark, so it carries every
    TUNING value from its first query on, not only after some catalog
    query's tune() has reset them. The build-time SparkConf is checked
    because no later spark.conf.set can change it."""
    from zarr_climate_etl_ipfs_spark.session import TUNING

    built = spark.sparkContext.getConf()
    assert {k: built.get(k) for k in TUNING} == TUNING
    assert {k: spark.conf.get(k) for k in TUNING} == TUNING


def test_get_spark_is_the_only_session_builder():
    """Scripts, examples and tests build their session through
    session.get_spark; perfbench/ keeps its own harness session."""
    needle = "SparkSession" ".builder"
    allowed = {REPO / "zarr_climate_etl_ipfs_spark" / "session.py"}
    offenders = [
        str(p.relative_to(REPO))
        for p in REPO.rglob("*.py")
        if p not in allowed
        and p.relative_to(REPO).parts[0] not in {"perfbench", ".git"}
        and needle in p.read_text(encoding="utf-8", errors="replace")
    ]
    assert offenders == []


@needs_testdata
def test_events_ts_reads_as_timestamp_ntz(spark):
    """The events table's tz-less timestamp[us] parquet must read as
    TIMESTAMP_NTZ — the type every epoch-math site is hardened for
    (plans/queries._epoch_s, operators/updates._epoch_s). A change here
    means the runtime or the testdata writer changed underneath us."""
    df = spark.read.parquet(f"{SF_DIR}/events.parquet")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz", (
        f"events.ts now reads as {dict(df.dtypes)['ts']!r}; the catalog's "
        "epoch-math helpers assume TIMESTAMP_NTZ-or-TIMESTAMP input — "
        "re-verify every _epoch_s call site and the streaming_hourly_stats "
        "readStream schema"
    )


@needs_testdata
def test_ntz_epoch_math_is_utc_exact(spark):
    """The NTZ→TIMESTAMP hop in _epoch_s is value-exact only while the
    session timezone is UTC; both halves of that contract are asserted."""
    from zarr_climate_etl_ipfs_spark.session import tune

    tune(spark)
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    row = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select(
            F.min("ts").alias("ts"),
            F.min(F.col("ts").cast("timestamp").cast("double")).alias("epoch"),
        )
        .first()
    )
    import datetime as dt

    expect = row["ts"].replace(tzinfo=dt.timezone.utc).timestamp()
    assert row["epoch"] == expect


def test_direct_numeric_cast_on_ntz_still_rejected(spark):
    """Documents WHY _epoch_s exists: Spark 4 refuses CAST(NTZ AS DOUBLE).
    If this starts passing, the helper is droppable but not wrong."""
    from pyspark.errors.exceptions.captured import AnalysisException

    df = spark.sql("SELECT TIMESTAMP_NTZ '2024-01-01 00:00:00' AS ts")
    with pytest.raises(AnalysisException):
        df.select(F.col("ts").cast("double")).collect()
