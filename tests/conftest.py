"""Synthetic fixtures replicating the reference's unit-test datasets
(FIXTURES.md; reference tests/unit/conftest.py:22-134)."""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pandas as pd
import pytest

from zarr_climate_etl_ipfs_spark.config import DatasetDescriptor
from zarr_climate_etl_ipfs_spark.session import get_spark

LATS = [10.0, 20.0, 30.0, 40.0]
LONS = [100.0, 110.0, 120.0, 130.0]


def _shim_protobuf() -> None:
    """Delegates to the package's ensure_protobuf (moved there in r15 so the
    streaming_running_extremes_v2 catalog entry resolves protobuf under the
    correctness driver and tools/check.py, not only under pytest)."""
    from zarr_climate_etl_ipfs_spark.streaming.incremental import ensure_protobuf

    ensure_protobuf()


_shim_protobuf()


@pytest.fixture(scope="session")
def spark():
    # Spark's own 1g driver heap, not get_spark's 8g: the fixtures are tiny,
    # and an 8g cap let the suite's JVM grow past 4 GB resident.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    s = get_spark("zarr-climate-etl-ipfs-spark-tests", cpus=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def desc():
    return DatasetDescriptor(
        dataset_name="fake_obs",
        data_var="data",
        time_resolution="daily",
        dataset_category="observation",
        dataset_start_date=dt.datetime(2021, 9, 16),
        allow_overwrite=True,
        time_bucket="month",
    )


def _tall(times: list[dt.datetime], seed: int = 0) -> pd.DataFrame:
    rng = np.random.RandomState(seed)
    rows = []
    for t in times:
        for lat in LATS:
            for lon in LONS:
                rows.append((t, lat, lon))
    df = pd.DataFrame(rows, columns=["time", "latitude", "longitude"])
    df["latitude"] = df["latitude"].astype("float32")
    df["longitude"] = df["longitude"].astype("float32")
    df["data"] = rng.standard_normal(len(df)).astype("float32")
    return df


def daily(start: str, days: int) -> list[dt.datetime]:
    d0 = dt.datetime.fromisoformat(start)
    return [d0 + dt.timedelta(days=i) for i in range(days)]


#: fixture 2's deliberately gappy 60 days (FIXTURES.md §2 / conftest.py:370-434)
COMPLEX_UPDATE_TIMES: list[dt.datetime] = (
    daily("2021-10-10", 1)
    + daily("2021-10-16", 8)
    + daily("2021-11-11", 1)
    + daily("2021-12-11", 1)
    + daily("2021-12-25", 12)
    + daily("2022-01-14", 1)
    + daily("2022-02-01", 36)
)


@pytest.fixture(scope="session")
def initial_pdf() -> pd.DataFrame:
    """fixture_initial: 138 daily steps 2021-09-16..2022-01-31, 4×4 grid."""
    return _tall(daily("2021-09-16", 138), seed=1)


@pytest.fixture(scope="session")
def complex_update_pdf() -> pd.DataFrame:
    assert len(COMPLEX_UPDATE_TIMES) == 60
    return _tall(COMPLEX_UPDATE_TIMES, seed=2)


@pytest.fixture(scope="session")
def initial_df(spark, initial_pdf, desc):
    return spark.createDataFrame(initial_pdf, schema=desc.schema())


@pytest.fixture(scope="session")
def complex_update_df(spark, complex_update_pdf, desc):
    return spark.createDataFrame(complex_update_pdf, schema=desc.schema())
