from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from eventstreams_spark.session import get_spark

    s = get_spark("eventstreams-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def events_slice(spark, sf_dir):
    # one day of events keeps each streaming test a few seconds
    from pyspark.sql import functions as F

    from eventstreams_spark.catalog import load_table

    return load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-02 00:00:00").cast("timestamp")
    )
