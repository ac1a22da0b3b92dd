from __future__ import annotations

import os

import pytest

from incubyte_vaccination_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

#: SPARK_GRAFT_PLAIN_SESSION=1 runs the suite under the EXTERNAL
#: DRIVER's session shape instead of the tuned factory: Spark 4
#: defaults (ANSI ON, 200 shuffle partitions), UTC timezone only —
#: the driver-faithful preflight for the oracle sweep
#: (`SPARK_GRAFT_PLAIN_SESSION=1 SPARK_GRAFT_TEST_SF_DIR=... python -m
#: pytest tests/test_oracle.py -q`). Engine code must behave
#: identically (try_* parsers, no ANSI-sensitive expressions).
PLAIN_SESSION = os.environ.get("SPARK_GRAFT_PLAIN_SESSION") == "1"


@pytest.fixture(scope="session")
def spark():
    if PLAIN_SESSION:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.appName("ivdp-tests-plain")
            .master("local[8]")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark(app_name="ivdp-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def seed_table(spark):
    """``seed_table(sf_dir, name, df)`` makes ``read_table(spark,
    sf_dir, name)`` return ``df``: the frame goes into the shared-state
    store under the name ``read_table`` uses, and every seeded corpus
    is released at teardown."""
    from incubyte_vaccination_data_pipeline_spark.shared_cache import (
        release_shared_state,
        shared,
    )

    seeded = set()

    def seed(sf_dir, name, df):
        assert shared(spark, sf_dir, name, lambda: df) is df, "table already read"
        seeded.add(sf_dir)

    yield seed
    for sf_dir in seeded:
        release_shared_state(sf_dir)
