from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_ingestion_poc_spark.session import get_spark, scoped_conf

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"
SHUFFLE_PARTITIONS = 8


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="dip-tests", shuffle_partitions=SHUFFLE_PARTITIONS)
    yield s


def module_spark(shuffle_partitions: int):
    """A module's `spark` fixture: the shared session with its shuffle
    partitions set to `shuffle_partitions` for that module's tests and
    restored when the module ends, so no module changes the session
    the modules after it see."""

    @pytest.fixture(scope="module")
    def spark(spark):
        conf = {"spark.sql.shuffle.partitions": str(shuffle_partitions)}
        with scoped_conf(spark, conf):
            yield spark

    return spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
