from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_scd_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark("hive_scd_spark-tests", shuffle_partitions=4)
    yield spark


@pytest.fixture()
def avro_lite_only(monkeypatch):
    """Route read_avro past the Hive SerDe to the avro_lite decoder."""
    from hive_scd_spark.sources import avro

    monkeypatch.setattr(avro, "_read_serde", lambda *a: None)


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
