from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
REFERENCE_OUTPUT = "/root/reference/output"


@pytest.fixture(scope="session")
def spark():
    from bigbookapi_etl_with_airflow_and_snowflake_spark.session import get_spark

    spark = get_spark(app_name="tests", shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def reliable_tier_run(sf_dir, tmp_path_factory):
    """The ``reliable_tier.py`` cases computed once in a child session
    built with ``spark.checkpoint.dir`` (see that module)."""
    from reliable_tier import run_child

    return run_child(tmp_path_factory.mktemp("reliable_tier"), sf_dir)
