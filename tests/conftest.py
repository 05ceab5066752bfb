from __future__ import annotations

import os

import duckdb
import pytest

from reactive_kinesis_spark.session import get_spark
from reactive_kinesis_spark.tables import TABLES, table_path

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="rks-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(SF_DIR, name)}')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
