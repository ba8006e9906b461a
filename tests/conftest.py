"""Shared fixtures: one SparkSession per test run, DuckDB oracle connections."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from filesql_spark.session import get_spark  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from filesql_spark.json1 import register_udfs

    spark = get_spark(app_name="filesql_spark_tests")
    # dialect.rewrite() output calls the session functions an engine
    # registers; tests that run it on the bare session need them too
    register_udfs(spark)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_ORACLE


@pytest.fixture(scope="session")
def duck(sf_dir):
    from tests.compare import duckdb_conn

    con = duckdb_conn(sf_dir)
    yield con
    con.close()
