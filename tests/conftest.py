from __future__ import annotations

import os

import pytest

from datafusion_impl_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("datafusion_impl_spark-tests")
    yield spark


@pytest.fixture(scope="session")
def registry_audit(spark) -> dict[str, list]:
    """Plan-audit problems and input files over every registered query, each
    query built once per session and shared by the registry-wide tests."""
    from tests.test_plan_audit import audit_registry

    return audit_registry(spark)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the testdata tables registered as views,
    mirroring the driver's oracle harness."""
    import duckdb

    con = duckdb.connect()
    from datafusion_impl_spark.sources.registry import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()
