from __future__ import annotations

import os
import uuid

import duckdb
import pytest

from bigdata_elephant_spark.session import get_spark

SF_SMOKE = os.environ.get("ELEPHANT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    s = get_spark("elephant-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)``: the Spark jobs ``fn()`` runs, counted by the
    status tracker under a job group of its own."""

    def count(fn) -> int:
        sc = spark.sparkContext
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "job budget")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with the testdata tables registered as views
    (mirrors the driver's oracle harness)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()
