"""Shared fixtures: one SparkSession per test run, a DuckDB connection
with the testdata views registered, and the oracle-parity assertion
built on ``scripts/oracle_sweep.py``'s one normalizer and comparator
(same columns, same row count, order-insensitive value equality)."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

from big_data_song_recommendation_spark.session import get_spark
from big_data_song_recommendation_spark.sources.readers import TESTDATA_TABLES

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
)

from oracle_sweep import compare, normalize  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # a per-run warehouse: managed tables a killed run left behind can
    # no longer collide (LOCATION_ALREADY_EXISTS) with the next run's
    spark = get_spark(
        "tests",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse"))
        },
    )
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def assert_matches_oracle(spark_df, duck_con, sql: str, name: str = "") -> None:
    """Fail on any column, row-count or value mismatch (``compare``)."""
    got = normalize(spark_df.toPandas())
    want = normalize(duck_con.execute(sql).df())
    diff = compare(got, want)
    assert diff is None, f"{name}: {diff}"
