"""Shared fixtures: one SparkSession per test run, a DuckDB connection
with the testdata views registered, and the oracle-parity comparator
that mirrors the driver's check (row count + schema-compatible columns
+ order-insensitive value equality, columns sorted by name)."""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
import pytest

from big_data_song_recommendation_spark.session import get_spark
from big_data_song_recommendation_spark.sources.readers import TESTDATA_TABLES

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


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize cell values, sort rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            df[c] = col.dt.tz_localize(None).dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif col.dtype == object:
            df[c] = col.map(lambda v: str(v))
        elif pd.api.types.is_float_dtype(col):
            # exact parity expected (queries round in-plan); repr keeps
            # full precision so genuine drift still fails loudly
            df[c] = col.map(lambda v: "NaN" if v is None or math.isnan(v) else repr(float(v)))
        else:
            df[c] = col.map(lambda v: str(v))
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def assert_matches_oracle(spark_df, duck_con, sql: str, name: str = "") -> None:
    got = _normalize(spark_df.toPandas())
    want = _normalize(duck_con.execute(sql).df())
    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch {list(got.columns)} vs {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    if not got.equals(want):
        diff_mask = (got != want).any(axis=1)
        raise AssertionError(
            f"{name}: value mismatch on {int(diff_mask.sum())}/{len(got)} rows\n"
            f"spark:\n{got[diff_mask].head(10)}\n"
            f"oracle:\n{want[diff_mask].head(10)}"
        )
