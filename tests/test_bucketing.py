"""Bucketed co-located joins: the write-once-shuffle-never layout.
The assertion is on the PHYSICAL PLAN — zero Exchange operators in the
bucketed fact⋈fact join — because that elision is the entire point."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_song_recommendation_spark.sources import bucketing
from big_data_song_recommendation_spark.sources.readers import load_table

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = load_table(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate", "o_totalprice"
    )
    bucketing.write_bucketed(li, "b_lineitem", "l_orderkey", n_buckets=4)
    bucketing.write_bucketed(orders, "b_orders", "l_orderkey", n_buckets=4)
    yield "b_lineitem", "b_orders"
    for t in ("b_lineitem", "b_orders"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    # at test scale the planner rightly prefers broadcasting the tiny
    # side (and disables bucketing); force the big-fact-join regime the
    # layout exists for, where elision means no Exchange AT ALL
    lt, rt = bucketed_tables
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(lt).join(spark.table(rt), "l_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
    assert "SortMergeJoin" in plan


def test_unbucketed_join_does_exchange(spark, bucketed_tables):
    # control: the same join from plain parquet scans shuffles
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plan = li.join(orders, "l_orderkey")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan


def test_bucketed_join_matches_plain_join(spark, bucketed_tables):
    lt, rt = bucketed_tables
    got = (
        spark.table(lt)
        .join(spark.table(rt), "l_orderkey")
        .agg(
            F.count("*").alias("n"),
            F.sum("l_quantity").cast("long").alias("qty"),
        )
        .collect()[0]
    )
    li = load_table(spark, SF_DIR, "lineitem")
    orders = load_table(spark, SF_DIR, "orders")
    want = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .agg(
            F.count("*").alias("n"),
            F.sum("l_quantity").cast("long").alias("qty"),
        )
        .collect()[0]
    )
    assert (got["n"], got["qty"]) == (want["n"], want["qty"])


def test_bucketed_groupby_skips_shuffle(spark, bucketed_tables):
    # aggregation on the bucket key also rides the layout
    lt, _ = bucketed_tables
    plan = (
        spark.table(lt)
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
