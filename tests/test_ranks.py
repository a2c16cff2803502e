"""Two-phase distributed ranking (operators/ranks.py): exact parity
with the single-window rank/ntile/percent_rank it replaces, plus the
plan contract the rewrite exists for — NO row-grain ranking window
without a partition spec (the ``WindowExec: No Partition Defined``
shape that funnels every row through one task at 100 TB)."""

from __future__ import annotations

import re

from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from big_data_song_recommendation_spark.operators.ranks import (
    bucketed_avg_rank,
    bucketed_cumsum,
    bucketed_rank,
    ntile_from_rank,
    with_equi_width_bucket,
)
from big_data_song_recommendation_spark.plans.queries import QUERIES

from .conftest import SF_DIR

_ROW_GRAIN_FN = re.compile(r"(row_number|ntile|percent_rank|\brank)\(")
_SPEC = re.compile(r"windowspecdefinition\((.*?)specifiedwindowframe")


def unpartitioned_rank_windows(plan: str) -> list[str]:
    """Window plan lines computing a row-grain rank function whose
    windowspecdefinition has NO partition columns (first spec arg is
    already an ordering term)."""
    bad = []
    for line in plan.splitlines():
        if "Window [" not in line or not _ROW_GRAIN_FN.search(line):
            continue
        m = _SPEC.search(line)
        if not m:
            continue
        first_arg = m.group(1).split(",")[0]
        if " ASC " in first_arg or " DESC " in first_arg:
            bad.append(line.strip()[:160])
    return bad


def _seeded(spark):
    """120 rows with heavy value ties across several groups."""
    rows = [
        Row(g=["a", "b", "c"][i % 3], v=float((i * 7) % 11), k=i)
        for i in range(120)
    ]
    return spark.createDataFrame(rows)


def test_bucketed_rank_matches_global_row_number(spark):
    df = _seeded(spark)
    w = Window.orderBy(F.col("v").asc(), F.col("k").asc())
    want = {
        (r.k, r.rn)
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    got = bucketed_rank(
        with_equi_width_bucket(df, "v", bins=4),
        [F.col("v").asc(), F.col("k").asc()],
        ["__vb"],
        out="rn",
    )
    assert {(r.k, r.rn) for r in got.collect()} == want


def test_bucketed_rank_rank_method_with_ties(spark):
    df = _seeded(spark).select("g", "v", "k")
    w = Window.orderBy(F.col("v").asc())
    want = {(r.k, r.rk) for r in df.withColumn("rk", F.rank().over(w)).collect()}
    got = bucketed_rank(
        with_equi_width_bucket(df, "v", bins=4),
        [F.col("v").asc()],
        ["__vb"],
        out="rk",
        method="rank",
    )
    assert {(r.k, r.rk) for r in got.collect()} == want


def test_grouped_percent_rank_parity(spark):
    df = _seeded(spark)
    w = Window.partitionBy("g").orderBy("v")
    want = {
        (r.k, r.p) for r in df.withColumn("p", F.percent_rank().over(w)).collect()
    }
    ranked = bucketed_rank(
        with_equi_width_bucket(df, "v", bins=4, group=["g"]),
        [F.col("v").asc()],
        ["__vb"],
        group=["g"],
        out="rk",
        method="rank",
    )
    n = df.groupBy("g").agg(F.count("*").alias("n"))
    got = ranked.join(n, "g").withColumn(
        "p",
        F.when(
            F.col("n") > 1,
            (F.col("rk") - 1).cast("double") / (F.col("n") - 1).cast("double"),
        ).otherwise(F.lit(0.0)),
    )
    assert {(r.k, r.p) for r in got.collect()} == want


def test_null_sort_keys_rank_first_not_dropped(spark):
    df = spark.createDataFrame(
        [Row(v=None, k=1), Row(v=2.0, k=2), Row(v=1.0, k=3), Row(v=None, k=4)]
    )
    got = bucketed_rank(
        with_equi_width_bucket(df, "v", bins=4),
        [F.col("v").asc(), F.col("k").asc()],
        ["__vb"],
        out="rn",
    )
    out = {(r.k, r.rn) for r in got.collect()}
    assert out == {(1, 1), (4, 2), (3, 3), (2, 4)}


def test_bucketed_cumsum_matches_window_sum(spark):
    df = _seeded(spark)
    w = (
        Window.partitionBy("g")
        .orderBy("v", "k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r.k, r.c)
        for r in df.withColumn("c", F.sum("v").over(w)).collect()
    }
    got = bucketed_cumsum(
        with_equi_width_bucket(df, "v", bins=4, group=["g"]),
        [F.col("v").asc(), F.col("k").asc()],
        ["__vb"],
        "v",
        group=["g"],
        out="c",
    )
    assert {(r.k, r.c) for r in got.collect()} == want


def test_bucketed_avg_rank_matches_window_form(spark):
    """Average-rank ties must equal rank() + (tie_count − 1)/2 from
    the single-window form — the definition Spearman/Mann-Whitney
    rest on."""
    df = _seeded(spark)
    w = Window.orderBy("v")
    wt = Window.partitionBy("v")
    want = {
        (r.k, r.ar)
        for r in df.withColumn(
            "ar", F.rank().over(w) + (F.count("*").over(wt) - 1) / 2.0
        ).collect()
    }
    got = bucketed_avg_rank(
        with_equi_width_bucket(df, "v", bins=4), "v", ["__vb"], out="ar"
    )
    assert {(r.k, r.ar) for r in got.collect()} == want


def test_null_group_rows_survive_grouped_rank(spark):
    """A NULL group key is a legal rank partition (window partitionBy
    groups NULLs together) — the bucket-stats join must not drop those
    rows."""
    df = spark.createDataFrame(
        [("a", 2.0, 1), ("a", 1.0, 2), (None, 3.0, 3), (None, 1.0, 4)],
        "g string, v double, k long",
    )
    w = Window.partitionBy("g").orderBy("v", "k")
    want = {
        (r.k, r.rn)
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    got = bucketed_rank(
        with_equi_width_bucket(df, "v", bins=4, group=["g"]),
        [F.col("v").asc(), F.col("k").asc()],
        ["__vb"],
        group=["g"],
        out="rn",
    )
    assert {(r.k, r.rn) for r in got.collect()} == want


def test_ntile_from_rank_matches_sql_ntile(spark):
    for n, tiles in ((37, 10), (40, 10), (5, 10), (9, 4), (1, 10)):
        df = spark.range(1, n + 1).select(F.col("id").alias("k"))
        w = Window.orderBy("k")
        want = {
            (r.k, r.t)
            for r in df.withColumn("t", F.ntile(tiles).over(w)).collect()
        }
        got = df.select(
            "k",
            ntile_from_rank(F.col("k"), F.lit(n).cast("long"), tiles).alias("t"),
        )
        assert {(r.k, r.t) for r in got.collect()} == want, (n, tiles)


def test_rewritten_queries_have_no_unpartitioned_rank_windows(spark):
    """q117/q99/q110/q108: the round-4 verdict's scale-killers — every
    row-grain ranking window must now carry a partition spec; the only
    unpartitioned windows left are prefix-sums over metadata-sized
    bucket/decile tables."""
    for q in (
        "q117_revenue_lorenz",
        "q99_revenue_gini",
        "q110_zipf_fit",
        "q108_value_percent_rank",
    ):
        plan = (
            QUERIES[q](spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        bad = unpartitioned_rank_windows(plan)
        assert not bad, f"{q}: unpartitioned rank window(s): {bad}"


def test_q115_no_fact_grain_window(spark):
    """q115 computes discrete percentiles on the (priority, days)
    count table: no row_number at all, and its one cumulative window
    is priority-partitioned."""
    plan = (
        QUERIES["q115_fulfillment_latency"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "row_number" not in plan
    assert not unpartitioned_rank_windows(plan)


def test_top_k_per_group_salted_parity(spark):
    from big_data_song_recommendation_spark.operators.aggregates import (
        top_k_per_group,
        top_k_per_group_salted,
    )

    df = _seeded(spark)
    want = {
        (r.g, r.k, r.rnk)
        for r in top_k_per_group(
            df, ["g"], [F.desc("v"), F.asc("k")], 5
        ).collect()
    }
    got = {
        (r.g, r.k, r.rnk)
        for r in top_k_per_group_salted(
            df,
            ["g"],
            [F.desc("v"), F.asc("k")],
            5,
            salt_col=F.xxhash64("k"),
            salt_buckets=7,
        ).collect()
    }
    assert got == want


def test_low_cardinality_rewrites_partition_on_salt_or_bucket(spark):
    """q05/q77 (salted top-k) and q28/q48 (grouped bucketed rank): the
    fact-grain window must be partitioned on more than the low-
    cardinality group key alone."""
    for q, marker in (
        ("q05_top_events_per_type", "__salt"),
        ("q77_corpus_bigrams", "__salt"),
        ("q28_value_percentiles", "__rb0"),
        ("q48_ntile_quartiles", "__rb0"),
    ):
        plan = (
            QUERIES[q](spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert marker in plan, f"{q}: expected {marker} in plan"
        assert not unpartitioned_rank_windows(plan), q


def test_equi_depth_bucket_rank_parity_on_skewed_values(spark):
    """Round-6: equi-depth buckets (approx_percentile edges) must feed
    bucketed_rank to the exact same global row_number as the window
    form, on a Pareto-ish value column where equi-width would pile
    ~everything into bin 0 — and the buckets must actually spread."""
    from big_data_song_recommendation_spark.operators.ranks import (
        with_equi_depth_bucket,
    )

    # heavy tail: v = 2^(i mod 20) with ties, plus a NULL row
    rows = [Row(v=float(2 ** (i % 20)), k=i) for i in range(400)]
    rows.append(Row(v=None, k=400))
    df = spark.createDataFrame(rows)
    w = Window.orderBy(F.col("v").asc(), F.col("k").asc())
    want = {
        (r.k, r.rn)
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    bucketed = with_equi_depth_bucket(df, "v", bins=16)
    got = bucketed_rank(
        bucketed,
        [F.col("v").asc(), F.col("k").asc()],
        ["__vb"],
        out="rn",
    )
    assert {(r.k, r.rn) for r in got.collect()} == want
    n_buckets = bucketed.select("__vb").distinct().count()
    assert n_buckets >= 8, f"equi-depth degenerated to {n_buckets} buckets"


def test_equi_depth_bucket_single_bin_degenerate(spark):
    """Regression: bins=1 has NO edges — the two-level coarse search
    built F.sequence(1, 0, 1) and threw; it must return one bucket
    (0 for values, NULL bin for NULLs) like the linear form did."""
    from big_data_song_recommendation_spark.operators.ranks import (
        with_equi_depth_bucket,
    )

    rows = [Row(v=float(i), k=i) for i in range(10)] + [Row(v=None, k=10)]
    got = with_equi_depth_bucket(
        spark.createDataFrame(rows), "v", bins=1
    ).collect()
    assert {r["__vb"] for r in got if r.v is not None} == {0}
    assert all(r["__vb"] is None for r in got if r.v is None)


def test_equi_depth_bucket_grouped_parity(spark):
    from big_data_song_recommendation_spark.operators.ranks import (
        with_equi_depth_bucket,
    )

    df = _seeded(spark)
    w = Window.partitionBy("g").orderBy(F.col("v").asc(), F.col("k").asc())
    want = {
        (r.k, r.rn)
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    got = bucketed_rank(
        with_equi_depth_bucket(df, "v", bins=8, group=["g"]),
        [F.col("v").asc(), F.col("k").asc()],
        ["__vb"],
        group=["g"],
        out="rn",
    )
    assert {(r.k, r.rn) for r in got.collect()} == want


def test_bucket_helpers_reject_string_keys(spark):
    """ADVICE r5: a string sort key casts to double as NULL — every
    row in one NULL bucket, the single-task shape again. Both bucket
    helpers must fail loudly instead."""
    import pytest

    from big_data_song_recommendation_spark.operators.ranks import (
        with_equi_depth_bucket,
    )

    df = spark.createDataFrame([Row(s="ab", k=1), Row(s="cd", k=2)])
    with pytest.raises(TypeError, match="numeric"):
        with_equi_width_bucket(df, "s")
    with pytest.raises(TypeError, match="numeric"):
        with_equi_depth_bucket(df, "s")


def test_ntile_boundaries_exact_beyond_double_precision(spark):
    """ADVICE r5: counts past 2^53 misplace tile-boundary rows under
    double division. _floordiv's long-exact correction must place the
    exact boundary ranks of a 2^60-row table correctly."""
    from big_data_song_recommendation_spark.operators.ranks import _floordiv

    n = 1 << 60
    tiles = 7
    base, rem = n // tiles, n % tiles
    # boundary ranks: last row of each of the first `rem` (big) tiles,
    # first/last rows of a late small tile, and the very last rank
    cases = []
    for t in range(1, rem + 1):
        last = t * (base + 1)
        cases += [(last, t), (last + 1, t + 1)]
    cases += [(n, tiles), (rem * (base + 1) + base, rem + 1)]
    df = spark.createDataFrame(
        [Row(rank=r, want=t) for r, t in cases]
    )
    got = df.select(
        "want",
        ntile_from_rank(
            F.col("rank"), F.lit(n).cast("long"), tiles
        ).alias("t"),
    ).collect()
    for r in got:
        assert r.t == r.want, (r.want, r.t)
    # _floordiv itself on quotients near the operand scale
    probe = spark.createDataFrame(
        [Row(a=(1 << 60) + 6, b=7), Row(a=(1 << 53) + 1, b=1), Row(a=0, b=5)]
    )
    vals = probe.select(
        "a", "b", _floordiv(F.col("a"), F.col("b")).alias("q")
    ).collect()
    for r in vals:
        assert r.q == r.a // r.b, (r.a, r.b, r.q)


def test_bucketed_rank_checkpoint_optout_parity(spark):
    """ADVICE r5: checkpoint=False must be a pure plan change — same
    ranks, no RDD checkpoint blocks pinned by the primitive."""
    df = _seeded(spark)
    base = bucketed_rank(
        with_equi_width_bucket(df, "v", bins=4),
        [F.col("v").asc(), F.col("k").asc()],
        ["__vb"],
        out="rn",
        checkpoint=False,
    )
    w = Window.orderBy(F.col("v").asc(), F.col("k").asc())
    want = {
        (r.k, r.rn)
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert {(r.k, r.rn) for r in base.collect()} == want
    cum = bucketed_cumsum(
        with_equi_width_bucket(df, "v", bins=4),
        [F.col("v").asc(), F.col("k").asc()],
        ["__vb"],
        F.lit(1),
        out="c",
        checkpoint=False,
    )
    assert cum.agg(F.max("c")).collect()[0][0] == df.count()


def test_string_prefix_bucket_skips_common_prefix(spark):
    """ADVICE r6: 'item_000001'-style catalogs share a long common
    prefix, so a fixed 2-char bucket degenerates to ONE bucket (one
    rank task).  with_string_prefix_bucket skips the LCP in-plan and
    must (a) spread buckets, (b) stay monotone: bucketed_rank equals
    the global string-order row_number."""
    from big_data_song_recommendation_spark.operators.ranks import (
        with_string_prefix_bucket,
    )

    ids = [f"item_{i:06d}" for i in range(0, 500, 7)]
    df = spark.createDataFrame([Row(item_id=s) for s in ids])
    bucketed = with_string_prefix_bucket(df, "item_id")
    n_buckets = bucketed.select("__vb").distinct().count()
    assert n_buckets > 1, "LCP skip failed: still one bucket"

    w = Window.orderBy(F.col("item_id").asc())
    want = {
        (r.item_id, r.rn)
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    got = bucketed_rank(
        bucketed, [F.col("item_id").asc()], ["__vb"], out="rn"
    )
    assert {(r.item_id, r.rn) for r in got.collect()} == want


def test_string_prefix_bucket_null_and_varied_keys(spark):
    from big_data_song_recommendation_spark.operators.ranks import (
        with_string_prefix_bucket,
    )

    # no common prefix at all + a NULL + one id that IS the LCP
    ids = ["alpha", "beta", "gamma", "a", None, "alphabet"]
    df = spark.createDataFrame([Row(item_id=s) for s in ids])
    bucketed = with_string_prefix_bucket(df, "item_id")
    rows = {r["item_id"]: r["__vb"] for r in bucketed.collect()}
    assert rows[None] is None, "NULL key must get the NULL bucket"
    w = Window.orderBy(F.col("item_id").asc_nulls_first())
    want = {
        (r.item_id, r.rn)
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    got = bucketed_rank(
        bucketed,
        [F.col("item_id").asc_nulls_first()],
        ["__vb"],
        out="rn",
    )
    assert {(r.item_id, r.rn) for r in got.collect()} == want
