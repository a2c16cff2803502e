"""Physical-plan shape checks — the scale contract, asserted.

Correctness tests prove the answers; these prove the PLANS stay the
ones that survive a 100× scale-up: dimension joins broadcast (fact
side never shuffles for lookups), filters and projections reach the
parquet scan, and hot paths stay inside whole-stage codegen."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_song_recommendation_spark.plans.queries import QUERIES
from big_data_song_recommendation_spark.sources.readers import load_table

from .conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dimension_joins_broadcast(spark):
    """q03 (region→nation→customer→orders→lineitem): every dim join is
    a broadcast; the fact table is never shuffled for a lookup."""
    plan = _plan(QUERIES["q03_region_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_filter_and_projection_pushdown(spark):
    """Predicate + column pruning reach the parquet scan: PushedFilters
    carries the equality, ReadSchema carries ONLY the used columns."""
    ev = load_table(spark, SF_DIR, "events")
    df = ev.filter(F.col("event_type") == "click").select("user_id", "event_type")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "user_id" in read_schema and "event_type" in read_schema
    assert "props" not in read_schema and "value" not in read_schema


def test_q01_scan_prunes_unused_columns(spark):
    plan = _plan(QUERIES["q01_pricing_summary"](spark, SF_DIR))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # 11-column lineitem: the pricing summary needs 7; the scan must
    # not read the join keys it never touches
    assert "l_partkey" not in read_schema
    assert "l_suppkey" not in read_schema
    assert "l_orderkey" not in read_schema


def test_results_have_no_single_partition_funnel(spark):
    """Query results carry no presentation order: no all-to-one
    exchange gathers a bounded result just to sort it for display
    (plans/r13/q01_before.txt and q22_before.txt show the funnel)."""
    for q in ("q01_pricing_summary", "q22_doc_quality"):
        plan = _plan(QUERIES[q](spark, SF_DIR))
        assert "Exchange SinglePartition" not in plan, q


def test_no_interpreted_folds_on_pair_joins(spark):
    """Pair-join similarity must be codegen arithmetic: Catalyst
    higher-order functions (aggregate/zip_with) evaluate interpreted
    per element and are banned from O(n²) paths
    (vectors.dot_expanded contract — 139.7s → 0.9s at sf0.1)."""
    for q in ("q16_knn_cosine", "q21_embedding_dup_pairs"):
        plan = _plan(QUERIES[q](spark, SF_DIR))
        assert "zip_with" not in plan, f"{q}: interpreted fold on pair path"


def test_knn_probe_side_broadcast(spark):
    """brute_force_knn broadcasts the probe set: one corpus pass."""
    plan = _plan(QUERIES["q16_knn_cosine"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_exact_dedup_single_shuffle(spark):
    """q15 exact dedup: one hash-partition exchange (the window), no
    extra repartitions or joins."""
    plan = _plan(QUERIES["q15_doc_exact_dedup"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1


def test_q51_all_filters_pushed_to_scan(spark):
    """Q6-shape range predicates (date/discount/quantity) must all
    reach the parquet scan as PushedFilters."""
    plan = _plan(QUERIES["q51_forecast_revenue"](spark, SF_DIR))
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed, f"{frag} not pushed: {pushed}"


def test_tpch_suite_joins_never_shuffle_fact_for_dims(spark):
    """q55-q57 (TPC-H Q5/Q7/Q8 shapes): at any SF where a dimension fits
    the broadcast threshold, every join must be a broadcast hash join —
    the fact table shuffles only for the final aggregate."""
    for q in (
        "q55_local_supplier_volume",
        "q56_bilateral_shipping",
        "q57_national_market_share",
    ):
        plan = _plan(QUERIES[q](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, q
        assert "SortMergeJoin" not in plan, f"{q}: fact shuffled for a dim join"
        assert "CartesianProduct" not in plan, q


def test_q58_fact_filters_pushed_and_topk_never_global_sorts(spark):
    """TPC-H Q10 shape: both fact filters reach their scans, and the
    top-20 runs as TakeOrderedAndProject (per-partition heap + merge),
    never a global sort of the aggregate."""
    plan = _plan(QUERIES["q58_returned_item_revenue"](spark, SF_DIR))
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThanOrEqual(o_orderdate,1996-01-01" in plan
    assert "TakeOrderedAndProject" in plan


def test_q61_reduces_fact_before_touching_orders(spark):
    """TPC-H Q18 shape: the >300-unit HAVING shrinks lineitem to a few
    qualifying orders BEFORE the orders/customer joins — at 100 TB the
    per-order aggregate is the only full-fact shuffle. The qualifying
    set is then small enough that AQE broadcasts it into orders."""
    plan = _plan(QUERIES["q61_large_volume_customers"](spark, SF_DIR))
    agg_pos = plan.index("Exchange hashpartitioning(l_orderkey")
    join_pos = plan.index("Join")
    assert agg_pos > join_pos  # plan prints top-down: agg sits BELOW (inside) the join
    assert "TakeOrderedAndProject" in plan


def test_q62_disjunct_common_brand_filter_pushed(spark):
    """TPC-H Q19 shape: the brand disjunct common to both OR arms is
    pushed to the part scan; only per-arm residuals evaluate post-join."""
    plan = _plan(QUERIES["q62_brand_quantity_revenue"](spark, SF_DIR))
    assert "In(p_brand, [Brand#19,Brand#4])" in plan or "In(p_brand, [Brand#4,Brand#19])" in plan


def test_runtime_bloom_filter_engages_when_dims_cannot_broadcast(spark):
    """The 100 TB contingency: when a filtered creation side is too big
    to broadcast (forced here via threshold=-1), Spark's runtime
    bloom-filter rule must inject a semi-join reduction on the fact scan
    side. Size-gated by applicationSideScanSizeThreshold (10 GB default,
    lowered here because sf0.1 is tiny) — verifying the rule fires on
    our join shapes, selectively: q61 has no selective creation-side
    filter, so it must NOT get a bloom filter."""
    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    try:
        def bloom(q):
            opt = QUERIES[q](spark, SF_DIR)._jdf.queryExecution().optimizedPlan().toString()
            return "bloom_filter" in opt or "might_contain" in opt

        assert bloom("q55_local_supplier_volume")
        assert bloom("q58_returned_item_revenue")
        assert not bloom("q61_large_volume_customers")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )


def test_group_split_is_pure_projection(spark):
    """q96's split assignment must add ZERO exchanges — it is a hash
    expression, not a shuffle (the whole point vs randomSplit-then-
    join repair)."""
    from big_data_song_recommendation_spark.operators.quality import (
        group_split,
    )

    ev = load_table(spark, SF_DIR, "events")
    plan = _plan(group_split(ev.select("user_id", "value"), "user_id"))
    assert "Exchange" not in plan


def test_chunk_dedup_single_data_shuffle(spark):
    """q84: chunking stays in the scan projection; the ONLY
    data-dependent exchange is the chunk-hash window."""
    from big_data_song_recommendation_spark.operators.dedup import chunk_dedup

    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(chunk_dedup(docs, "doc_id", "text"))
    assert plan.count("Exchange hashpartitioning") == 1


def test_pack_sequences_single_stratum_shuffle(spark):
    """q93: one stratum-keyed window exchange, nothing else."""
    from big_data_song_recommendation_spark.operators.quality import (
        pack_sequences,
    )

    docs = load_table(spark, SF_DIR, "documents").select(
        "lang", "doc_id", F.length("text").alias("n")
    )
    plan = _plan(pack_sequences(docs, "lang", "doc_id", "n", budget=1000))
    assert plan.count("Exchange hashpartitioning") == 1


def test_triangle_closing_edge_is_semi_join(spark):
    """q100: the closing-edge membership test must plan as a semi
    join (existence), never materializing triangle tuples."""
    from big_data_song_recommendation_spark.operators.graph import (
        triangle_count,
    )

    edges = spark.createDataFrame(
        [(a, b) for a in range(6) for b in range(a + 1, 6)], ["src", "dst"]
    )
    plan = _plan(triangle_count(edges))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_injects_on_selective_fact_join(spark):
    """100 TB contract: when a join's build side is filtered-selective
    and too big to broadcast, Spark's runtime bloom filter must inject
    on the probe side (bloom_filter_agg on the build keys + might_contain
    pre-filtering the fact scan) — the row-level runtime pruning that
    keeps shuffled fact-fact joins viable at scale. Verified under
    test-scale thresholds; the conf is the session default upstream."""
    import pyspark.sql.functions as F

    tweaks = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".creationSideThreshold": "104857600",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "false",
    }
    # getOrCreate reuses the shared fixture session: save + restore so
    # later tests see the session defaults again
    saved = {k: spark.conf.get(k, None) for k in tweaks}
    for k, v in tweaks.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, SF_DIR, "lineitem")
        orders = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderpriority")
            .count()
        )
        plan = _plan(j)
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_approx_profile_medians_are_sketches(spark):
    """approximate=True is the declared 100 TB mode: every aggregate in
    its single pass must hold bounded state. Exact F.percentile buffers
    the whole column per aggregate, so the approx plan must carry the
    GK percentile_approx sketch instead (r6 fix)."""
    from big_data_song_recommendation_spark.operators.profile import (
        profile_columns,
    )

    df = spark.range(100).selectExpr("id AS a", "CAST(id AS DOUBLE) AS v")
    approx = _plan(profile_columns(df, approximate=True))
    assert "approx_percentile" in approx or "percentile_approx" in approx
    # the exact-median aggregate must NOT appear in the approx pass
    assert "percentile(" not in approx.replace("approx_percentile(", "")
    exact = _plan(profile_columns(df))
    assert "percentile(" in exact.replace("approx_percentile(", "")


def test_q130_single_orders_scan(spark):
    """Cohort LTV derives the cohort month from a custkey window ON the
    customer-month aggregate — one orders scan, not a second
    scan+groupBy+join (r6 rewrite). The cohort window partitions on the
    high-cardinality custkey, so no single-task funnel either."""
    plan = _plan(QUERIES["q130_cohort_ltv"](spark, SF_DIR))
    assert plan.count("FileScan parquet") == 1
