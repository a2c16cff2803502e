"""Partitioned parquet sinks: layout, round-trip, and the partition-
pruning contract (a date filter must prune to matching directories)."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_song_recommendation_spark.sources import sinks
from big_data_song_recommendation_spark.sources.bucketing import write_bucketed
from big_data_song_recommendation_spark.sources.readers import load_table

from .conftest import SF_DIR


def test_events_by_day_roundtrip_and_pruning(spark, tmp_path):
    ev = load_table(spark, SF_DIR, "events")
    out = str(tmp_path / "events_lake")
    sinks.write_events_by_day(ev, out)

    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    n_days = back.select("event_date").distinct().count()
    assert n_days >= 2, "fixture spans multiple days"

    one_day = back.select("event_date").orderBy("event_date").first()["event_date"]
    filtered = back.filter(F.col("event_date") == F.lit(one_day))
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    # the date predicate must land in PartitionFilters (directory
    # pruning), NOT in PushedFilters (row-group skipping)
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "event_date" in pf
    assert filtered.count() == ev.filter(F.to_date("ts") == F.lit(one_day)).count()


def test_csv_json_roundtrip(spark, tmp_path):
    df = load_table(spark, SF_DIR, "region")
    sinks.write_csv(df, str(tmp_path / "r_csv"))
    sinks.write_json(df, str(tmp_path / "r_json"))
    csv_back = spark.read.option("header", True).csv(str(tmp_path / "r_csv"))
    json_back = spark.read.json(str(tmp_path / "r_json"))
    assert csv_back.count() == df.count()
    assert json_back.count() == df.count()
    assert set(json_back.columns) == set(df.columns)


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    from big_data_song_recommendation_spark.sources.readers import read_orc

    df = load_table(spark, SF_DIR, "customer")
    out = str(tmp_path / "cust_orc")
    sinks.write_orc(df, out)
    back = read_orc(spark, out)
    assert back.count() == df.count()
    assert back.schema == df.schema
    plan = (
        back.filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_mktsegment")
        ._jdf.queryExecution().executedPlan().toString()
    )
    # predicate + projection reach the ORC scan like parquet
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)]" in plan


def test_export_training_shards_contiguous_sorted(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents")
    out = str(tmp_path / "shards")
    sinks.export_training_shards(docs, out, order_by="doc_id", n_shards=4)

    man = sinks.shard_manifest(spark, out, key="doc_id").collect()
    assert len(man) == 4
    assert sum(r.n_rows for r in man) == docs.count()
    # shards are disjoint contiguous ranges: sort by key_min, each
    # min must exceed the previous max
    ordered = sorted(man, key=lambda r: r.key_min)
    for prev, cur in zip(ordered, ordered[1:]):
        assert prev.key_max < cur.key_min
    # and each shard file is internally sorted on the key
    one = spark.read.parquet(out + "/" + ordered[0].file)
    vals = [r.doc_id for r in one.collect()]
    assert vals == sorted(vals)
    # no NULL keys in this corpus; audit column present and zero
    assert all(r.n_null_keys == 0 for r in man)


def test_export_training_shards_null_keys_fail_closed(spark, tmp_path):
    """Default null_keys='fail': a NULL order_by key aborts the write
    instead of silently polluting the first shard's range audit."""
    import pytest
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_DIR, "documents").withColumn(
        "doc_id",
        F.when(F.col("doc_id") % 97 == 0, F.lit(None)).otherwise(F.col("doc_id")),
    )
    with pytest.raises(Exception, match="export_training_shards|USER_RAISED"):
        sinks.export_training_shards(
            docs, str(tmp_path / "bad"), order_by="doc_id", n_shards=4
        )


def test_export_training_shards_null_keys_opt_in_audited(spark, tmp_path):
    """null_keys='first_shard': write succeeds and the manifest counts
    the NULL keys in the first shard so the audit isn't misled."""
    from pyspark.sql import functions as F

    docs = load_table(spark, SF_DIR, "documents").withColumn(
        "doc_id",
        F.when(F.col("doc_id") % 97 == 0, F.lit(None)).otherwise(F.col("doc_id")),
    )
    out = str(tmp_path / "nullable")
    sinks.export_training_shards(
        docs, out, order_by="doc_id", n_shards=4, null_keys="first_shard"
    )
    man = sinks.shard_manifest(spark, out, key="doc_id").collect()
    n_nulls = docs.filter(F.col("doc_id").isNull()).count()
    assert n_nulls > 0
    assert sum(r.n_null_keys for r in man) == n_nulls
    assert sum(r.n_rows for r in man) == docs.count()


def test_bucketed_join_needs_no_shuffle(spark, tmp_path):
    """Co-bucketed tables joined on the bucket key: the plan must show
    NO Exchange on either join side (the shuffle happened at write)."""
    import uuid

    # warehouse dir is a static conf; unique names + DROP TABLE (which
    # purges managed files) keep the default warehouse clean
    suffix = uuid.uuid4().hex[:8]
    t1, t2 = f"orders_b_{suffix}", f"li_b_{suffix}"
    orders = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    write_bucketed(orders, t1, "o_orderkey", n_buckets=8, sort=False)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), t2, "o_orderkey",
        n_buckets=8, sort=False,
    )
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # small-SF sides would broadcast, hiding the bucket path; the
        # scenario under test is two tables too big to broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(t1).join(spark.table(t2), "o_orderkey").groupBy(
            "o_orderstatus"
        ).count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        join_part = plan.split("Join")[1] if "Join" in plan else plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # no Exchange between the scans and the join: bucket layout is
        # reused (the only exchange allowed is the final groupBy's)
        pre_join = plan.split("SortMergeJoin")[-1] if "SortMergeJoin" in plan else plan.split("ShuffledHashJoin")[-1]
        assert "Exchange hashpartitioning(o_orderkey" not in pre_join
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql(f"DROP TABLE IF EXISTS {t1}")
        spark.sql(f"DROP TABLE IF EXISTS {t2}")


def test_dynamic_partition_pruning_on_lake(spark, tmp_path):
    """DPP: joining the date-partitioned lake against a filtered
    broadcast dim prunes partitions at RUNTIME (dynamicpruning
    subquery in the scan), so a 2-day dim touches 2 directories of a
    multi-day lake."""
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_DIR, "events")
    out = str(tmp_path / "lake")
    sinks.write_events_by_day(ev, out)
    lake = spark.read.parquet(out)
    days = [r["event_date"] for r in lake.select("event_date").distinct().collect()]
    assert len(days) >= 3
    # DPP plans the pruning subquery only when the dim side carries a
    # filter (otherwise there is nothing dynamic to derive)
    dim = spark.createDataFrame(
        [(d, "keep" if i < 2 else "drop") for i, d in enumerate(sorted(days))],
        ["event_date", "tag"],
    ).filter(F.col("tag") == "keep")
    joined = lake.join(F.broadcast(dim), "event_date").groupBy("tag").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "no DPP subquery in the scan"
    assert joined.first()["count"] == lake.filter(
        F.col("event_date").isin(sorted(days)[:2])
    ).count()


def test_batchfile_datasource_reads_reference_format(spark, tmp_path):
    """The recbatch Python DataSource flattens reference-format batch
    JSON blobs (src/streaming_service.py:320-344 shape) into interaction
    rows with batch lineage, one input partition per file."""
    import json

    from big_data_song_recommendation_spark.sources import BatchFileDataSource

    d = tmp_path / "batches"
    d.mkdir()
    for b in range(3):
        blob = {
            "batch_id": f"batch_{b:06d}",
            "timestamp": f"2024-01-01T12:{b:02d}:00",
            "size": 2,
            "interactions": [
                {
                    "user_id": 10 * b + i,
                    "track_id": f"trk_{i}",
                    "rating": 3.5 + i,
                    "action": "play",
                    "play_duration_ms": 1000 * (i + 1),
                    "timestamp": f"2024-01-01T12:{b:02d}:{i:02d}",
                }
                for i in range(2)
            ],
            "ui_summary": {"avg_rating": 4.0},
        }
        (d / f"batch_{b:06d}_ts.json").write_text(json.dumps(blob))

    spark.dataSource.register(BatchFileDataSource)
    df = spark.read.format("recbatch").option("path", str(d)).load()
    assert df.rdd.getNumPartitions() == 3, "one partition per batch file"
    rows = df.collect()
    assert len(rows) == 6
    by_key = {(r["batch_id"], r["user_id"]): r for r in rows}
    r = by_key[("batch_000001", 11)]
    assert r["track_id"] == "trk_1" and r["rating"] == 4.5
    assert r["play_duration_ms"] == 2000 and r["action"] == "play"
    assert r["ts"].minute == 1 and r["ts"].second == 1
    assert r["batch_ts"].minute == 1 and r["batch_ts"].second == 0
    # and it's a real DataFrame: aggregates/joins compose on top
    agg = df.groupBy("batch_id").count().collect()
    assert all(x["count"] == 2 for x in agg)


def test_batchfile_datasource_streaming_discovery(spark, tmp_path):
    """Streaming recbatch: new batch files are discovered and consumed
    exactly once via the checkpointed last-filename offset — the
    reference's raw/processed-dir diff without marker copies."""
    import json

    from big_data_song_recommendation_spark.sources import BatchFileDataSource

    d = tmp_path / "stream_batches"
    d.mkdir()

    def write_batch(b: int) -> None:
        blob = {
            "batch_id": f"batch_{b:06d}",
            "timestamp": f"2024-01-01T12:{b:02d}:00",
            "interactions": [
                {"user_id": 10 * b + i, "track_id": f"trk_{i}", "rating": 4.0,
                 "action": "play", "play_duration_ms": 500,
                 "timestamp": f"2024-01-01T12:{b:02d}:{i:02d}"}
                for i in range(2)
            ],
        }
        (d / f"batch_{b:06d}_ts.json").write_text(json.dumps(blob))

    write_batch(0)
    write_batch(1)
    spark.dataSource.register(BatchFileDataSource)
    stream = spark.readStream.format("recbatch").option("path", str(d)).load()
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("recbatch_stream_out")
        .option("checkpointLocation", str(tmp_path / "ck_rb"))
        .start()
    )
    q.processAllAvailable()
    assert spark.sql("SELECT COUNT(*) c FROM recbatch_stream_out").first()["c"] == 4
    write_batch(2)  # arrives mid-stream
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(
        "SELECT batch_id, COUNT(*) n FROM recbatch_stream_out GROUP BY batch_id"
    ).collect()
    assert {r["batch_id"]: r["n"] for r in rows} == {
        "batch_000000": 2, "batch_000001": 2, "batch_000002": 2,
    }, "each file consumed exactly once"


def test_batchfile_datasource_prunes_files_on_pushed_filter(spark, tmp_path):
    """A pushed batch_id predicate prunes whole FILES (the id is the
    filename prefix) — partitions shrink to the matching file, and
    results are identical to the unpruned read + filter."""
    import json

    from big_data_song_recommendation_spark.sources import BatchFileDataSource

    d = tmp_path / "pruned_batches"
    d.mkdir()
    for b in range(4):
        blob = {
            "batch_id": f"batch_{b:06d}",
            "timestamp": f"2024-01-01T12:{b:02d}:00",
            "interactions": [
                {"user_id": b, "track_id": "t", "rating": 1.0, "action": "play",
                 "play_duration_ms": 1, "timestamp": f"2024-01-01T12:{b:02d}:01"}
            ],
        }
        (d / f"batch_{b:06d}_ts.json").write_text(json.dumps(blob))

    spark.dataSource.register(BatchFileDataSource)
    base = spark.read.format("recbatch").option("path", str(d))
    one = base.load().filter(F.col("batch_id") == "batch_000002")
    assert one.rdd.getNumPartitions() == 1, "pruned to the matching file"
    rows = one.collect()
    assert len(rows) == 1 and rows[0]["user_id"] == 2
    both = base.load().filter(
        F.col("batch_id").isin("batch_000001", "batch_000003")
    )
    assert both.rdd.getNumPartitions() == 2
    assert sorted(r["user_id"] for r in both.collect()) == [1, 3]


def test_batchfile_datasource_write_read_roundtrip(spark, tmp_path):
    """Writer side: a DataFrame of interaction rows lands as reference-
    format batch JSON (one file per batch_id after repartitioning by
    it), and reading it back yields the same rows."""
    from datetime import datetime

    from big_data_song_recommendation_spark.sources import (
        BatchFileDataSource,
        batchfile_source,
    )

    spark.dataSource.register(BatchFileDataSource)
    rows = [
        (f"batch_{b:06d}", datetime(2024, 1, 1, 12, b, 0), 10 * b + i,
         f"trk_{i}", 2.0 + i, "play", 100 * (i + 1),
         datetime(2024, 1, 1, 12, b, i))
        for b in range(2)
        for i in range(3)
    ]
    df = spark.createDataFrame(rows, batchfile_source.BATCH_INTERACTION_SCHEMA)
    out = str(tmp_path / "written_batches")
    (
        df.repartition(2, "batch_id")
        .write.format("recbatch")
        .option("path", out)
        .mode("append")
        .save()
    )
    import os

    names = sorted(os.listdir(out))
    assert len(names) == 2 and all(n.endswith(".json") for n in names)
    back = spark.read.format("recbatch").option("path", out).load()
    got = {
        (r["batch_id"], r["user_id"], r["track_id"], r["rating"],
         r["play_duration_ms"], r["ts"])
        for r in back.collect()
    }
    want = {(r[0], r[2], r[3], r[4], r[6], r[7]) for r in rows}
    assert got == want
