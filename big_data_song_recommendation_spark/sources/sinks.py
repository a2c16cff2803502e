"""Batch sinks (SURVEY.md §2.1 S10-S11, §4 item 5).

The reference wrote flat CSV/JSON files from Python loops
(``src/streaming/kafka_consumer.py:66-110``,
``src/streaming_service.py:384-398``). The engine's canonical sink is
partitioned parquet: partition pruning turns date-range scans into
file skips, and writers scale with the cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    mode: str = "append",
) -> None:
    """Parquet sink, optionally hive-partitioned. Use low-cardinality
    partition columns only (a date, not an id): each distinct value is
    a directory, and the planner prunes unscanned ones."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_events_by_day(df: DataFrame, path: str, *, ts_col: str = "ts") -> None:
    """The events-lake layout: one partition per event day. Queries
    filtering on ``event_date`` scan only matching directories
    (PartitionFilters in the plan, zero data files touched outside the
    range)."""
    write_parquet(
        df.withColumn("event_date", F.to_date(F.col(ts_col))),
        path,
        partition_by=["event_date"],
    )


def write_orc(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """ORC sink — Spark-native columnar alternative for consumers
    standardized on the Hive/Trino toolchain. Same pushdown/pruning
    behavior as parquet from Spark's side."""
    df.write.mode(mode).orc(path)


def export_training_shards(
    df: DataFrame,
    path: str,
    *,
    order_by: str,
    n_shards: int,
    mode: str = "overwrite",
    null_keys: str = "fail",
) -> None:
    """Training-corpus export: ``n_shards`` parquet files globally
    RANGE-partitioned and sorted on ``order_by`` — shard k holds a
    contiguous, internally-sorted key range, so a downstream trainer
    can stream shards in order (or sample shards independently)
    without re-sorting.

    ``repartitionByRange`` samples the key once to pick balanced split
    points (one pass, same mechanism as a global sort) and the
    per-shard sort happens map-side in the writer — no extra shuffle
    beyond the one the layout requires. At 100 TB pick
    ``n_shards`` ≈ total/target-file-size; each shard writes in
    parallel from its own task.

    Output-count contract (ADVICE r2): the export may produce FEWER
    than ``n_shards`` files — a range partition that receives no rows
    writes no file (duplicate-heavy keys or tiny inputs collapse
    ranges). Consumers must list the directory, not assume the count.

    NULL ``order_by`` keys all range-partition into the FIRST shard
    and would make that shard's manifest min/max NULL, silently
    breaking the disjoint-contiguous audit — so by default
    (``null_keys="fail"``) they fail the write in-plan via a
    ``raise_error`` projection (no extra pass). Pass
    ``null_keys="first_shard"`` to accept them knowingly;
    :func:`shard_manifest` reports them per-file as ``n_null_keys``.
    """
    if null_keys not in ("fail", "first_shard"):
        raise ValueError(f"null_keys must be 'fail'|'first_shard', got {null_keys!r}")
    if null_keys == "fail":
        guard = F.when(
            F.col(order_by).isNull(),
            F.raise_error(
                F.lit(
                    f"export_training_shards: NULL {order_by} key; drop or "
                    "fill NULLs upstream, or pass null_keys='first_shard'"
                )
            ).cast(dict(df.dtypes)[order_by]),
        ).otherwise(F.col(order_by))
        df = df.withColumn(order_by, guard)
    (
        df.repartitionByRange(n_shards, F.col(order_by))
        .sortWithinPartitions(order_by)
        .write.mode(mode)
        .parquet(path)
    )


def export_shuffled_shards(
    df: DataFrame,
    path: str,
    *,
    id_col: str,
    seed: str | int,
    n_shards: int,
    mode: str = "overwrite",
) -> None:
    """Seeded DETERMINISTIC global shuffle for training exports: the
    complement of :func:`export_training_shards` (which preserves key
    order for streaming readers). Training loaders need a reproducible
    epoch permutation — the same ``(seed, corpus)`` must yield the
    same shard files in the same row order on every run, cluster
    layout, and engine, while a new seed (e.g. ``f"{base}-{epoch}"``
    per epoch) yields an unrelated permutation.

    Mechanism: ``shuffle_key = md5-60(seed || '|' || id)`` — a seeded
    uniform permutation keyed on the stable id, no RNG state — and
    ``shard = shuffle_key mod n_shards``. Shards are written as
    ``shard=k`` hive partitions, each sorted by ``(shuffle_key, id)``
    so the within-file row order is part of the determinism contract
    (NOT range-sampled: ``repartitionByRange`` picks split points from
    a data sample, which this layout deliberately avoids — split
    points here are pure arithmetic). md5 uniformity keeps shard sizes
    balanced at ≈N/n_shards. One shuffle, map-side sort, parallel
    writers; ``_shuffle_meta`` (underscore-hidden from readers)
    records seed/n_shards/id_col for the audit trail.

    NULL ids would all collide on the seed-only key and silently pile
    into one position — they fail the write in-plan instead (same
    guard as :func:`export_training_shards`).
    """
    from ..operators.dedup import hash60

    if n_shards < 1:
        raise ValueError("export_shuffled_shards: n_shards must be >= 1")
    guard = F.when(
        F.col(id_col).isNull(),
        F.raise_error(
            F.lit(
                f"export_shuffled_shards: NULL {id_col} key; drop or "
                "fill NULLs upstream"
            )
        ).cast(dict(df.dtypes)[id_col]),
    ).otherwise(F.col(id_col))
    key = hash60(
        F.concat_ws("|", F.lit(str(seed)), guard.cast("string"))
    )
    out = (
        df.withColumn("shuffle_key", key)
        .withColumn(
            "shard", F.pmod(F.col("shuffle_key"), F.lit(n_shards)).cast("int")
        )
    )
    (
        out.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "shuffle_key", F.col(id_col))
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )
    from .readers import local_frame

    local_frame(
        df.sparkSession,
        [(str(seed), int(n_shards), id_col)],
        "seed string, n_shards int, id_col string",
    ).coalesce(1).write.mode(mode).json(path + "/_shuffle_meta")


def shuffled_shard_manifest(spark, path: str) -> DataFrame:
    """Audit manifest of an :func:`export_shuffled_shards` output: the
    recorded seed plus one row per shard with row count and a content
    fingerprint, so two exports can be compared for layout identity
    without reading each other's bytes. The fingerprint is an
    associative sum of per-row md5-60 hashes over ``(shuffle_key,
    id)`` — bounded per-task state at any shard size — which pins the
    multiset, and the within-file ROW ORDER is a pure function of that
    multiset (the writer sorts by ``(shuffle_key, id)``), so multiset
    identity ⇒ layout identity."""
    from ..operators.dedup import hash60

    meta = spark.read.json(path + "/_shuffle_meta").collect()[0]
    df = spark.read.parquet(path)
    row_h = hash60(
        F.concat_ws(
            "|",
            F.col("shuffle_key").cast("string"),
            F.col(meta["id_col"]).cast("string"),
        )
    )
    return (
        df.groupBy("shard")
        .agg(
            F.count("*").alias("n_rows"),
            # decimal(38,0) accumulator: int64 would overflow at
            # ~2^3 rows of 60-bit hashes; decimal holds to ~10^20 rows
            F.sum(row_h.cast("decimal(38,0)")).alias("content_fp"),
        )
        .withColumn("seed", F.lit(meta["seed"]))
        .withColumn("n_shards", F.lit(int(meta["n_shards"])))
        .orderBy("shard")
    )


def shard_manifest(spark, path: str, *, key: str) -> DataFrame:
    """Manifest of an :func:`export_training_shards` output: one row
    per shard file with row count and key range — the audit artifact a
    training pipeline checks in (and the proof the shards are disjoint,
    contiguous ranges). Per-file aggregation over ``input_file_name``;
    no driver-side listing."""
    df = spark.read.parquet(path)
    return (
        df.withColumn("__file", F.element_at(F.split(F.input_file_name(), "/"), -1))
        .groupBy("__file")
        .agg(
            F.count("*").alias("n_rows"),
            F.min(key).alias("key_min"),
            F.max(key).alias("key_max"),
            # NULL keys (only possible with null_keys="first_shard")
            # land in the first shard; surface them so the
            # disjoint-contiguous audit isn't silently misled
            F.count_if(F.col(key).isNull()).alias("n_null_keys"),
        )
        .withColumnRenamed("__file", "file")
    )


def write_csv(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """S10 parity: CSV export with header (ingest-compatible with
    :func:`..sources.readers.read_csv_hardened`)."""
    df.write.mode(mode).option("header", True).csv(path)


def write_json(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """S11 parity: JSON-lines export."""
    df.write.mode(mode).json(path)
