"""Bucketed-table layout for shuffle-free co-located joins
(SURVEY.md §4: "co-locate joins via bucketing or pre-partitioning").

A fact⋈fact equi-join (lineitem⋈orders on orderkey at 100 TB) normally
shuffles BOTH sides on the key every time it runs. Writing both tables
bucketed by that key pays the shuffle ONCE at write time; every
subsequent join reads co-located buckets and plans a SortMergeJoin
with ZERO Exchange on either side — the repeated-join amortization
every warehouse layout uses. (The reference has no storage layout at
all — CSVs re-read per run, ref ``src/spark/training.py:37-42``.)

Bucketing goes through the session catalog (``saveAsTable``): bucket
metadata lives in the table definition, which is what lets the planner
trust the layout and elide the exchange. Plain ``parquet(path)``
writes cannot carry it.

Pair with ``spark.sql.sources.bucketing.enabled`` (default true) and
match ``n_buckets`` across tables meant to join (the planner only
elides shuffles when bucket counts line up or are multiples under
``spark.sql.bucketing.coalesceBucketsInJoin.enabled``).
"""

from __future__ import annotations

import os
import re
from urllib.parse import urlparse

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    *,
    n_buckets: int = 8,
    sort: bool | list[str] = True,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a catalog table bucketed by ``key`` (a column
    or a list of them) and sorted within buckets by ``sort``: ``True``
    sorts by the key, a list of columns sorts by those, ``False`` or
    ``[]`` leaves buckets unsorted. Sorting by the key additionally removes
    the join-time Sort, leaving a pure streaming merge.

    Every write adds at most ``n_buckets`` files: the rows are first
    repartitioned by the key into ``n_buckets`` partitions, and
    ``repartition``'s murmur3-pmod hash is the bucket-id function, so
    each write task holds exactly one bucket. Without it every task
    writes one file per bucket it happens to hold, and a bucket-pruned
    read opens tasks × files instead of one. The bucket count is
    therefore also the write parallelism and the per-file size
    ceiling: pick it so table/buckets lands in the 128 MiB–1 GiB file
    band (RUNBOOK "Index compaction cadence")."""
    keys = [key] if isinstance(key, str) else list(key)
    sort_cols = keys if sort is True else list(sort or [])
    w = (
        df.repartition(n_buckets, *keys)
        .write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, *keys)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def bucket_spec(spark, table: str) -> tuple[int, list[str], list[str], str]:
    """``(n_buckets, bucket_cols, sort_cols, location path)`` of a
    bucketed catalog table, read from the catalog so writers match the
    existing spec instead of trusting a caller parameter."""
    info = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect()
    }
    if "Num Buckets" not in info:
        raise ValueError(f"{table!r} is not bucketed")
    return (
        int(info["Num Buckets"]),
        re.findall(r"`([^`]+)`", info.get("Bucket Columns", "")),
        re.findall(r"`([^`]+)`", info.get("Sort Columns", "")),
        urlparse(info["Location"]).path,
    )


def append_bucketed(df: DataFrame, table: str) -> None:
    """Append ``df`` to an existing bucketed catalog table under that
    table's own bucket count, bucket columns and sort columns — the
    one write every incremental index merge goes through. Like
    :func:`write_bucketed`, it adds at most one file per bucket."""
    n_buckets, bucket_cols, sort_cols, _ = bucket_spec(df.sparkSession, table)
    write_bucketed(
        df, table, bucket_cols, n_buckets=n_buckets, sort=sort_cols,
        mode="append",
    )


def bucketed_join(spark, left_table: str, right_table: str, key: str) -> DataFrame:
    """Equi-join two same-bucketed catalog tables on their bucket key.
    With matching bucket counts the physical plan carries no Exchange —
    assert that in tests rather than trusting it."""
    lt = spark.table(left_table)
    rt = spark.table(right_table)
    return lt.join(rt, key)


def compact_bucketed_table(spark, table: str) -> dict:
    """OPTIMIZE for a bucketed catalog table: the incremental index
    merges (``merge_bm25_index`` / ``merge_srp_index`` /
    ``merge_minhash_index`` / ``merge_ivfpq_index``) APPEND through
    :func:`append_bucketed`, and each write adds at most ``n_buckets``
    files (one write task per bucket) — pruning survives, but after N
    merges every bucket is N+1 files and task/footer overhead creeps
    back. This pass rewrites the table to ONE file per bucket with the
    SAME spec (bucket count/columns and sort columns read from the
    catalog, so it cannot drift) through :func:`write_bucketed`. The
    swap is the staged-rename discipline the merges themselves use
    (write to ``{table}_compact_stage``, DROP, RENAME — metadata-only;
    same non-transactional caveat as :func:`~.layout.compact_parquet`,
    closed by a table format in deployment).

    Returns ``{"files_before", "files_after", "n_buckets"}``.
    IO cost ∝ the table (a full rewrite): run it on the compaction
    cadence, not per merge. Parallelism note: one-file-per-bucket
    means one write TASK per bucket, so the bucket count chosen at
    build time is also the write parallelism of every build, merge
    and compaction, and the per-file size ceiling — at 100 TB pick
    buckets so table/buckets lands in the 128 MiB–1 GiB file band (the
    RUNBOOK layout rule), and this pass inherits sane tasks for free.
    """
    n_buckets, bucket_cols, sort_cols, location = bucket_spec(spark, table)

    def _n_files(location: str) -> int:
        return sum(
            1
            for f in os.listdir(location)
            if f.endswith(".parquet") and not f.startswith("_")
        )

    files_before = _n_files(location)
    stage = f"{table}_compact_stage"
    # the localCheckpoint is load-bearing: the bucketed scan CLAIMS
    # HashPartitioning(bucket_cols, n) so write_bucketed's repartition
    # to the same spec is elided as already-satisfied — but when the
    # planner disables bucket reading for the write query the physical
    # partitioning is raw file splits, and every split writes its own
    # per-bucket files (the fragmentation this pass removes, measured:
    # 34 files instead of 4). Cutting the lineage makes the
    # repartition real. Cost: one materialization — a compactor reads
    # the whole table anyway.
    write_bucketed(
        spark.table(table).localCheckpoint(eager=False),
        stage,
        bucket_cols,
        n_buckets=n_buckets,
        sort=sort_cols,
    )
    # swap ordering: rename the live table ASIDE first, then promote
    # the stage, then drop the old — the no-table window (where probes
    # would raise) is one metadata op, not DROP-to-RENAME. A crash
    # between the two renames leaves {table}_old intact for manual
    # repair instead of nothing. Still non-transactional (documented
    # below); this ordering just shrinks the window for free.
    old = f"{table}_compact_old"
    spark.sql(f"DROP TABLE IF EXISTS {old}")
    spark.sql(f"ALTER TABLE {table} RENAME TO {old}")
    spark.sql(f"ALTER TABLE {stage} RENAME TO {table}")
    spark.sql(f"DROP TABLE {old}")
    return {
        "files_before": files_before,
        "files_after": _n_files(bucket_spec(spark, table)[3]),
        "n_buckets": n_buckets,
    }
