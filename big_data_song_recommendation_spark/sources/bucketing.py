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

from .readers import local_frame


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


def append_bucketed(
    df: DataFrame, table: str, *, reconcile_on: str | None = None
) -> None:
    """Append ``df`` to an existing bucketed catalog table under that
    table's own bucket count, bucket columns and sort columns — the
    one write every incremental index merge goes through. Like
    :func:`write_bucketed`, it adds at most one file per bucket.
    ``reconcile_on`` names an id column for a merge REPLAY: rows whose
    id the table already holds are anti-joined out first, so a replay
    never appends a row twice (see :func:`insert_only_delta`)."""
    spark = df.sparkSession
    if reconcile_on is not None:
        df = df.join(
            spark.table(table).select(reconcile_on), reconcile_on, "left_anti"
        )
    n_buckets, bucket_cols, sort_cols, _ = bucket_spec(spark, table)
    write_bucketed(
        df, table, bucket_cols, n_buckets=n_buckets, sort=sort_cols,
        mode="append",
    )


# ---------------------------------------------------------------------------
# Index maintenance: the one protocol the four persisted serving indexes
# (BM25, MinHash, SRP, IVF-PQ) are built and merged under
# ---------------------------------------------------------------------------

#: per-(session, index-name) ``{name}_meta`` row. The meta table is one
#: immutable row per build; re-collecting it per request would add a
#: whole scheduling round trip to every serving call. A build drops its
#: entry (:func:`finish_index_build`), merges re-read it.
_meta_memo: dict = {}


def index_meta(spark, name: str, *, fresh: bool = False):
    """The ``{name}_meta`` row of a persisted index, memoized per
    session. ``fresh=True`` re-reads the table and refreshes the memo —
    what a merge does, since acting on a memo taken before a same-name
    rebuild in another session would mix hash families or code
    spaces; a merge is never latency-critical."""
    key = (id(spark), name)
    if fresh or key not in _meta_memo:
        _meta_memo[key] = spark.table(f"{name}_meta").collect()[0]
    return _meta_memo[key]


def finish_index_build(
    spark, name: str, tables: dict, *, op: str, meta: tuple | None = None
) -> None:
    """Close the build ``op`` of index ``name``: write its one-row
    ``{name}_meta`` table from ``meta``, a ``(row, schema)`` pair,
    check that every table in ``tables`` reached the catalog, and drop
    the session's memoized meta so the next request reads this build's
    row. Explicit raise, not assert: a library write path must fail
    loudly under ``python -O`` too."""
    if meta is not None:
        row, schema = meta
        local_frame(spark, [row], schema).write.format("parquet").mode(
            "overwrite"
        ).saveAsTable(f"{name}_meta")
    for t in tables.values():
        if not spark.catalog.tableExists(t):
            raise RuntimeError(
                f"{op}: table {t!r} missing from the catalog after write "
                "— check the warehouse dir / catalog config"
            )
    _meta_memo.pop((id(spark), name), None)


def insert_only_delta(
    delta: DataFrame,
    name: str,
    suffixes: tuple[str, ...],
    *,
    op: str,
    guard: str,
    id_col: str | None = None,
    check_new_ids: bool = True,
    idempotent: bool = False,
) -> DataFrame | None:
    """The preamble of every index merge ``op`` (``merge_bm25_index``,
    ``merge_minhash_index``, ``merge_srp_index``,
    ``merge_ivfpq_index``): the rows of ``delta`` to append to index
    ``name``, or ``None`` when a replay has nothing left to append.

    The indexes are maintained INSERT-ONLY: every stored row is a pure
    function of its own document or vector and the build's fixed
    parameters (the meta row), and the BM25 corpus aggregates are
    additive over disjoint document sets, so merging a delta equals
    rebuilding on the union — provided its ids are new. A re-ingested
    id would double its rows; updates and deletes have no retraction
    here, so rebuild the affected rows instead.

    - Every ``{name}_{suffix}`` table must exist (``RuntimeError``
      naming the build to run first), and ``delta`` must carry the
      index id column: ``id_col``, or when ``None`` the meta row's,
      read with :func:`index_meta` ``fresh=True`` — the merge then
      reads the same row from the memo.
    - Steady state (``idempotent=False``): ``check_new_ids`` anti-checks
      the delta ids against ``{name}_{guard}`` with one
      ``left_semi … limit(1)`` job and raises ``ValueError`` on
      overlap. A pipeline whose upstream dedup store owns id newness
      (the curation front door) passes ``check_new_ids=False``, and
      the merge is then scan-free.
    - Replay (``idempotent=True``): already-indexed ids are anti-joined
      OUT of the delta instead — the crash-replay reconcile that
      ``streaming.jobs.CurationSink._guarded_merge`` runs when it finds
      an intent marker without its commit marker. ``guard`` must name
      the table the merge appends LAST, so an id found there has
      landed in every table; each earlier append passes
      ``reconcile_on`` to :func:`append_bucketed`, so a crash between
      two appends is repaired instead of duplicated. Tables derived
      from others (BM25's terms and totals) are rebuilt from their
      source by the merge itself.

    The protocol is reconciled, not transactional: a table format with
    commits (Delta, Iceberg) would make the same guarantee atomic."""
    spark = delta.sparkSession
    for t in (f"{name}_{s}" for s in suffixes):
        if not spark.catalog.tableExists(t):
            raise RuntimeError(
                f"{op}: {t!r} missing — {op.replace('merge_', 'build_', 1)} first"
            )
    if id_col is None:
        id_col = index_meta(spark, name, fresh=True)["id_col"]
    if id_col not in delta.columns:
        raise ValueError(f"{op}: delta lacks the index id column {id_col!r}")
    if not (idempotent or check_new_ids):
        return delta
    indexed = spark.table(f"{name}_{guard}").select(id_col)
    if idempotent:
        delta = delta.join(indexed, id_col, "left_anti")
        return None if delta.limit(1).isEmpty() else delta
    if indexed.join(delta.select(id_col), id_col, "left_semi").limit(1).count():
        raise ValueError(
            f"{op}: delta contains ids already indexed — insert-only "
            "maintenance would duplicate their rows; dedup upstream or "
            "rebuild"
        )
    return delta


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
