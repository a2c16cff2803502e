"""SparkSession factory.

Replaces the three ad-hoc session builders in the reference
(``src/spark/training.py:13-18``, ``src/app.py:16-22``,
``src/app_optimized.py:50-60``) with one configurable factory.

Defaults are tuned for correctness-comparable, scale-ready plans:

- AQE + partition coalescing + skew-join handling on (the reference
  enabled the first two; skew join is the scale superset).
- UTC session timezone so results compare bit-for-bit against the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for any pandas interchange (Pandas UDFs, toPandas).
- ``spark.sql.shuffle.partitions`` sized to the local core count
  rather than the 200 default; on a real cluster this should be
  ~2-3x total executor cores (or left to AQE coalescing).
"""

from __future__ import annotations

import contextlib
import os
import threading

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def driver_memory() -> str:
    """``spark.driver.memory``: ``$SPARK_GRAFT_DRIVER_MEM`` if set, else
    the smaller of 16 GiB and 5/8 of physical memory. A fixed 16g heap
    on a 16 GB host gets the JVM killed by the kernel once the Python
    workers claim their share."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(16 << 30, phys * 5 // 8) >> 20}m"


def get_spark(
    app_name: str = "big_data_song_recommendation_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # generated-class cache: the 100-entry default thrashes on a
        # many-query session (this engine's serving/bench surface runs
        # 78+ distinct plans), forcing Janino recompiles of evicted
        # stages — measured 1.6× the whole-suite wall at sf0.1
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # lets Python DataSources (sources/batchfile_source.py) receive
        # pushed filters for file-level pruning
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # PySpark wraps every DataFrame/Column API call to capture the
        # Python call site for error context — 2-3 extra py4j round
        # trips per op (set origin / read stack-depth conf / clear).
        # On plan-construction-heavy paths that is 30-40% of the build
        # wall (measured: q01 plan build 0.128 -> 0.074 s with it off).
        # Costs only error-message verbosity; results unchanged.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# concurrency guard for release_query_state: queries pin blocks lazily
# (localCheckpoint at action time), so a release racing an in-flight
# query can free blocks the snapshot never saw — the job then dies on
# "block not found". Queries in a multi-tenant session run inside
# query_batch(); a release with wait_for_idle=True parks until no
# batch is active. Zero overhead for the serial (sweep/bench) path,
# which never touches either.
_BATCH_CV = threading.Condition()
_BATCHES_IN_FLIGHT = 0


@contextlib.contextmanager
def query_batch():
    """Mark a query batch as in flight (multi-tenant sessions only).

    ``release_query_state(..., wait_for_idle=True)`` defers until every
    open ``query_batch()`` scope has exited, so it can never unpersist
    a sibling query's freshly-pinned lineage blocks mid-execution.
    Do NOT call a waiting release from inside your own open batch —
    that is a deadlock by construction (documented, not detected)."""
    global _BATCHES_IN_FLIGHT
    with _BATCH_CV:
        _BATCHES_IN_FLIGHT += 1
    try:
        yield
    finally:
        with _BATCH_CV:
            _BATCHES_IN_FLIGHT -= 1
            _BATCH_CV.notify_all()


def snapshot_persistent_rdds(spark: SparkSession) -> set[int]:
    """Ids of the RDDs currently persisted in this session — take one
    BEFORE running a query batch, hand it to ``release_query_state`` as
    ``keep`` so a service's own long-lived caches survive the release."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keys()}


def release_query_state(
    spark: SparkSession,
    *,
    keep: set[int] | None = None,
    wait_for_idle: bool = False,
    timeout: float = 60.0,
) -> int:
    """Free the blocks query execution pinned on the executors —
    ``.cache()`` / ``persist()`` entries AND ``localCheckpoint``
    blocks.

    Why this exists: several operators cut multi-consumer lineage with
    lazy ``localCheckpoint`` (ranks.bucketed_rank, gini_index, the CC
    loop). Those blocks are deliberately retained while their query
    might re-execute, but across a LONG session running hundreds of
    distinct queries they accumulate until the block manager eats the
    heap — measured: a 1 GiB-driver full-roster sweep at sf0.1 OOMs
    after ~90 queries with no release, and completes green calling
    this between queries (ADVICE r5 / VERDICT r6 #3). A query service
    should call this at query-batch boundaries; per-query for strict
    footprint, per-N-queries to amortize.

    Scope (ADVICE r6): with ``keep=None`` this is SESSION-GLOBAL — it
    unpersists every persistent RDD and clears the whole SQL cache,
    which is right for a serial sweep but evicts blocks a concurrent
    query or a service's own long-lived dimension cache still wants.
    A multi-tenant caller should snapshot before the batch and release
    only the delta::

        baseline = snapshot_persistent_rdds(spark)
        ...run queries...
        release_query_state(spark, keep=baseline)

    In ``keep`` mode the catalog-level ``clearCache()`` is skipped
    (it cannot be scoped); the kept DataFrames' cache entries AND
    blocks both survive, while everything persisted since the snapshot
    is freed.  Blocks of catalog-cached DataFrames created during the
    batch are still released via their RDD ids; their stale cache
    entries rebuild on next use.

    Concurrency: a snapshot can't see blocks a sibling query pins
    AFTER it — releasing mid-flight frees those and kills the sibling
    on "block not found".  Multi-tenant callers run queries inside
    ``query_batch()`` and release with ``wait_for_idle=True``, which
    parks until no batch is open.  The serial path (sweeps, bench)
    needs neither.

    Returns the number of RDDs unpersisted (telemetry), catalog-cached
    ones included."""
    def _release() -> int:
        jsc = spark.sparkContext._jsc
        if keep is None:
            # catalog first: clearCache() unpersists the catalog-cached
            # RDDs itself, and a second non-blocking unpersist of the
            # same RDD races the first ("Block rdd_N_P does not exist")
            n = len(jsc.getPersistentRDDs())
            spark.catalog.clearCache()
            for rdd in list(jsc.getPersistentRDDs().values()):
                rdd.unpersist(False)
            return n
        n = 0
        for rdd_id, rdd in list(jsc.getPersistentRDDs().items()):
            if int(rdd_id) not in keep:
                rdd.unpersist(False)
                n += 1
        return n

    if wait_for_idle:
        # hold the condition through the release so a batch opening
        # between "idle observed" and "blocks freed" can't race it
        with _BATCH_CV:
            idle = _BATCH_CV.wait_for(
                lambda: _BATCHES_IN_FLIGHT == 0, timeout=timeout
            )
            if not idle:
                # timing out and releasing anyway would be exactly the
                # unsafe mid-flight free this flag exists to prevent —
                # surface it instead of silently killing a sibling
                raise TimeoutError(
                    f"release_query_state: {_BATCHES_IN_FLIGHT} query "
                    f"batch(es) still in flight after {timeout}s; "
                    "not releasing (retry, or release without "
                    "wait_for_idle only in a serial session)"
                )
            return _release()
    return _release()


# ---------------------------------------------------------------------------
# S12: object-store access (MinIO / any S3-compatible endpoint).
#
# The reference's storage layer (src/storage/minio_client.py:25-64) is a
# boto-style client over 6 well-known buckets. In Spark, object-store
# access is pure configuration: hand these conf keys to get_spark
# (extra_conf=...) and every reader/writer in sources/ accepts
# s3a://bucket/key paths exactly like local paths — scans stay
# partitioned, predicate pushdown and column pruning still reach the
# parquet footers over the network. No custom storage code is the
# POINT: the s3a connector already does multipart upload, retries, and
# committer semantics that a hand-rolled client would get wrong.
#
# NOTE: s3a needs hadoop-aws + aws-sdk jars on the classpath (ship via
# spark.jars.packages on a real deployment; not bundled in this image,
# so the conf builder is contract-tested without a live store).
# ---------------------------------------------------------------------------

#: The reference deployment's bucket layout (minio_client.py:27).
REFERENCE_BUCKETS = (
    "tracks-data",
    "artists-data",
    "albums-data",
    "emotion-data",
    "models",
    "processed-data",
)


def s3a_conf(
    endpoint: str,
    access_key: str,
    secret_key: str,
    *,
    path_style: bool = True,
    ssl: bool = False,
) -> dict[str, str]:
    """Spark conf for an S3-compatible object store.

    Mirrors the reference client's connection contract
    (``src/storage/minio_client.py:6-21``): explicit endpoint,
    static credentials, no TLS by default, and path-style addressing
    (MinIO's default — virtual-host style breaks on bare endpoints).

    Usage::

        spark = get_spark(extra_conf=s3a_conf("localhost:9000",
                                              "minioadmin", "minioadmin123"))
        df = load_table(spark, "s3a://processed-data/sf0.1", "lineitem")
    """
    scheme_ep = endpoint if "://" in endpoint else (
        ("https://" if ssl else "http://") + endpoint
    )
    return {
        "spark.hadoop.fs.s3a.endpoint": scheme_ep,
        "spark.hadoop.fs.s3a.access.key": access_key,
        "spark.hadoop.fs.s3a.secret.key": secret_key,
        "spark.hadoop.fs.s3a.path.style.access": str(path_style).lower(),
        "spark.hadoop.fs.s3a.connection.ssl.enabled": str(ssl).lower(),
        "spark.hadoop.fs.s3a.aws.credentials.provider": (
            "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider"
        ),
        # object stores have no rename; the magic committer commits by
        # multipart-upload completion instead of copy+delete
        "spark.hadoop.fs.s3a.committer.name": "magic",
        "spark.hadoop.fs.s3a.committer.magic.enabled": "true",
    }


def s3a_conf_from_env(env: dict | None = None) -> dict[str, str]:
    """S12 twin of the reference's env-driven connection
    (``MINIO_ENDPOINT`` fallback, minio_client.py:13-14): build s3a
    conf from MINIO_ENDPOINT / MINIO_ACCESS_KEY / MINIO_SECRET_KEY
    with the reference's defaults."""
    e = os.environ if env is None else env
    return s3a_conf(
        e.get("MINIO_ENDPOINT", "localhost:9000"),
        e.get("MINIO_ACCESS_KEY", "minioadmin"),
        e.get("MINIO_SECRET_KEY", "minioadmin123"),
        ssl=e.get("MINIO_SSL", "false").lower() == "true",
    )
