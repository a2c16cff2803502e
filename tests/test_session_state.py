"""Scoped release of query execution state (ADVICE r6 / VERDICT r6 #7).

``release_query_state(spark)`` is session-global by design (serial
sweep mode); ``keep=snapshot_persistent_rdds(spark)`` scopes it so a
service's own long-lived caches survive while the batch's
localCheckpoint / cache blocks are freed.
"""

from __future__ import annotations

import threading

from pyspark import StorageLevel

from big_data_song_recommendation_spark import session
from big_data_song_recommendation_spark.plans import QUERIES
from big_data_song_recommendation_spark.session import (
    driver_memory,
    query_batch,
    release_query_state,
    snapshot_persistent_rdds,
)

from .conftest import SF_DIR


def _persistent_ids(spark):
    return snapshot_persistent_rdds(spark)


def test_scoped_release_keeps_service_cache(spark):
    release_query_state(spark)  # clean slate
    dim = spark.range(100).withColumnRenamed("id", "k")
    dim.persist(StorageLevel.MEMORY_ONLY)
    dim.count()
    baseline = snapshot_persistent_rdds(spark)
    assert baseline, "service cache should be persisted"

    # a query batch that pins blocks (q99 localCheckpoints for gini)
    QUERIES["q99_revenue_gini"](spark, SF_DIR).collect()
    during = _persistent_ids(spark)
    assert during >= baseline

    n = release_query_state(spark, keep=baseline)
    after = _persistent_ids(spark)
    assert baseline <= after, "kept RDDs must survive a scoped release"
    assert after - baseline == set(), "batch blocks must be freed"
    assert n == len(during - baseline)
    # the kept DataFrame is still usable AND still cached
    assert dim.count() == 100
    assert dim.storageLevel.useMemory
    dim.unpersist()
    release_query_state(spark)


def test_global_release_clears_everything(spark):
    QUERIES["q99_revenue_gini"](spark, SF_DIR).collect()
    pinned = _persistent_ids(spark)
    cached = spark.range(100).withColumnRenamed("id", "k").cache()
    cached.count()
    assert len(_persistent_ids(spark) - pinned) == 1
    # the catalog-cached RDD counts once: clearCache() frees it, the
    # unpersist loop must not free it again
    assert release_query_state(spark) == len(pinned) + 1
    assert _persistent_ids(spark) == set()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    # evicted plans rebuild transparently
    assert QUERIES["q99_revenue_gini"](spark, SF_DIR).count() > 0
    release_query_state(spark)


def test_concurrent_queries_with_scoped_release(spark):
    """Two threads run block-pinning queries concurrently, each
    releasing state at its own batch boundary — the hazard the r6
    verdict flagged.  A naive mid-flight release frees blocks the
    sibling pinned after the snapshot ("block not found" job failure,
    reproduced while writing this test); the query_batch() +
    wait_for_idle protocol is the documented safe pattern."""
    release_query_state(spark)
    errs: list[Exception] = []

    def worker(qname: str) -> None:
        try:
            base = snapshot_persistent_rdds(spark)
            with query_batch():
                rows = QUERIES[qname](spark, SF_DIR).collect()
            assert rows
            release_query_state(spark, keep=base, wait_for_idle=True)
        except Exception as exc:  # propagate to main thread
            errs.append(exc)

    threads = [
        threading.Thread(target=worker, args=(q,))
        for q in ("q99_revenue_gini", "q117_revenue_lorenz")
        for _ in range(2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    release_query_state(spark)


def test_wait_for_idle_timeout_refuses_release(spark):
    """Regression: a timed-out wait_for_idle used to proceed with the
    release anyway — exactly the unsafe mid-flight free the flag
    exists to prevent. It must raise instead, and free nothing."""
    import pytest

    QUERIES["q99_revenue_gini"](spark, SF_DIR).collect()
    pinned = _persistent_ids(spark)
    with query_batch():  # a batch is open: the session is NOT idle
        with pytest.raises(TimeoutError):
            release_query_state(spark, wait_for_idle=True, timeout=0.2)
        assert _persistent_ids(spark) == pinned  # nothing was freed
    release_query_state(spark)


def test_driver_memory_env_wins_else_capped_by_host(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    page = 4096
    for phys_gib in (1, 15.7, 64):
        pages = int(phys_gib * (1 << 30)) // page
        monkeypatch.setattr(
            session.os,
            "sysconf",
            lambda key, pages=pages: {"SC_PHYS_PAGES": pages, "SC_PAGE_SIZE": page}[key],
        )
        mem = driver_memory()
        assert mem.endswith("m")
        mib = int(mem[:-1])
        assert 0 < mib <= 16 * 1024
        assert mib * (1 << 20) <= pages * page
    assert mib == 16 * 1024  # a 64 GiB host gets the 16 GiB cap
