"""Spark jobs per indexed request (operators/similarity.py
srp_knn_indexed / ivfpq_topk_indexed, operators/dedup.py
near_dup_probe): a request runs ONE build-time lookup job, whose rows
bind into the action as literals, and an action of one job, plus for
IVF-PQ the re-rank join's broadcast of ``{name}_by_id``, which the
planner picks at test scale (the table is under the broadcast
threshold). Counted through the status tracker's
job groups in a session shaped like the serving benchmark's (AQE off,
so shuffle stages are not submitted as jobs of their own)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_song_recommendation_spark.operators.dedup import (
    build_minhash_index,
    near_dup_probe,
)
from big_data_song_recommendation_spark.operators.similarity import (
    build_ivfpq_index,
    build_srp_index,
    ivfpq_topk_indexed,
    srp_knn_indexed,
)
from big_data_song_recommendation_spark.sources.readers import load_table

from .conftest import SF_DIR

TABLES = [
    f"t_jobs_{n}_{s}"
    for n, parts in (
        ("srp", ("by_bucket", "by_id", "meta")),
        ("pq", ("codes", "by_id", "meta")),
        ("pqr", ("codes", "by_id", "meta")),
        ("mh", ("bands", "sigs", "meta")),
    )
    for s in parts
]


@pytest.fixture(scope="module")
def indexes(spark):
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    emb = load_table(spark, SF_DIR, "embeddings")
    docs = load_table(spark, SF_DIR, "documents")
    build_srp_index(emb, planes=6, name="t_jobs_srp", n_buckets=8)
    build_ivfpq_index(emb, name="t_jobs_pq", n_buckets=8)
    build_ivfpq_index(emb, name="t_jobs_pqr", n_buckets=8, residual=True)
    build_minhash_index(docs.select("doc_id", "text"), name="t_jobs_mh", n_buckets=8)
    yield docs
    for t in TABLES:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.conf.set("spark.sql.adaptive.enabled", aqe)


def _jobs(spark, build) -> tuple[int, int, int]:
    """(build jobs, action jobs, rows) of one request."""
    sc = spark.sparkContext
    counts = []
    df = None
    for phase in ("build", "action"):
        group = f"t_indexed_jobs_{phase}_{id(build)}"
        sc.setJobGroup(group, group)
        try:
            if phase == "build":
                df = build()
            else:
                rows = df.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    return counts[0], counts[1], len(rows)


def test_one_lookup_job_and_one_action_per_request(spark, indexes):
    docs = indexes
    ids = sorted(r[0] for r in docs.select("doc_id").collect())[100:120]
    batch = docs.filter(F.col("doc_id").between(ids[0], ids[-1])).select(
        (F.col("doc_id") + 50_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" probe tail")).alias("text"),
    )
    requests = {
        "srp": (lambda: srp_knn_indexed(spark, [7], name="t_jobs_srp", k=3), 1),
        "ivfpq": (lambda: ivfpq_topk_indexed(spark, [7], name="t_jobs_pq"), 2),
        "ivfpq_res": (lambda: ivfpq_topk_indexed(spark, [7], name="t_jobs_pqr"), 2),
        "neardup": (lambda: near_dup_probe(batch, name="t_jobs_mh"), 1),
    }
    got = {}
    for name, (build, _) in requests.items():
        build().collect()  # the first call reads the index meta row
        got[name] = _jobs(spark, build)
    over = {
        name: got[name]
        for name, (_, action) in requests.items()
        if got[name][0] > 1 or got[name][1] > action
    }
    assert not over, f"(build jobs, action jobs, rows) over budget: {over}; all: {got}"
    assert all(rows > 0 for _, _, rows in got.values()), got
