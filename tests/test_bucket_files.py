"""One file per bucket on every index write: each build, merge and
idempotent-replay write of a bucketed index table adds at most
``n_buckets`` parquet files, and every file holds only rows of the
bucket its ``_0000b`` name suffix claims (sources/bucketing.py
write_bucketed / append_bucketed)."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from big_data_song_recommendation_spark.operators.dedup import (
    build_minhash_index,
    merge_minhash_index,
)
from big_data_song_recommendation_spark.operators.retrieval import (
    build_bm25_index,
    merge_bm25_index,
)
from big_data_song_recommendation_spark.operators.similarity import (
    build_ivfpq_index,
    build_srp_index,
    merge_ivfpq_index,
    merge_srp_index,
)
from big_data_song_recommendation_spark.sources.bucketing import bucket_spec
from big_data_song_recommendation_spark.sources.readers import load_table

from .conftest import SF_DIR

N_BUCKETS = 4


def _docs(spark):
    return load_table(spark, SF_DIR, "documents").select("doc_id", "text")


def _emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


# name → (corpus loader, id column, build(frame, name), merge(frame, name,
# **kw), bucketed table suffixes)
INDEXES = {
    "bm25": (
        _docs,
        "doc_id",
        lambda df, name: build_bm25_index(df, name=name, n_buckets=N_BUCKETS),
        lambda df, name, **kw: merge_bm25_index(df, name=name, **kw),
        ("postings",),
    ),
    "minhash": (
        _docs,
        "doc_id",
        lambda df, name: build_minhash_index(
            df, num_hashes=16, bands=8, name=name, n_buckets=N_BUCKETS
        ),
        lambda df, name, **kw: merge_minhash_index(df, name=name, **kw),
        ("bands", "sigs"),
    ),
    "srp": (
        _emb,
        "vec_id",
        lambda df, name: build_srp_index(
            df, planes=6, name=name, n_buckets=N_BUCKETS
        ),
        lambda df, name, **kw: merge_srp_index(df, name=name, **kw),
        ("by_bucket", "by_id"),
    ),
    "ivfpq": (
        _emb,
        "vec_id",
        lambda df, name: build_ivfpq_index(df, name=name, n_buckets=N_BUCKETS),
        lambda df, name, **kw: merge_ivfpq_index(df, name=name, **kw),
        ("codes", "by_id"),
    ),
}


def _files(location: str) -> set[str]:
    return {
        f
        for f in os.listdir(location)
        if f.endswith(".parquet") and not f.startswith("_")
    }


def _misplaced(spark, table: str) -> list:
    """(file, row bucket) pairs whose rows hash to another bucket than
    the file name's suffix — Spark's bucket id is pmod(hash(key), n)."""
    n, cols, _, location = bucket_spec(spark, table)
    rows = (
        spark.read.parquet(location)
        .select(
            F.input_file_name().alias("f"),
            F.pmod(F.hash(*cols), F.lit(n)).alias("b"),
        )
        .distinct()
        .collect()
    )
    return [
        (os.path.basename(r["f"]), r["b"])
        for r in rows
        if int(re.search(r"_(\d+)\.c\d+", r["f"]).group(1)) != r["b"]
    ]


@pytest.mark.parametrize("kind", sorted(INDEXES))
def test_every_index_write_adds_at_most_one_file_per_bucket(spark, kind):
    """Build, merge, an idempotent replay of that merge, and an
    idempotent merge that still has new ids (its writes run after an
    anti-join that can already be hash-partitioned on the id)."""
    load, idc, build, merge, suffixes = INDEXES[kind]
    corpus = load(spark)
    name = f"t_bf_{kind}"
    base = corpus.filter(F.col(idc) % 4 != 0)
    d1 = corpus.filter(F.col(idc) % 8 == 0)
    d2 = corpus.filter(F.col(idc) % 4 == 0)  # superset of d1
    tables = build(base, name)
    try:
        locations = {s: bucket_spec(spark, f"{name}_{s}")[3] for s in suffixes}
        seen = {s: _files(loc) for s, loc in locations.items()}
        for s in suffixes:
            assert 0 < len(seen[s]) <= N_BUCKETS, (s, sorted(seen[s]))
        steps = (
            ("merge", lambda: merge(d1, name)),
            ("replay", lambda: merge(d1, name, idempotent=True)),
            ("idempotent merge", lambda: merge(d2, name, idempotent=True)),
        )
        for step, run in steps:
            run()
            for s, loc in locations.items():
                now = _files(loc)
                added = now - seen[s]
                assert seen[s] <= now, (step, s)
                assert len(added) <= N_BUCKETS, (step, s, sorted(added))
                seen[s] = now
        for s in suffixes:
            table = f"{name}_{s}"
            assert _misplaced(spark, table) == [], table
        got = {r[0] for r in spark.table(tables[suffixes[-1]]).select(idc).collect()}
        assert got == {r[0] for r in corpus.select(idc).collect()}
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")
