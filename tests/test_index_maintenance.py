"""Failure modes of the one insert-only merge protocol
(sources/bucketing.py insert_only_delta) over the four persisted
indexes: a missing index table names the build to run first, a delta
without the index id column and a delta overlapping the index are
refused before anything is appended."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from .test_bucket_files import INDEXES


@pytest.mark.parametrize("kind", sorted(INDEXES))
def test_merge_failure_modes(spark, kind):
    load, idc, build, merge, _ = INDEXES[kind]
    corpus = load(spark).filter(F.col(idc) % 4 == 0)
    name = f"t_fm_{kind}"
    with pytest.raises(RuntimeError, match=f"build_{kind}_index first"):
        merge(corpus, f"t_fm_{kind}_absent")
    tables = build(corpus, name)
    try:
        before = {t: spark.table(t).count() for t in tables.values()}
        with pytest.raises(ValueError, match="lacks the index id column"):
            merge(corpus.withColumnRenamed(idc, "other_id"), name)
        with pytest.raises(ValueError, match="already indexed"):
            merge(corpus.limit(3), name)
        assert {t: spark.table(t).count() for t in tables.values()} == before
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")
