"""vectors.dot_expanded sums its products as a balanced binary tree:
its arithmetic depth is logarithmic in the width (whole-stage codegen
cost grows with depth × size), both construction branches build the
same tree, and the pairwise sum stays within 1e-12 of the exact sum."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from big_data_song_recommendation_spark.functions import vectors

DIMS = (1, 2, 3, 63, 64, 100)


def _arith_depth(e) -> int:
    """Nesting depth of Add/Multiply nodes in a Catalyst expression."""
    if e.nodeName() not in ("Add", "Multiply"):
        return 0
    kids = e.children()
    return 1 + max(_arith_depth(kids.apply(i)) for i in range(kids.size()))


def _vectors(spark, dim: int, n: int = 8):
    rng = random.Random(1000 + dim)
    rows = [
        (
            [rng.gauss(0.0, 1.0) for _ in range(dim)],
            [rng.gauss(0.0, 1.0) for _ in range(dim)],
        )
        for _ in range(n)
    ]
    return rows, spark.createDataFrame(rows, "a array<double>, b array<double>")


@pytest.mark.parametrize("dim", DIMS)
def test_dot_expanded_depth_is_logarithmic(spark, dim):
    _, df = _vectors(spark, dim, n=1)
    for col in (
        vectors.dot_expanded("a", "b", dim),
        vectors.dot_expanded(F.col("a"), F.col("b"), dim),
    ):
        alias = df.select(col.alias("d"))._jdf.queryExecution().analyzed()
        expr = alias.expressions().apply(0).child()
        assert _arith_depth(expr) <= math.ceil(math.log2(dim)) + 2, dim


@pytest.mark.parametrize("dim", DIMS)
def test_dot_expanded_branches_agree_and_match_fsum(spark, dim):
    rows, df = _vectors(spark, dim)
    got = df.select(
        vectors.dot_expanded("a", "b", dim).alias("s"),
        vectors.dot_expanded(F.col("a"), F.col("b"), dim).alias("c"),
        vectors.sq_norm_expanded("a", dim).alias("n"),
    ).collect()
    for (a, b), r in zip(rows, got):
        assert r["s"] == r["c"]  # same tree, bit-identical
        exact = math.fsum(x * y for x, y in zip(a, b))
        assert abs(r["s"] - exact) <= 1e-12 * abs(exact), (dim, r["s"], exact)
        sq = math.fsum(x * x for x in a)
        assert abs(r["n"] - sq) <= 1e-12 * sq


def test_dot_expanded_empty_and_null(spark):
    df = spark.createDataFrame(
        [([1.0, None, 2.0], [3.0, 4.0, 5.0])], "a array<double>, b array<double>"
    )
    r = df.select(
        vectors.dot_expanded("a", "b", 0).alias("s0"),
        vectors.dot_expanded(F.col("a"), F.col("b"), 0).alias("c0"),
        vectors.dot_expanded("a", "b", 3).alias("s3"),
        vectors.dot_expanded(F.col("a"), F.col("b"), 3).alias("c3"),
    ).collect()[0]
    assert r["s0"] == r["c0"] == 0.0
    assert r["s3"] is None and r["c3"] is None
