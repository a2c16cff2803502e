"""Round-4 contracts: the one-regex tokenizer (functions.text.tokens),
the json_tuple pushdown barrier, and per-element casts in the unrolled
vector math. Each guards a measured hotspot fix against regression."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_song_recommendation_spark.functions import text, vectors
from big_data_song_recommendation_spark.plans.queries import QUERIES
from big_data_song_recommendation_spark.sources.readers import load_table

from .conftest import SF_DIR


EDGE_TEXTS = [
    "plain words here",
    "  leading spaces",
    "trailing punctuation!!!",
    "...leading punctuation",
    "inner--runs__of;;delims",
    "MiXeD Case AND123 numbers",
    "",
    "!!!",
    "one",
    "a",
    " a ",
    "tab\tand\nnewline  mix",
]


def test_tokens_matches_normalized_split_after_empty_filter(spark):
    """tokens() must yield the exact token SEQUENCE of
    split(normalized_text, ' ') once '' entries are dropped — on edge
    cases and on the real corpus."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(EDGE_TEXTS)], "id long, text string")
    old = F.filter(F.split(text.normalized_text("text"), " "), lambda t: t != "")
    new = F.filter(text.tokens("text"), lambda t: t != "")
    bad = df.select("id", old.alias("a"), new.alias("b")).filter(F.col("a") != F.col("b"))
    assert bad.count() == 0

    docs = load_table(spark, SF_DIR, "documents")
    bad = docs.select(
        F.filter(F.split(text.normalized_text("text"), " "), lambda t: t != "").alias("a"),
        F.filter(text.tokens("text"), lambda t: t != "").alias("b"),
    ).filter(F.col("a") != F.col("b"))
    assert bad.count() == 0


def test_q67_parses_json_once(spark):
    """q67's null-filter must not clone the JSON parse into a pushed
    predicate: the plan carries ONE json_tuple Generate and zero
    get_json_object calls (the measured 2× regression shape)."""
    plan = (
        QUERIES["q67_decayed_confidence"](spark, SF_DIR)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("json_tuple") == 1
    assert "get_json_object" not in plan


def test_dot_expanded_element_cast_bit_parity(spark):
    """Per-element CAST(x[i] AS DOUBLE) must be bit-identical to
    indexing a pre-cast array<double> — on real float32 embeddings."""
    emb = load_table(spark, SF_DIR, "embeddings").limit(200)
    dim = vectors.infer_dim(emb, "embedding")
    pre = vectors.as_double_array("embedding").alias("pv")
    both = emb.select(F.col("embedding").alias("rv"), pre).select(
        vectors.sq_norm_expanded("rv", dim).alias("a"),
        vectors.sq_norm_expanded("pv", dim).alias("b"),
    )
    assert both.filter(F.col("a") != F.col("b")).count() == 0


def test_expanded_norm_does_not_duplicate_array_cast(spark):
    """The corpus-side norm projection must not contain a whole-array
    cast per element reference: feeding dot_expanded raw attribute
    columns keeps casts at element granularity, so the physical plan
    has NO array-level cast at all."""
    emb = load_table(spark, SF_DIR, "embeddings")
    dim = vectors.infer_dim(emb, "embedding")
    df = emb.select(F.col("embedding").alias("nv")).withColumn(
        "nn", F.sqrt(vectors.sq_norm_expanded("nv", dim))
    )
    plan = df._jdf.queryExecution().executedPlan().toString().lower()
    # per-ELEMENT cast(nv[i] as double) is the wanted form; a whole-
    # array cast in the projection is the O(dim²) duplication shape
    assert "as array<double>" not in plan
    assert "cast(nv" in plan  # element casts present (float input)


def test_infer_dim_ignores_recycled_frame_id(spark, monkeypatch):
    """A frame that reuses a dropped frame's id() must get its own
    width, not the dropped frame's memoized one."""
    monkeypatch.setattr(vectors, "id", lambda o: 7, raising=False)
    two = spark.createDataFrame([([1.0, 2.0],)], "v array<double>")
    three = spark.createDataFrame([([1.0, 2.0, 3.0],)], "v array<double>")
    assert vectors.infer_dim(two, "v") == 2
    assert vectors.infer_dim(three, "v") == 3


def test_winnow_packed_pos_is_token_ordinal(spark):
    """Winnowing packs pos into the selected value; with the one-regex
    tokenizer the ordinal must stay 0-based dense per doc even when the
    text begins with a delimiter (raw posexplode index would shift)."""
    from big_data_song_recommendation_spark.operators import dedup

    rows = [(1, "...alpha beta gamma delta epsilon zeta eta theta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sel = dedup._winnow_selected(df, "doc_id", "text", 3, 4)
    pos = sorted(
        r["p"] for r in sel.select(
            (F.col("sel") % F.lit(1 << dedup.WINNOW_POS_BITS)).alias("p")
        ).distinct().collect()
    )
    # 8 tokens → shingle positions 0..5; winnow keeps a subset but every
    # kept pos must be a valid 0-based ordinal (< 6), proving the
    # leading-delimiter shift was re-derived away.
    assert pos and all(0 <= p <= 5 for p in pos)


def test_fingerprint_equals_md5_of_normalized_text(spark):
    """The one-regex fingerprint must be STRING-identical to the
    normalized_text form on every edge shape (the claim its docstring
    makes)."""
    from pyspark.sql import functions as F

    from big_data_song_recommendation_spark.functions import text as Ftext

    cases = [
        "",
        "   ",
        "!!!",
        "  Hello, World!  ",
        "a--b__c  d\t\ne",
        "ALL CAPS 123",
        "trailing punct...",
        "...leading punct",
        "ünïcode straße",  # non-ascii folds to delimiter runs
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], ["i", "t"])
    out = df.select(
        Ftext.fingerprint("t").alias("fast"),
        F.md5(Ftext.normalized_text("t")).alias("ref"),
    ).collect()
    for i, r in enumerate(out):
        assert r["fast"] == r["ref"], (i, cases[i])
