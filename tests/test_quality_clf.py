"""Model-based quality classifier (ml/quality_clf + the q161 scorer):
factorized column-expression scoring == the MLlib margin, committed
weights stay consistent with their golden, the scorer plan is
map-only, and the front-door integration filters."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from big_data_song_recommendation_spark.ml import quality_clf as qc
from big_data_song_recommendation_spark.ml.quality_weights import (
    QCLF_BIAS_MICRO,
    QCLF_TRAIN_METRICS,
    QCLF_WEIGHTS_MICRO,
)
from big_data_song_recommendation_spark.operators.quality import (
    quality_model_scores,
)
from big_data_song_recommendation_spark.sources.readers import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
GOLDEN = os.path.join(
    os.path.dirname(__file__), "golden", "quality_clf_golden.json"
)


def test_scorer_matches_float_margin(spark):
    """The per-gram integer fold equals the linear model's decision
    function b + w·counts within the micro-rounding bound — the
    factorization quality_model_scores' docstring claims."""
    docs = load_table(spark, SF_DIR, "documents")
    clf = qc.train_quality_classifier(
        docs, n_features=64, max_iter=20, seed="qclf-test"
    )
    feats = {
        r["doc_id"]: np.array(r["f"])
        for r in docs.select(
            "doc_id",
            qc.hashed_count_features(
                "text", n_features=64, seed="qclf-test"
            ).alias("f"),
        ).collect()
    }
    w = np.array(clf.weights)
    scored = quality_model_scores(
        docs, clf.weights_micro, clf.bias_micro, seed="qclf-test"
    ).collect()
    assert len(scored) == len(feats)
    for r in scored:
        margin = clf.intercept + float(w @ feats[r["doc_id"]])
        # each gram contributes one micro-rounded weight (≤0.5e-6 err)
        tol = (r["n_bigrams"] + 1) * 0.5e-6 + 1e-9
        assert abs(r["score_micro"] / 1e6 - margin) <= tol, r
        if abs(margin) > tol:
            assert r["is_quality"] == (margin > 0)


def test_training_learns_the_teacher(spark):
    """Holdout sanity on the tiny corpus: the fit must beat the
    majority class on its leakage-free valid split — the signal is
    real, not memorized (train/valid are disjoint doc groups)."""
    docs = load_table(spark, SF_DIR, "documents")
    clf = qc.train_quality_classifier(docs, n_features=128, max_iter=40)
    assert clf.metrics["n_train"] + clf.metrics["n_valid"] == docs.count()
    assert clf.metrics["valid_auc"] > 0.6
    assert len(clf.weights) == 128


def test_committed_weights_match_golden():
    """File-consistency pin: ml/quality_weights.py and the golden were
    generated by the same run — catches a half-regenerated commit."""
    with open(GOLDEN) as f:
        g = json.load(f)
    assert g["bias_micro"] == QCLF_BIAS_MICRO
    assert g["n_features"] == len(QCLF_WEIGHTS_MICRO) == 256
    assert g["weights_micro_l1"] == sum(abs(w) for w in QCLF_WEIGHTS_MICRO)
    for k, v in g["metrics"].items():
        assert QCLF_TRAIN_METRICS[k] == pytest.approx(v)
    # the committed model must actually separate: holdout AUC pinned
    # at generation time (0.93 on the sf0.01 teacher split)
    assert g["metrics"]["valid_auc"] > 0.8


def test_scorer_plan_is_map_only(spark):
    """The 100 TB claim: scoring with committed weights plans ZERO
    exchanges — the weight table is a constant-folded literal, not a
    join, and the fold is in-row."""
    docs = load_table(spark, SF_DIR, "documents")
    plan = quality_model_scores(
        docs, QCLF_WEIGHTS_MICRO, QCLF_BIAS_MICRO, carry_cols=["lang"]
    )._jdf.queryExecution().executedPlan().toString()
    # load_table's narrow-layout spread adds one scan-side round-robin
    # repartition; the OPERATOR itself must add no shuffle (no
    # hash/range exchange)
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_zero_bigram_docs_score_bias_and_survive(spark):
    rows = [(1, "real text with several proper words here"),
            (2, ""), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in quality_model_scores(
        df, QCLF_WEIGHTS_MICRO, QCLF_BIAS_MICRO
    ).collect()}
    assert len(out) == 3
    for d in (2, 3):
        assert out[d]["n_bigrams"] == 0
        assert out[d]["score_micro"] == QCLF_BIAS_MICRO


def test_front_door_quality_stage(spark):
    from big_data_song_recommendation_spark.operators.quality import (
        crawl_front_door,
    )

    good = ("This is a perfectly reasonable sentence with plenty of "
            "real words that should pass the cleaning rules easily.")
    page = (
        "<html><body><article>"
        + "".join(f"<p>{good}</p>" for _ in range(3))
        + "</article></body></html>"
    )
    df = spark.createDataFrame(
        [(1, page), (2, page)], "doc_id long, html string"
    )
    out = crawl_front_door(
        df, quality_weights=(QCLF_WEIGHTS_MICRO, QCLF_BIAS_MICRO)
    )
    rows = out.collect()
    assert {"score_micro", "is_quality", "n_bigrams"} <= set(out.columns)
    assert len(rows) == 2 and all(r["n_bigrams"] > 0 for r in rows)
    # an absurd threshold drops everything; the stage is a filter
    assert (
        crawl_front_door(
            df,
            quality_weights=(QCLF_WEIGHTS_MICRO, QCLF_BIAS_MICRO),
            min_score_micro=10**15,
        ).count()
        == 0
    )
