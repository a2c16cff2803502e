"""Model-based language ID (ml/langid + the q163 scorer): the
column-expression Bernoulli fold equals a pure-Python replay of the
decision rule, committed weights stay consistent with their golden,
the scorer plan is map-only, short texts score bare biases, and the
trained model beats the majority rate on its holdout."""

from __future__ import annotations

import hashlib
import json
import os
import re

import pytest
from pyspark.sql import functions as F

from big_data_song_recommendation_spark.ml.langid import train_langid
from big_data_song_recommendation_spark.ml.langid_weights import (
    LID_BIASES_MICRO,
    LID_TRAIN_METRICS,
    LID_WEIGHTS_MICRO,
)
from big_data_song_recommendation_spark.operators.langid import (
    langid_model_scores,
    trigram_buckets,
)
from big_data_song_recommendation_spark.sources.readers import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
GOLDEN = os.path.join(
    os.path.dirname(__file__), "golden", "langid_golden.json"
)


def _py_buckets(text: str, n_features: int, seed: str) -> list[int]:
    """Pure-Python replay of trigram_buckets: normalize, pad with
    boundary spaces, hash each trigram with md5-60."""
    s = re.sub(r"\s+", " ", re.sub(r"[^a-z0-9\s]", " ", text.lower())).strip()
    if not s:
        return []
    s = f" {s} "
    out = []
    for i in range(len(s) - 2):
        h = hashlib.md5(f"{seed}:{s[i:i+3]}".encode()).hexdigest()
        out.append(int(h[:15], 16) % n_features)
    return out


def _py_score(text, weights, biases, n_features, seed):
    present = sorted(set(_py_buckets(text, n_features, seed)))
    scores = {
        c: biases[c] + sum(weights[c][b] for b in present) for c in weights
    }
    best = max(scores.values())
    pred = min(c for c in scores if scores[c] == best)
    return pred, best, len(present)


def test_scorer_matches_python_replay(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(40)
    n = len(LID_WEIGHTS_MICRO[sorted(LID_WEIGHTS_MICRO)[0]])
    rows = langid_model_scores(
        docs, LID_WEIGHTS_MICRO, LID_BIASES_MICRO, carry_cols=["text"]
    ).collect()
    assert len(rows) == 40
    for r in rows:
        pred, score, ntri = _py_score(
            r["text"], LID_WEIGHTS_MICRO, LID_BIASES_MICRO, n, "lid"
        )
        assert (r["pred_lang"], r["score_micro"], r["n_trigrams"]) == (
            pred,
            score,
            ntri,
        ), r["doc_id"]


def test_committed_weights_match_golden():
    with open(GOLDEN) as fh:
        g = json.load(fh)
    assert g["metrics"] == LID_TRAIN_METRICS
    assert g["classes"] == sorted(LID_WEIGHTS_MICRO)
    assert g["biases_micro"] == LID_BIASES_MICRO
    assert g["weights_micro_l1"] == {
        c: sum(abs(w) for w in ws) for c, ws in LID_WEIGHTS_MICRO.items()
    }


def test_holdout_beats_majority():
    assert (
        LID_TRAIN_METRICS["valid_agreement"]
        > LID_TRAIN_METRICS["train_majority_rate"]
    )
    assert LID_TRAIN_METRICS["valid_agreement"] >= 0.95


def test_scorer_plan_is_map_only(spark):
    docs = load_table(spark, SF_DIR, "documents")
    q = langid_model_scores(docs, LID_WEIGHTS_MICRO, LID_BIASES_MICRO)
    plan = q._jdf.queryExecution().executedPlan().toString()
    # the only Exchange allowed is load_table's round-robin spread of
    # the narrow toy input — the scorer itself adds NO shuffle
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_short_and_null_text_score_bare_biases(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "xy")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in langid_model_scores(
            df, LID_WEIGHTS_MICRO, LID_BIASES_MICRO
        ).collect()
    }
    best_bias = max(LID_BIASES_MICRO.values())
    pred_bias = min(
        c for c, b in LID_BIASES_MICRO.items() if b == best_bias
    )
    for i in (1, 2):
        assert rows[i]["n_trigrams"] == 0
        assert rows[i]["score_micro"] == best_bias
        assert rows[i]["pred_lang"] == pred_bias
    # 2-char text still yields one padded trigram window per side or
    # none — either way it scores without error
    assert rows[3]["pred_lang"] is not None


def test_trigram_buckets_padding(spark):
    """Boundary markers: a marker word at text start/end still
    produces its boundary trigram (the reason padding exists)."""
    df = spark.createDataFrame([("a table",)], "text string")
    n = 256
    got = df.select(
        trigram_buckets("text", n_features=n).alias("b")
    ).collect()[0]["b"]
    want = _py_buckets("a table", n, "lid")
    assert list(got) == want
    # ' a ' present because of the leading pad
    h = hashlib.md5(b"lid: a ").hexdigest()
    assert (int(h[:15], 16) % n) in got


def test_mismatched_classes_raise(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        langid_model_scores(df, {"en": [0] * 4}, {"und": 0})
    with pytest.raises(ValueError):
        langid_model_scores(
            df, {"en": [0] * 4, "und": [0] * 3}, {"en": 0, "und": 0}
        )


def test_front_door_language_gate(spark):
    """crawl_front_door's learned language stage: labels ride the
    cleaned text, off-language docs drop, and composing with the
    quality stage keeps both contracts (score_micro AND pred_lang)
    with no shuffle join between the two map-only stages."""
    from big_data_song_recommendation_spark.ml.quality_weights import (
        QCLF_BIAS_MICRO,
        QCLF_WEIGHTS_MICRO,
    )
    from big_data_song_recommendation_spark.operators.quality import (
        crawl_front_door,
    )

    # corpus-realistic texts, picked by the model itself: a synthetic
    # off-vocabulary sentence can collide novel trigrams into marker
    # buckets (happened: 'rk '/'p o' collided with 'and'/' th'), which
    # tests the hash, not the gate
    docs = load_table(spark, SF_DIR, "documents")
    preds = {
        r["pred_lang"]: r["text"]
        for r in langid_model_scores(
            docs, LID_WEIGHTS_MICRO, LID_BIASES_MICRO, carry_cols=["text"]
        )
        .filter(F.col("pred_lang").isin(["en", "und"]))
        .orderBy("doc_id")
        .collect()
    }
    assert {"en", "und"} <= set(preds)
    wrap = "<html><body><p>{}.</p></body></html>".format
    df = spark.createDataFrame(
        [(1, wrap(preds["en"])), (2, wrap(preds["und"]))],
        "doc_id long, html string",
    )
    out = crawl_front_door(
        df,
        min_lines_kept=1,
        langid_weights=(LID_WEIGHTS_MICRO, LID_BIASES_MICRO),
        allowed_langs=["en"],
    ).collect()
    assert [r["doc_id"] for r in out] == [1]
    assert out[0]["pred_lang"] == "en"
    both = crawl_front_door(
        df,
        min_lines_kept=1,
        quality_weights=(QCLF_WEIGHTS_MICRO, QCLF_BIAS_MICRO),
        langid_weights=(LID_WEIGHTS_MICRO, LID_BIASES_MICRO),
    )
    assert {"score_micro", "is_quality", "pred_lang"} <= set(both.columns)
    rows = {r["doc_id"]: r for r in both.collect()}
    assert rows[1]["pred_lang"] == "en" and rows[2]["pred_lang"] == "und"
    plan = both._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_train_langid_metrics_shape(spark):
    docs = load_table(spark, SF_DIR, "documents")
    m = train_langid(docs, n_features=64, min_rate_gap=0.5)
    assert set(m.weights_micro) == set(m.biases_micro)
    assert all(len(w) == 64 for w in m.weights_micro.values())
    assert 0.0 <= m.metrics["valid_agreement"] <= 1.0
