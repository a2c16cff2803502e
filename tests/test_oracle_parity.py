"""Every oracle-checked query must match DuckDB bit-for-bit at the
test scale factor — the local mirror of the driver's t2 gate."""

from __future__ import annotations

import pytest

from big_data_song_recommendation_spark.plans import ORACLES, QUERIES

from oracle_sweep import FIELDS, check

from .conftest import SF_DIR, assert_matches_oracle
from .test_dtype_contract import SCHEMAS, assert_type_classes


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    assert name in QUERIES, f"oracle {name} has no spark query"
    df = QUERIES[name](spark, SF_DIR)
    # output type classes first: a decimal/double or int/float slip
    # fails the value hash below with a far less readable diff
    SCHEMAS[name] = df.schema
    assert_type_classes(df.schema, duck, name)
    assert_matches_oracle(df, duck, ORACLES[name], name)


def test_every_query_has_oracle_or_is_declared():
    # queries without oracles are allowed (rows-only gate) but must be
    # deliberate: keep the allowlist here explicit.
    rows_only_allowed = {
        # q40/q41/q43/q47 left this list in round 10 and q42 in round
        # 11: all now serve from committed artifacts (ml/als_factors,
        # ml/centroids, ml/tfidf_vocab) and are oracle-checked; the
        # MLlib fits stay golden-pinned in tests/test_ml_goldens.py.
        # iterative BPE trainer — an oracle would need n_merges
        # unrolled recursive list-rebuild CTEs; pinned against a
        # pure-Python reference trainer instead (tests/test_bpe.py)
        "q139_bpe_merges",
    }
    missing = set(QUERIES) - set(ORACLES) - rows_only_allowed
    assert not missing, f"queries missing oracles: {missing}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["r_name", "n_name", "revenue", "n_orders", "n_customers"]


def test_oracle_sweep_check_records_and_releases(spark, duck):
    # the sweep's per-query check, in this session: a six-field driver
    # record, hash-green, nothing left pinned after its release
    for name in ("q01_pricing_summary", "q22_doc_quality"):
        rec, diff, left = check(spark, duck, QUERIES[name], SF_DIR, ORACLES[name])
        assert tuple(rec) == FIELDS
        assert rec["hash_match"] is True, f"{name}: {diff}"
        assert left == 0
    # a wrong oracle (same text, no rows) must fail rows and hash
    q01 = "q01_pricing_summary"
    rec, diff, _ = check(spark, duck, QUERIES[q01], SF_DIR, ORACLES[q01] + " LIMIT 0")
    assert rec["rows_match"] is False and rec["hash_match"] is False
    assert rec["spark_rows"] > 0 and rec["oracle_rows"] == 0 and rec["err"] is None
    assert diff.startswith("row count")
