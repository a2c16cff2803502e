"""The oracle sweep's normalizer against the frozen benchmark's copy.

``perfbench/check.normalize`` hashes the benchmark's results and may not
change; ``scripts/oracle_sweep.normalize`` is the one every oracle check
uses. Both must render the same frame the same way, and ``compare`` must
flag the smallest column, row and value differences.
"""

from __future__ import annotations

import importlib.util
import math
import os

import pandas as pd

from oracle_sweep import compare, normalize

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _perfbench_check():
    path = os.path.join(ROOT, "perfbench", "check.py")
    spec = importlib.util.spec_from_file_location("perfbench_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _mixed() -> pd.DataFrame:
    ts = ["2024-01-02 03:04:05", "1999-12-31 23:59:59", "2024-01-02 03:04:06"]
    # whole seconds in one column, a microsecond in the other: a cell's
    # rendering must not depend on what else its column holds
    ts_us = [ts[0] + ".000001", *ts[1:]]
    return pd.DataFrame(
        {
            "ts_utc": pd.to_datetime(ts_us, format="ISO8601", utc=True),
            "ts_naive": pd.to_datetime(ts),
            "x": [0.1 + 0.2, float("nan"), -2.5],
            "label": ["a", None, "c"],
            "n": [3, -1, 2],
            "flag": [True, False, True],
        }
    )


def test_sweep_normalizer_matches_frozen_benchmark_copy():
    df = _mixed()
    ours, theirs = normalize(df), _perfbench_check().normalize(df)
    pd.testing.assert_frame_equal(ours, theirs)
    assert compare(ours, theirs) is None
    # every cell is an exact string: the NaN, None and sub-second parts survive
    assert list(ours.columns) == ["flag", "label", "n", "ts_naive", "ts_utc", "x"]
    assert set(ours["x"]) == {"0.30000000000000004", "NaN", "-2.5"}
    assert set(ours["label"]) == {"a", "None", "c"}
    assert "2024-01-02 03:04:05.000001" in set(ours["ts_utc"])
    assert "2024-01-02 03:04:05.000000" in set(ours["ts_naive"])


def test_compare_flags_ulp_drift_renamed_column_and_missing_row():
    df = _mixed()
    base = normalize(df)

    drifted = df.copy()
    drifted.loc[2, "x"] = math.nextafter(-2.5, math.inf)
    diff = compare(base, normalize(drifted))
    assert diff is not None and diff.startswith("value mismatch on 1/3 rows")

    diff = compare(base, normalize(df.rename(columns={"n": "count"})))
    assert diff is not None and diff.startswith("column mismatch")

    diff = compare(base, normalize(df.iloc[:-1]))
    assert diff == "row count 3 vs 2"
