"""Smoke test of the benchmark: both workloads on the generated inputs
(about the sf0.001 test data) with a one-second window, traced and
untraced. Checks that every metric BENCHMARK.json names is reported with
its unit, that nothing failed, and that the spans of a traced run nest.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
It starts four Spark sessions and takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
#: JVM job and stage times have millisecond resolution
CLOCK_SLACK_S = 0.005


def _run(workload: str, trace: int, tmp_path) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, *BENCH["command"][1:]), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload(workload, trace, tmp_path):
    detail, result = _run(workload, trace, tmp_path)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert detail["named"]["failed_frac"]["value"] == 0
    wanted = BENCH["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0, m["name"]
    if trace:
        tag = f"{workload}-seed7-trace1"
        with open(os.path.join(ROOT, ".perfbench_out", f"{tag}.spans.json")) as fh:
            _assert_nested(json.load(fh))


def _assert_nested(spans: list[dict]) -> None:
    by_id = {s["id"]: s for s in spans}
    roots = [s for s in spans if s["parent"] is None]
    assert len(roots) == 1 and roots[0]["name"].startswith("run:")
    kinds = set()
    for s in spans:
        assert s["end"] is not None and s["start"] <= s["end"] + CLOCK_SLACK_S, s
        if s["parent"] is None:
            continue
        p = by_id[s["parent"]]
        assert p["start"] - CLOCK_SLACK_S <= s["start"], (s, p)
        assert s["end"] <= p["end"] + CLOCK_SLACK_S, (s, p)
        if p["parent"] is not None:  # below an operation, one trace id
            assert s["trace"] == p["trace"], (s, p)
        kinds.add(s["name"].split(":")[0])
    assert {"build", "release", "telemetry"} & kinds
