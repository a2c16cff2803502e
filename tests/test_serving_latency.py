"""Serving-latency regression pins (VERDICT r6 #6).

SERVING_LATENCY.json was measured once (r6) and showed the precomputed
layout ~6× faster than on-demand at sf0.1 (p50 129 ms vs 775 ms).  A
probe measured once can silently regress; these pins run the SAME
probe (scripts/serving_probe.run_probe) and fail loudly if a serving
path drifts past ~2× the recorded numbers.

Thresholds are deliberately generous (the host is shared; bench walls
swing ±30% ambient): a pass does not certify speed, a FAIL certifies a
real regression.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
)

SF_DIR = os.environ.get("SPARK_GRAFT_SERVING_SF_DIR", "/root/testdata/sf0.1")

# measured r6 p50 (ms) → pinned at ~2× headroom
PINS_P50_MS = {
    "collaborative_precomputed": 300.0,  # measured 129
    "content_precomputed": 350.0,  # measured 151
    "hybrid_precomputed": 800.0,  # measured 364
    "bm25_indexed": 650.0,  # measured 304 (r8, postings layout)
    # one lookup job + one action per request (sf0.1, control 44.5 ms)
    "srp_indexed": 670.0,  # measured 334.5
    "ivfpq_indexed": 960.0,  # measured 479.5
}

# Same-run control p50 (serving_probe: fresh tiny single-stage plan +
# one job + collect; min of a start-of-probe and end-of-probe sample)
# measured on this box idle: ~34 ms warm (SERVING_LATENCY.json r13).
# The endpoints and the control share the same floor (py4j assembly +
# Catalyst + job scheduling), so on a loaded box both inflate
# together: the pins scale by control_now / CONTROL_REF instead of
# failing on ambient load — VERDICT r12 "What's wrong #2" (the r12
# driver run tripped these absolute pins purely on host contention).
# REF sits just above the idle floor so any real load scales the pins.
CONTROL_REF_P50_MS = 40.0


@pytest.mark.slow
def test_precomputed_serving_latency_pins(spark):
    from serving_probe import run_probe

    report = run_probe(SF_DIR, n_req=15, spark=spark)
    # never scale DOWN (an unusually fast control must not turn the
    # generous 2x pins into tight ones); scale up under observed load
    scale = max(1.0, report["control"]["p50_ms"] / CONTROL_REF_P50_MS)
    failures = {
        k: (report[k]["p50_ms"], pin, round(scale, 2))
        for k, pin in PINS_P50_MS.items()
        if report[k]["p50_ms"] > pin * scale
    }
    assert not failures, (
        f"serving p50 regression (got_ms, pin_ms, load_scale): {failures}; "
        f"control: {report['control']}; "
        f"full report: { {k: report[k] for k in PINS_P50_MS} }"
    )
    # the layout claims themselves: precomputed must beat on-demand,
    # and the BM25 postings index must beat the per-query corpus scan
    assert (
        report["collaborative_precomputed"]["p50_ms"]
        < report["collaborative_on_demand"]["p50_ms"]
    ), report
    assert (
        report["bm25_indexed"]["p50_ms"] < report["bm25_scan"]["p50_ms"]
    ), report
