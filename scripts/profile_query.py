"""Decompose a query's bench wall into plan-construction vs execution
under the EXACT bench session conf (same sizing knobs as bench.py).

For each named query, each run REBUILDS the plan and releases all
cache/checkpoint blocks afterwards — the r13 honest bench protocol —
and prints per-run (build, exec) plus build_min / exec_min /
total_min, where total_min = min(build_i + exec_i) corresponds to the
bench's recorded number.
Usage: python scripts/profile_query.py qNN [qNN ...] [--runs N]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR, bench_session, warm_up  # noqa: E402
from big_data_song_recommendation_spark.plans import QUERIES  # noqa: E402
from big_data_song_recommendation_spark.session import (  # noqa: E402
    release_query_state,
)


def _stage_report(spark, min_ms: int = 50) -> list[str]:
    """Per-stage wall/metrics from the UI REST API (guide §7.1) for the
    stages submitted since the last call — sorted by duration desc."""
    import json as _json
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/stages?status=complete") as r:
        stages = _json.load(r)
    seen = _stage_report._seen
    out = []
    for s in stages:
        sid = (s["stageId"], s["attemptId"])
        if sid in seen:
            continue
        seen.add(sid)
        dur = s.get("executorRunTime", 0)
        out.append(
            (
                dur,
                f"  stage {s['stageId']} tasks={s['numCompleteTasks']} "
                f"runTime={dur}ms cpu={s.get('executorCpuTime', 0) // 1_000_000}ms "
                f"shufR={s.get('shuffleReadBytes', 0) >> 10}K shufW={s.get('shuffleWriteBytes', 0) >> 10}K "
                f"in={s.get('inputBytes', 0) >> 10}K | {s['name'].splitlines()[0][:80]}",
            )
        )
    out.sort(key=lambda t: -t[0])
    return [line for dur, line in out if dur >= min_ms]


_stage_report._seen = set()


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 3
    stages = "--stages" in sys.argv
    args = [a for a in args if a != "--stages"]
    for a in sys.argv[1:]:
        if a.startswith("--runs"):
            runs = int(a.split("=")[1] if "=" in a else sys.argv[sys.argv.index(a) + 1])
    names = [n for n in sorted(QUERIES) if any(n.startswith(p) for p in args)]
    if not names:
        print(f"no queries match {args}")
        sys.exit(2)
    # the session factory disables the UI; the profiler needs the
    # REST status API for per-stage attribution
    spark, _ = bench_session("profile-query", {"spark.ui.enabled": "true"})
    warm_up(spark)  # same warmup as bench.py so JIT state is comparable
    # r13: mirror the honest bench protocol — REBUILD the plan per run
    # and release all cache/checkpoint blocks between runs, so no run
    # is served from a previous run's materialized state. build/exec
    # are reported per run; the bench's recorded number corresponds to
    # min(build_i + noop_i).
    for name in names:
        spark.sparkContext.setJobDescription(name)
        builds, walls = [], []
        for i in range(runs):
            if stages and i == runs - 1:
                _stage_report(spark)  # flush stages from earlier runs
            t0 = time.perf_counter()
            df = QUERIES[name](spark, SF_DIR)
            builds.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
            if stages and i == runs - 1:
                for line in _stage_report(spark):
                    print(line)
            release_query_state(spark)
        print(
            f"{name}: "
            + " ".join(
                f"run{i + 1}=(b={b:.3f},x={w:.3f})"
                for i, (b, w) in enumerate(zip(builds, walls))
            )
            + f" build_min={min(builds):.3f} exec_min={min(walls):.3f}"
            + f" total_min={min(b + w for b, w in zip(builds, walls)):.3f}"
        )
        spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
