"""Decompose the per-query bench floor: for every registered query at
$SPARK_GRAFT_SF_DIR, measure (a) DataFrame construction wall (pure
py4j/logical-plan building), (b) execution wall (noop write), and
(c) the number of Spark jobs the execution launched (job-group query)
— the three candidate components of the fixed ~0.3-0.5 s/query floor
NOTES_r3 identifies. Prints a sorted table + totals.

Usage: python scripts/floor_probe.py [qNN ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR, bench_session, warm_up  # noqa: E402
from big_data_song_recommendation_spark.plans import QUERIES  # noqa: E402


def main() -> None:
    only = {a for a in sys.argv[1:]}
    spark, _ = bench_session("floor_probe")
    sc = spark.sparkContext
    warm_up(spark)

    rows = []
    for name, fn in sorted(QUERIES.items()):
        short = name.split("_")[0]
        if only and short not in only and name not in only:
            continue
        best = (float("inf"),) * 2 + (0,)
        for _ in range(2):
            group = f"{short}-{time.monotonic_ns()}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            tracker = sc.statusTracker()
            njobs = len(tracker.getJobIdsForGroup(group))
            if t2 - t0 < best[0] + best[1]:
                best = (t1 - t0, t2 - t1, njobs)
        rows.append((short, *best))
        sc.setJobGroup("", "")

    rows.sort(key=lambda r: -(r[1] + r[2]))
    print(f"{'q':6} {'build':>7} {'exec':>7} {'jobs':>5}")
    for short, b, e, j in rows:
        print(f"{short:6} {b:7.3f} {e:7.3f} {j:5d}")
    tb = sum(r[1] for r in rows)
    te = sum(r[2] for r in rows)
    tj = sum(r[3] for r in rows)
    print(f"{'TOTAL':6} {tb:7.2f} {te:7.2f} {tj:5d}  ({len(rows)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
