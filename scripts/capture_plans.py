"""Capture .explain("formatted") for named queries under the bench
session conf (same sizing as bench.py so the audited plan is the
benched plan). Writes plans/$SPARK_GRAFT_PLANS_ROUND/<qNN>_<suffix>.txt
per query (round dir defaults to the current round).

Usage: python scripts/capture_plans.py <suffix> qNN [qNN ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR, bench_session  # noqa: E402
from big_data_song_recommendation_spark.plans import QUERIES  # noqa: E402

OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r13"),
)


def main() -> None:
    suffix = sys.argv[1]
    prefixes = sys.argv[2:]
    names = [n for n in sorted(QUERIES) if any(n.startswith(p) for p in prefixes)]
    if not names:
        print(f"no queries match {prefixes}")
        sys.exit(2)
    spark, _ = bench_session("capture-plans")
    os.makedirs(OUT_DIR, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        short = name.split("_")[0]
        path = os.path.join(OUT_DIR, f"{short}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"-- {name} @ {SF_DIR}\n")
            fh.write(plan)
        print(f"{name} -> {path} ({plan.count('Exchange')} Exchange)")
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
