"""Physical-plan audit over every registered query: the .explain()
discipline, mechanized. For each query (built under the
bench-equivalent session conf) count the plan features that decide
100 TB behavior — exchanges (shuffles), broadcasts, sorts, whole-stage
codegen spans, scan pushdown — and flag the shapes that do not scale
(CartesianProduct on non-broadcast inputs, missing pushdown, Python
row-at-a-time eval).

Writes PLAN_AUDIT_r{N}.md (arg 1, default 4) as a reviewable artifact.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR, bench_session  # noqa: E402
from big_data_song_recommendation_spark.plans.queries import QUERIES  # noqa: E402


def audit(plan: str) -> dict:
    return {
        "exchanges": plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning"),
        "single_part": plan.count("Exchange SinglePartition"),
        "broadcasts": plan.count("BroadcastExchange"),
        "sorts": len(re.findall(r"\bSort \[", plan)),
        "wscg": len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
                    # executedPlan().toString() renders codegen spans as
                    # "*(N) Operator" prefixes, not WholeStageCodegen nodes
                    | set(re.findall(r"\*\((\d+)\) ", plan))),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "smj": plan.count("SortMergeJoin"),
        "shj": plan.count("ShuffledHashJoin"),
        "bhj": plan.count("BroadcastHashJoin"),
        "arrow": plan.count("MapInPandas") + plan.count("FlatMapGroupsInPandas"),
        "python_row": plan.count("BatchEvalPython"),  # row-at-a-time — banned
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "scans": plan.count("FileScan parquet"),
    }


def main() -> None:
    n = sys.argv[1] if len(sys.argv) > 1 else "4"
    spark, _ = bench_session("plan_audit", {"spark.sql.adaptive.enabled": "false"})
    rows, flags = [], []
    for name, fn in sorted(QUERIES.items()):
        try:
            plan = (
                fn(spark, SF_DIR)
                ._jdf.queryExecution().executedPlan().toString()
            )
        except Exception as exc:  # pragma: no cover
            flags.append(f"- **{name}**: plan build FAILED: {exc}")
            continue
        a = audit(plan)
        rows.append((name, a))
        if a["python_row"]:
            flags.append(f"- **{name}**: row-at-a-time Python eval (banned)")
        if a["cartesian"]:
            flags.append(f"- **{name}**: CartesianProduct")
    out = [
        f"# Plan audit — round {n} (sf_dir={SF_DIR})",
        "",
        "Per-query physical-plan features, fresh-built under the bench",
        "session conf (AQE off so the STATIC plan is what's audited).",
        "`exch`=hash/range exchanges, `1p`=single-partition exchanges",
        "(metadata-grain prefix-sum windows, sketch summaries and other",
        "global aggregates), `bc`=broadcast exchanges,",
        "`wscg`=whole-stage codegen spans, `arrow`=Arrow-batched Python",
        "operators, `pyrow`=row-at-a-time Python (must be 0).",
        "",
        "| query | exch | 1p | bc | sorts | wscg | bhj | shj | smj | bnlj | arrow | pyrow | scans | pushed |",
        "|---|---|---|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, a in rows:
        out.append(
            f"| {name} | {a['exchanges']} | {a['single_part']} | {a['broadcasts']} "
            f"| {a['sorts']} | {a['wscg']} | {a['bhj']} | {a['shj']} | {a['smj']} "
            f"| {a['bnlj']} | {a['arrow']} | {a['python_row']} | {a['scans']} "
            f"| {a['pushed']} |"
        )
    out += ["", "## Flags", ""]
    out += flags or ["- none — no cartesians, no row-at-a-time Python"]
    tot = {k: sum(a[k] for _, a in rows) for k in rows[0][1]}
    out += [
        "",
        f"Totals over {len(rows)} queries: {tot['exchanges']} shuffles, "
        f"{tot['broadcasts']} broadcasts, {tot['python_row']} row-Python evals, "
        f"{tot['cartesian']} cartesians.",
    ]
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        f"PLAN_AUDIT_r{n}.md",
    )
    with open(path, "w") as fh:
        fh.write("\n".join(out) + "\n")
    print(f"wrote {path}: {len(rows)} queries, {len(flags)} flags")
    spark.stop()


if __name__ == "__main__":
    main()
