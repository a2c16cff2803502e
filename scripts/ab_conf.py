"""Interleaved A/B for session-level (non-runtime-settable) Spark conf
on the bench subset. Host vCPU contention swings absolute walls ±50%
at minute scale (NOTES_r3), so same-session sweeps mislead; this runs
baseline and variant in ALTERNATING fresh JVMs (A,B,A,B,...) and
compares per-query minima across rounds.

Usage: python scripts/ab_conf.py '{"spark.shuffle.compress":"false"}' [rounds]
Child mode (internal): python scripts/ab_conf.py --child '<json conf>'
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

SUB = [
    "q01_pricing_summary", "q02_top_orders_by_revenue", "q04_event_type_stats",
    "q10_hourly_events", "q15_doc_exact_dedup", "q17_ngram_jaccard_pairs",
    "q20_minhash_lsh_pairs", "q26_rollup_revenue", "q39_late_shipment_priorities",
    "q54_item_cooccurrence", "q61_large_volume_customers", "q70_repetition_quality",
    "q71_decontamination", "q73_keyword_tfidf", "q77_corpus_bigrams",
]


def child(extra: dict) -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import SF_DIR, bench_session, warm_up
    from big_data_song_recommendation_spark.plans import QUERIES

    spark, _ = bench_session("ab_child", extra)
    warm_up(spark)
    out = {}
    for n in SUB:
        df = QUERIES[n](spark, SF_DIR)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out[n] = time.perf_counter() - t0
    print("ABRESULT " + json.dumps(out))
    spark.stop()


def main() -> None:
    if sys.argv[1] == "--child":
        child(json.loads(sys.argv[2]))
        return
    variant = json.loads(sys.argv[1])
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    acc = {"A": {}, "B": {}}
    for r in range(rounds):
        for tag, conf in (("A", {}), ("B", variant)):
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--child", json.dumps(conf)],
                capture_output=True, text=True, timeout=600,
                cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            )
            for line in p.stdout.splitlines():
                if line.startswith("ABRESULT "):
                    res = json.loads(line[9:])
                    for k, v in res.items():
                        acc[tag][k] = min(acc[tag].get(k, 9e9), v)
            print(f"round {r} {tag} done", file=sys.stderr)
    ta = sum(acc["A"].values())
    tb = sum(acc["B"].values())
    print(f"{'query':32s} {'A':>7} {'B':>7} {'B/A':>6}")
    for k in SUB:
        a, b = acc["A"].get(k, float("nan")), acc["B"].get(k, float("nan"))
        print(f"{k:32s} {a:7.3f} {b:7.3f} {b/a:6.2f}")
    print(f"{'TOTAL':32s} {ta:7.2f} {tb:7.2f} {tb/ta:6.2f}")


if __name__ == "__main__":
    main()
