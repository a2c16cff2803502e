"""Bounded-heap full-roster sweep — the VERDICT r12 #4 repro, inverted.

NOTES_r12 recorded that a vanilla 1 GiB-driver session running the full
183-query roster OOMs around query ~150 from accumulated cache /
localCheckpoint blocks and plan state. The fix is per-query state
release (``session.release_query_state``), which bench.py now performs
after every timed run. This script IS that repro, run under the fixed
policy: the whole roster, noop-forced, in ONE small-heap session, with
a release after each query and an assertion that the block manager
returns to zero persisted RDDs every time.

Run (respawns itself so the small heap is real, not inherited):

    python scripts/bounded_sweep.py [sf_dir] [driver_mem]

defaults: /root/testdata/sf0.1, 1g.  Exit 0 = completed the full
roster with storage flat; any OOM or lingering block fails loudly.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    mem = sys.argv[2] if len(sys.argv) > 2 else "1g"
    if os.environ.get("_BOUNDED_SWEEP_CHILD") != "1":
        # respawn with the bounded heap pinned in the env the session
        # factory reads, so the JVM really starts at `mem`
        env = dict(os.environ)
        env["SPARK_GRAFT_DRIVER_MEM"] = mem
        env["_BOUNDED_SWEEP_CHILD"] = "1"
        os.execve(sys.executable, [sys.executable, os.path.abspath(__file__), sf_dir, mem], env)

    from big_data_song_recommendation_spark.plans import QUERIES
    from big_data_song_recommendation_spark.session import (
        get_spark,
        release_query_state,
    )

    spark = get_spark("bounded-sweep", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    lingering: list[str] = []
    t0 = time.perf_counter()
    for i, (name, fn) in enumerate(sorted(QUERIES.items()), 1):
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        release_query_state(spark)
        left = len(spark.sparkContext._jsc.getPersistentRDDs())
        if left:
            lingering.append(f"{name}: {left} persisted RDDs after release")
        print(f"[{i}/{len(QUERIES)}] {name} ok (persisted after release: {left})", flush=True)
    wall = round(time.perf_counter() - t0, 1)
    print(
        json.dumps(
            {
                "metric": "bounded_heap_roster_sweep",
                "driver_mem": mem,
                "sf_dir": sf_dir,
                "n_queries": len(QUERIES),
                "wall_s": wall,
                "lingering": lingering,
                "ok": not lingering,
            }
        )
    )
    spark.stop()
    sys.exit(1 if lingering else 0)


if __name__ == "__main__":
    main()
