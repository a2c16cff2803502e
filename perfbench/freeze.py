"""Regenerate the benchmark's frozen inputs from a warm trace of every
registered query on the check dataset (``harness.CHECK_SEED``):

- ``membership.json``: the class ``batch_buildjobs`` holds the queries
  whose plan build launches a Spark job in a warm session,
  ``batch_light`` the rest. The queries are split into shards that each
  hold their share of both classes and are balanced on median and mean
  warm time; a run of the ``batch`` workload times the shard its seed
  selects.
- ``expected.json``: the result hash of every query on the check
  dataset. It comes from the query's DuckDB twin where the twin agrees
  with the engine, else from the engine's own output; those queries are
  listed under ``from_engine``.

Run from the repository root: ``python3 perfbench/freeze.py``. It takes a
few minutes. Freeze again only when the query registry changes, and say
so in the change that does it.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import datagen  # noqa: E402
import harness  # noqa: E402

#: shards of the batch workload; sized so that warming up on a shard and
#: then timing it fit one run
SHARDS = 40


def _cost(shards: list[list[str]], warm: dict[str, float]) -> float:
    meds = [statistics.median(warm[q] for q in s) for s in shards]
    means = [statistics.mean(warm[q] for q in s) for s in shards]
    return max(meds) / min(meds) + max(means) / min(means)


def balanced_shards(classes: list[list[str]], warm: dict[str, float], k: int) -> list[list[str]]:
    """Deal each class of queries into ``k`` shards in snake order of warm
    time, so every shard holds its share of each class, then swap pairs
    within a class while the spread of shard medians and means does not
    grow."""
    shards: list[list[str]] = [[] for _ in range(k)]
    for names in classes:
        # start each class where the previous one left off, so the
        # remainders spread over different shards
        offset = sum(len(s) for s in shards)
        for i, q in enumerate(sorted(names, key=lambda q: (warm[q], q))):
            rnd, pos = divmod(i + offset, k)
            shards[pos if rnd % 2 == 0 else k - 1 - pos].append(q)
    cls = {q: c for c, names in enumerate(classes) for q in names}
    rng = random.Random(0)
    best = _cost(shards, warm)
    for _ in range(20_000):
        a, b = rng.sample(range(k), 2)
        i, j = rng.randrange(len(shards[a])), rng.randrange(len(shards[b]))
        if cls[shards[a][i]] != cls[shards[b][j]]:
            continue
        shards[a][i], shards[b][j] = shards[b][j], shards[a][i]
        c = _cost(shards, warm)
        if c <= best:
            best = c
        else:
            shards[a][i], shards[b][j] = shards[b][j], shards[a][i]
    return [sorted(s) for s in shards]


def write_membership(record: dict[str, dict]) -> dict[str, list[str]]:
    names = sorted(record)
    warm = {n: r["build_s"] + r["exec_s"] for n, r in record.items()}
    classes = {
        "batch_buildjobs": [n for n in names if record[n]["build_jobs"] > 0],
        "batch_light": [n for n in names if record[n]["build_jobs"] == 0],
    }
    membership = {
        "cpus": harness.cpus(),
        "check_seed": harness.CHECK_SEED,
        "warm_trace": record,
        "classes": classes,
        "shards": balanced_shards(list(classes.values()), warm, SHARDS),
    }
    with open(os.path.join(HERE, "membership.json"), "w") as fh:
        json.dump(membership, fh, indent=1, sort_keys=True)
    return classes


def main() -> None:
    work = os.path.join(ROOT, ".perfbench_work", f"freeze-{os.getpid()}")
    harness.configure_env(ROOT, work)
    sys.path.insert(0, ROOT)
    import duckdb

    from big_data_song_recommendation_spark.plans import ORACLES, QUERIES
    from big_data_song_recommendation_spark.session import release_query_state
    from big_data_song_recommendation_spark.sources.readers import TESTDATA_TABLES

    import spans as tr

    data = os.path.join(work, "check")
    datagen.generate(data, harness.CHECK_SEED)
    spark = harness.start_session(work)
    probe = tr.SparkProbe(spark)
    names = sorted(QUERIES)
    record: dict[str, dict] = {}
    try:
        for pass_no in range(2):  # pass 0 is the cold warm-up
            for name in names:
                g = probe.group("build")
                t0 = time.perf_counter()
                df = QUERIES[name](spark, data)
                t1 = time.perf_counter()
                probe.group("action")
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                probe.clear_group()
                jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(g))
                release_query_state(spark)
                record[name] = {"build_s": round(t1 - t0, 4), "exec_s": round(t2 - t1, 4),
                                "build_jobs": jobs}
            print(f"pass {pass_no} done", file=sys.stderr, flush=True)

        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        expected, from_engine = {}, []
        for name in names:
            got = check.frame_hash(QUERIES[name](spark, data).toPandas())
            release_query_state(spark)
            try:
                twin = check.frame_hash(con.execute(ORACLES[name]).df())
            except Exception as e:  # a twin DuckDB cannot run counts as disagreeing
                print(f"{name}: twin failed: {e}", file=sys.stderr)
                twin = None
            expected[name] = twin if twin == got else got
            if twin != got:
                from_engine.append(name)
        con.close()
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    classes = write_membership(record)
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump({"check_seed": harness.CHECK_SEED, "hashes": expected,
                   "from_engine": from_engine}, fh, indent=1, sort_keys=True)
    print(json.dumps({c: len(qs) for c, qs in classes.items()}), "from_engine:", from_engine)


if __name__ == "__main__":
    main()
