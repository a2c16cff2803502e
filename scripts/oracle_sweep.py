"""The oracle check: every registered query beside its DuckDB twin.

Runs ``entry(spark)`` once, then the selected ``__spark_entry__.queries()``
in name order, each beside its ``oracle_sql()`` twin, in a vanilla
``local[*]`` session with Spark's default 1 GiB driver heap: the session
an external driver brings. After each query ``release_query_state``
frees the blocks it pinned and the persistent RDDs still left are
counted. A query with no oracle gets a rows-only record; an exception
is recorded and the sweep goes on. Exit 1 on any FAIL, ERR or leftover
RDD.

Usage (from the repo root, so Python workers import the package):

    python scripts/oracle_sweep.py [--sf DIR] [--only PREFIX ...]
                                   [--changed-since [REF]] [--out FILE]

``--changed-since`` sweeps the queries ``registry_head.changed_queries``
attributes to the diff against REF, or the whole roster when the diff
is not fully attributable or other package files changed, then runs the
value-parity and output-type test suites. REF defaults to ``HEAD``, so
with no REF only UNCOMMITTED changes are checked; to check committed
work, pass the commit it started from. The sweep never writes
``plans/registry_head.txt``.

``normalize`` and ``compare`` are the project's one result normalizer
and comparator; ``tests/conftest.py`` imports them.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys
import traceback

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import registry_head  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from big_data_song_recommendation_spark.session import (  # noqa: E402
    release_query_state,
)
from big_data_song_recommendation_spark.sources.readers import (  # noqa: E402
    TESTDATA_TABLES,
)

#: the driver's per-query correctness record
FIELDS = (
    "rows_match", "schema_match", "hash_match", "spark_rows", "oracle_rows", "err"
)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, render every cell exactly as a string, sort rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            df[c] = col.dt.tz_localize(None).dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_float_dtype(col):
            # exact parity expected (queries round in-plan); repr keeps
            # full precision so genuine drift still fails loudly
            df[c] = col.map(
                lambda v: "NaN" if v is None or math.isnan(v) else repr(float(v))
            )
        else:
            df[c] = col.map(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when two normalized frames match, else a short diff."""
    if list(got.columns) != list(want.columns):
        return f"column mismatch {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} vs {len(want)}"
    # cells compare as strings, so an empty frame's dtype and a NaT
    # rendered as NaN on both sides cannot fail a match
    bad = (got.astype(str) != want.astype(str)).any(axis=1)
    if not bad.any():
        return None
    return (
        f"value mismatch on {int(bad.sum())}/{len(got)} rows\n"
        f"spark:\n{got[bad].head(10)}\noracle:\n{want[bad].head(10)}"
    )


def check(spark, con, fn, sf_dir: str, oracle: str | None):
    """Run one query beside its oracle SQL (None: rows only), then
    release. Returns (record, diff or None, persistent RDDs left)."""
    rec, diff = dict.fromkeys(FIELDS), None
    try:
        got = fn(spark, sf_dir).toPandas()
        rec["spark_rows"] = len(got)
        if oracle is None:
            rec["err"] = "no_oracle"
        else:
            want = con.execute(oracle).df()
            rec["oracle_rows"] = len(want)
            got, want = normalize(got), normalize(want)
            rec["rows_match"] = len(got) == len(want)
            rec["schema_match"] = list(got.columns) == list(want.columns)
            diff = compare(got, want)
            rec["hash_match"] = diff is None
    except Exception as exc:  # noqa: BLE001 — record, keep sweeping
        traceback.print_exc()
        rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
    finally:
        release_query_state(spark)
    return rec, diff, len(spark.sparkContext._jsc.getPersistentRDDs())


def changed_since(ref: str) -> set[str] | None:
    """Queries changed since ``ref`` (default ``HEAD``: uncommitted
    changes only), or None when the diff calls for the whole roster;
    prints the base and, on a fallback, why."""
    base = ref or "HEAD"
    names, fully_mapped, other = registry_head.changed_queries(base)
    print(f"base={base}: {len(names)} changed queries: {sorted(names)}")
    if not names and fully_mapped and not other:
        print(f"no query changed against {base}; committed work needs "
              "--changed-since <the commit it started from>")
    if not fully_mapped:
        print("full roster: a changed line in plans/queries.py or "
              "plans/oracles.py maps to no query")
    if other:
        print(f"full roster: package files outside plans/ changed: {other}")
    return names if fully_mapped and not other else None


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf", default="/root/testdata/sf0.01", metavar="DIR")
    ap.add_argument("--only", nargs="+", default=[], metavar="PREFIX")
    ap.add_argument(
        "--changed-since", nargs="?", const="", metavar="REF",
        help="sweep only queries changed against REF (default HEAD: "
        "uncommitted changes only)",
    )
    ap.add_argument("--out", metavar="FILE")
    args = ap.parse_args()

    queries, oracles = entry.queries(), entry.oracle_sql()
    names = sorted(queries)
    if args.only:
        names = [n for n in names if n.startswith(tuple(args.only))]
    if args.changed_since is not None:
        changed = changed_since(args.changed_since)
        if changed is not None:
            names = [n for n in names if n in changed]

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.master("local[*]").appName("oracle-sweep")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    print(f"entry rows: {len(entry.entry(spark).collect())}", flush=True)
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(args.sf, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    records, bad = {}, []
    for i, name in enumerate(names, 1):
        rec, diff, left = check(spark, con, queries[name], args.sf, oracles.get(name))
        records[name] = rec
        if not (rec["hash_match"] or rec["err"] == "no_oracle") or left:
            bad.append(name)
        verdict = "ok" if rec["hash_match"] else rec["err"] or "FAIL"
        print(f"[{i}/{len(names)}] {name}: {verdict}, {left} RDDs left", flush=True)
        if diff:
            print(f"  {diff}", flush=True)
    spark.stop()

    if args.out:
        with open(args.out, "w") as fh:
            json.dump(records, fh, indent=2)
    n_ok = sum(1 for r in records.values() if r["hash_match"])
    n_rows = sum(1 for r in records.values() if r["err"] == "no_oracle")
    print(f"\n{n_ok} hash-green, {n_rows} rows-only, sf={args.sf}")
    print("FAILS:", bad)
    if bad:
        sys.exit(1)
    if args.changed_since is not None:
        suites = ["tests/test_oracle_parity.py", "tests/test_dtype_contract.py"]
        pytest = [sys.executable, "-m", "pytest", *suites, "-q", "-x"]
        sys.exit(subprocess.run(pytest, cwd=REPO).returncode)


if __name__ == "__main__":
    main()
