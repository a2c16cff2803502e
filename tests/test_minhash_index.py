"""Persisted MinHash near-dup admission index (operators/dedup.py
build_minhash_index / near_dup_probe / merge_minhash_index): indexed
probe == in-session form, row-local signatures == the aggregate, merged == rebuilt bit-exactly, loud failure
modes, exact mirrors estimate 1.0."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_song_recommendation_spark.operators.dedup import (
    _row_signatures,
    build_minhash_index,
    merge_minhash_index,
    minhash_signatures,
    near_dup_pairs_vs_corpus,
    near_dup_probe,
)
from big_data_song_recommendation_spark.operators.similarity import (
    build_ivfpq_index,
    build_srp_index,
    ivfpq_topk_indexed,
    srp_knn_indexed,
)
from big_data_song_recommendation_spark.sources.readers import load_table

from .conftest import SF_DIR


def _corpus(spark):
    docs = load_table(spark, SF_DIR, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    probes = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tail.")).alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 10 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "text"
            )
        )
    )
    return old, probes


@pytest.fixture()
def mh_tables(spark):
    yield
    for base in ("t_mh", "t_mh_m", "t_mh_full"):
        for s in ("bands", "sigs", "meta"):
            spark.sql(f"DROP TABLE IF EXISTS {base}_{s}")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_indexed_probe_matches_in_session(spark, mh_tables):
    old, probes = _corpus(spark)
    build_minhash_index(old, num_hashes=16, bands=8, name="t_mh", n_buckets=4)
    got = _rows(near_dup_probe(probes, name="t_mh"))
    want = _rows(near_dup_pairs_vs_corpus(old, probes))
    assert got == want and len(got) > 0


def _emb(spark, id_col: str = "vec_id"):
    return load_table(spark, SF_DIR, "embeddings").withColumnRenamed(
        "vec_id", id_col
    )


#: kind → (build(spark, name, rebuilt), request(spark, name),
#: want(spark) or None). The rebuild changes what a stale meta memo
#: would get wrong: MinHash's hash family, SRP's planes and id column,
#: IVF-PQ's code variant and id column. ``want`` gives the rebuilt
#: parameters' rows from the in-session form; ``None`` takes them from
#: an index built with those parameters under a fresh name.
REBUILDS = {
    "minhash": (
        lambda spark, name, rebuilt: build_minhash_index(
            _corpus(spark)[0], num_hashes=12 if rebuilt else 16,
            bands=4 if rebuilt else 8, name=name, n_buckets=4,
        ),
        lambda spark, name: _rows(near_dup_probe(_corpus(spark)[1], name=name)),
        lambda spark: _rows(
            near_dup_pairs_vs_corpus(*_corpus(spark), num_hashes=12, bands=4)
        ),
    ),
    "srp": (
        lambda spark, name, rebuilt: build_srp_index(
            _emb(spark, "vid" if rebuilt else "vec_id"),
            id_col="vid" if rebuilt else "vec_id",
            planes=8 if rebuilt else 4, name=name, n_buckets=4,
        ),
        lambda spark, name: _rows(
            srp_knn_indexed(spark, [0, 5, 10, 15], name=name, k=3)
        ),
        None,
    ),
    "ivfpq": (
        lambda spark, name, rebuilt: build_ivfpq_index(
            _emb(spark, "vid" if rebuilt else "vec_id"),
            id_col="vid" if rebuilt else "vec_id",
            residual=rebuilt, name=name, n_buckets=4,
        ),
        lambda spark, name: _rows(
            ivfpq_topk_indexed(spark, [0, 5, 10, 15], name=name)
        ),
        None,
    ),
}


@pytest.mark.parametrize("kind", sorted(REBUILDS))
def test_probe_follows_a_same_name_rebuild(spark, kind):
    """Serving reads the meta row through the per-session memo
    (sources/bucketing.index_meta); rebuilding an index under the same
    name with other parameters must reach the very next request (the
    build drops the memo entry), whose rows then equal the rebuilt
    parameters'."""
    build, request, want = REBUILDS[kind]
    built = [build(spark, "t_rebuild", False)]
    try:
        first = request(spark, "t_rebuild")
        built.append(build(spark, "t_rebuild", True))
        got = request(spark, "t_rebuild")
        if want is None:
            built.append(build(spark, "t_rebuild_ref", True))
            expected = request(spark, "t_rebuild_ref")
        else:
            expected = want(spark)
        assert got == expected and len(got) > 0
        assert got != first
    finally:
        for tables in built:
            for t in tables.values():
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_row_signatures_equal_the_aggregate(spark, mh_tables):
    """The admission form signs each probe within its row; for several
    families those signatures equal minhash_signatures' shuffled
    aggregate, edge cases included (no shingle, delimiter runs,
    repeated shingles). A batch repeating an id, whose rows only the
    aggregate signs as one document, takes the bulk form."""
    edge = spark.createDataFrame(
        [(-1, ""), (-2, None), (-3, "a b"), (-4, "  A, b;c  "),
         (-5, "x y z x y z"), (-6, "--a--b--c--d")],
        "doc_id long, text string",
    )
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    docs = docs.unionByName(edge)
    for k, nh in ((3, 16), (2, 32), (5, 8)):
        want = _rows(minhash_signatures(docs, "doc_id", "text", num_hashes=nh, k=k))
        got = _rows(_row_signatures(docs, "doc_id", "text", num_hashes=nh, k=k))
        assert got == want and len(got) > 0, (k, nh)
    old, probes = _corpus(spark)
    build_minhash_index(old, num_hashes=16, bands=8, name="t_mh", n_buckets=4)
    ids = sorted(r[0] for r in probes.select("doc_id").collect())[:3]
    few = probes.filter(F.col("doc_id").isin(ids))
    twice = few.unionByName(
        few.select("doc_id", F.concat("text", F.lit(" more words")).alias("text"))
    )
    got = _rows(near_dup_probe(twice, name="t_mh"))
    assert got == _rows(near_dup_probe(twice, name="t_mh", max_pushdown_keys=None))


def test_exact_mirror_estimates_full_agreement(spark, mh_tables):
    old, probes = _corpus(spark)
    build_minhash_index(old, num_hashes=16, bands=8, name="t_mh", n_buckets=4)
    res = near_dup_probe(probes, name="t_mh")
    mirrors = res.filter(
        (F.col("probe_id") >= 2000000)
        & (F.col("probe_id") - 2000000 == F.col("corpus_id"))
    )
    n = mirrors.count()
    assert n > 0
    assert (
        mirrors.filter(F.col("est_jaccard_micro") == 1_000_000).count() == n
    )


def test_merged_equals_rebuilt(spark, mh_tables):
    old, probes = _corpus(spark)
    first = old.filter(F.col("doc_id") % 4 == 0)
    second = old.filter(F.col("doc_id") % 4 == 2)
    build_minhash_index(
        first, num_hashes=16, bands=8, name="t_mh_m", n_buckets=4
    )
    merge_minhash_index(second, name="t_mh_m")
    build_minhash_index(
        old, num_hashes=16, bands=8, name="t_mh_full", n_buckets=4
    )
    # stored rows identical, not only the probe view
    for s in ("bands", "sigs"):
        assert _rows(spark.table(f"t_mh_m_{s}")) == _rows(
            spark.table(f"t_mh_full_{s}")
        )
    assert _rows(near_dup_probe(probes, name="t_mh_m")) == _rows(
        near_dup_probe(probes, name="t_mh_full")
    )


def test_probe_reads_are_bucketed(spark, mh_tables):
    old, probes = _corpus(spark)
    build_minhash_index(old, num_hashes=16, bands=8, name="t_mh", n_buckets=4)
    plan = (
        near_dup_probe(probes.limit(5), name="t_mh")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the bands table (the corpus-sized side of the candidate join)
    # must read through the bucketed scan path - it joins on its
    # bucket key without re-shuffling. The sigs join is free to
    # broadcast instead (the planner disables bucketing when the
    # other side is broadcast - equally shuffle-free for the corpus).
    bands_scan = next(
        line for line in plan.splitlines()
        if "FileScan" in line and "t_mh_bands" in line
    )
    assert "Bucketed: true" in bands_scan, bands_scan
    assert "SelectedBucketsCount" in bands_scan, bands_scan


def test_failure_modes(spark, mh_tables):
    old, probes = _corpus(spark)
    with pytest.raises(RuntimeError, match="build_minhash_index first"):
        merge_minhash_index(old, name="t_mh_absent")
    with pytest.raises(ValueError, match="bands must divide"):
        build_minhash_index(old, num_hashes=16, bands=5, name="t_mh")
    build_minhash_index(old, num_hashes=16, bands=8, name="t_mh", n_buckets=4)
    with pytest.raises(ValueError, match="already indexed"):
        merge_minhash_index(old.limit(3), name="t_mh")
    with pytest.raises(ValueError, match="lacks id col"):
        near_dup_probe(
            probes.withColumnRenamed("doc_id", "other_id"), name="t_mh"
        )


def test_pushdown_path_matches_full_join_and_prunes(spark, mh_tables):
    """The IN-list fast path (admission micro-batch grain) must return
    exactly the full bucketed join's rows, and the band-key IN filter
    must reach the parquet scan (PushedFilters → row-group min/max
    skipping on the sorted key; with realistic bucket counts it also
    prunes buckets — at 4 toy buckets a 24-key batch covers them all,
    so the probe measures IO flatness at scale instead)."""
    old, probes = _corpus(spark)
    build_minhash_index(old, num_hashes=16, bands=8, name="t_mh", n_buckets=4)
    small = probes.limit(3)
    fast = near_dup_probe(small, name="t_mh")
    slow = near_dup_probe(small, name="t_mh", max_pushdown_keys=None)
    assert _rows(fast) == _rows(slow)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    bands_scan = next(
        line for line in plan.splitlines()
        if "FileScan" in line and "t_mh_bands" in line
    )
    assert "PushedFilters: [In(key" in bands_scan, bands_scan
    assert "Bucketed: true" in bands_scan, bands_scan


def test_idempotent_merge_replays_insert_nothing_twice(spark, mh_tables):
    """Round-10 replay contract: re-running the SAME merge with
    idempotent=True (the CurationSink intent-marker reconcile path)
    leaves the index bit-identical — already-indexed ids are
    anti-joined out instead of double-appended."""
    old, probes = _corpus(spark)
    delta = probes.filter(F.col("doc_id") < 1000100)
    build_minhash_index(old, num_hashes=16, bands=8, name="t_mh", n_buckets=4)
    merge_minhash_index(delta, name="t_mh", check_new_ids=False)
    bands1 = _rows(spark.table("t_mh_bands"))
    sigs1 = _rows(spark.table("t_mh_sigs"))
    # crash-replay: same delta again, reconcile mode
    merge_minhash_index(delta, name="t_mh", idempotent=True)
    assert _rows(spark.table("t_mh_bands")) == bands1
    assert _rows(spark.table("t_mh_sigs")) == sigs1
    # and a PARTIAL overlap folds in only the new ids
    delta2 = probes.filter(F.col("doc_id") < 1000200)
    merge_minhash_index(delta2, name="t_mh", idempotent=True)
    n_new = delta2.join(delta, "doc_id", "left_anti").count()
    assert (
        spark.table("t_mh_sigs").count() == len(sigs1) + n_new
        and n_new > 0
    )


def test_guarded_merge_intent_marker_routes_replay(tmp_path):
    """_guarded_merge: clean first run merges with replay=False and
    commits; a leftover intent (crash before commit) re-merges with
    replay=True; a commit marker skips outright."""
    from big_data_song_recommendation_spark.streaming.jobs import CurationSink

    calls: list[bool] = []
    d = tmp_path / "m"
    assert CurationSink._guarded_merge(d, 7, calls.append) is True
    assert calls == [False] and (d / "epoch=7").exists()
    assert not (d / "epoch=7.intent").exists()
    # commit present → skip
    assert CurationSink._guarded_merge(d, 7, calls.append) is False
    assert calls == [False]
    # simulate crash: intent written, merge ran, commit never landed
    (d / "epoch=8.intent").write_text("merging")
    assert CurationSink._guarded_merge(d, 8, calls.append) is True
    assert calls == [False, True] and (d / "epoch=8").exists()


def test_admission_verify_keeps_empty_shingle_sides(spark):
    """ADVICE r9: a caller-supplied admitted pair whose side has < k
    tokens (empty shingle set) must NOT silently disappear — it comes
    back with exact_jaccard_micro = 0 (guarded division, left-joined
    sizes)."""
    from big_data_song_recommendation_spark.operators.dedup import (
        admission_verify_exact,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "hi")],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta"), (11, "yo")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(10, 1), (11, 1), (10, 2), (11, 2)],
        "probe_id long, corpus_id long",
    )
    out = {
        (r.probe_id, r.corpus_id): r.exact_jaccard_micro
        for r in admission_verify_exact(corpus, probes, pairs, k=3).collect()
    }
    assert len(out) == 4  # no admitted pair disappears
    assert out[(10, 1)] == 1_000_000
    assert out[(11, 1)] == 0 and out[(10, 2)] == 0
    assert out[(11, 2)] == 0  # empty ∪ empty → guarded 0, not ÷0
