"""Product quantization (operators/similarity.py pq_encode /
pq_adc_topk / pq_rerank_topk, committed codebooks in
ml/pq_codebooks.py): encode exactness, the re-rank recall guarantee,
and the failure modes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_song_recommendation_spark.ml.pq_codebooks import (
    PQ_CODEBOOKS,
    PQ_DIM,
    PQ_K,
    PQ_M,
)
from big_data_song_recommendation_spark.operators.similarity import (
    pq_adc_topk,
    pq_encode,
    pq_rerank_topk,
)
from big_data_song_recommendation_spark.sources.readers import load_table

from .conftest import SF_DIR

D_SUB = PQ_DIM // PQ_M


def test_codes_shape_and_range(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    rows = pq_encode(emb).collect()
    assert len(rows) == emb.count()
    for r in rows:
        assert len(r.codes) == PQ_M
        assert all(0 <= c < PQ_K for c in r.codes)


def test_centroid_vectors_encode_to_their_own_codes(spark):
    """A vector assembled from one centroid per subspace must encode
    to exactly those indices (distance 0 beats everything; ties can't
    happen because the chosen centroids are verified unique)."""
    chosen = []
    for m in range(PQ_M):
        cents = [
            tuple(PQ_CODEBOOKS[m][c * D_SUB : (c + 1) * D_SUB])
            for c in range(PQ_K)
        ]
        # pick the lowest index whose centroid is unique in its book
        c = next(i for i in range(PQ_K) if cents.count(cents[i]) == 1)
        chosen.append(c)
    vec = [
        PQ_CODEBOOKS[m][chosen[m] * D_SUB + j] / 1_000_000.0
        for m in range(PQ_M)
        for j in range(D_SUB)
    ]
    df = spark.createDataFrame(
        [(0, vec)], "vec_id long, embedding array<double>"
    )
    assert list(pq_encode(df).collect()[0].codes) == chosen


def test_rerank_recall_never_below_adc(spark):
    """The q168 invariant, asserted per probe directly: exact-top-3
    hits of the re-ranked pipeline >= hits of plain ADC top-3."""
    from big_data_song_recommendation_spark.operators.similarity import (
        brute_force_knn,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    probes = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_knn(emb, probes, k=3).collect()
    }
    adc = {
        (r.query_id, r.neighbor_id)
        for r in pq_adc_topk(emb, probes, k=3).collect()
    }
    rr = {
        (r.query_id, r.neighbor_id)
        for r in pq_rerank_topk(emb, probes, k=3, candidates=20).collect()
    }
    for q in range(8):
        hits_adc = len({p for p in exact & adc if p[0] == q})
        hits_rr = len({p for p in exact & rr if p[0] == q})
        assert hits_rr >= hits_adc, q
    # and the pipeline is strictly useful on this corpus overall
    assert len(exact & rr) > len(exact & adc)


def test_custom_codebooks_and_failure_modes(spark):
    df = spark.createDataFrame(
        [(0, [0.1, 0.2, 0.3, 0.4])], "vec_id long, embedding array<double>"
    )
    books = [
        [0, 0, 1_000_000, 1_000_000],  # 2 centroids of dim 2
        [0, 0, 500_000, 500_000],
    ]
    codes = pq_encode(df, codebooks=(books, 4)).collect()[0].codes
    assert list(codes) == [0, 1]  # (0.1,0.2) nearer (0,0); (0.3,0.4) nearer (0.5,0.5)
    with pytest.raises(ValueError, match="not divisible"):
        pq_encode(df, codebooks=(books, 5))


def test_dim_mismatch_fails_loudly(spark):
    """ADVICE r9: a vector column shorter than the codebook dim used to
    NULL-poison element_at silently; now it raises up front — on the
    encode path and on the probe side of ADC."""
    from big_data_song_recommendation_spark.operators.similarity import (
        pq_adc_topk,
    )

    short = spark.createDataFrame(
        [(0, [0.1, 0.2])], "vec_id long, embedding array<double>"
    )
    ok = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3, 0.4])], "vec_id long, embedding array<double>"
    )
    books = [
        [0, 0, 1_000_000, 1_000_000],
        [0, 0, 500_000, 500_000],
    ]
    with pytest.raises(ValueError, match="dim 2"):
        pq_encode(short, codebooks=(books, 4))
    with pytest.raises(ValueError, match="probe vectors are dim 2"):
        pq_adc_topk(ok, short, codebooks=(books, 4))
    with pytest.raises(ValueError, match="ragged"):
        pq_encode(ok, codebooks=([books[0], books[1][:2]], 4))


def test_ivf_pq_full_fanout_equals_brute_force(spark):
    """IVF+PQ with nprobe == K and candidates ≥ corpus degenerates to
    the exact scan (routing covers every cell, the ADC cut keeps
    everything, re-rank is the exact cosine ranking) — and the
    n_scanned column equals corpus−1 per probe (self excluded)."""
    from big_data_song_recommendation_spark.ml.centroids import IVF_CENTROIDS
    from big_data_song_recommendation_spark.operators.similarity import (
        brute_force_knn,
        ivf_pq_topk,
    )
    from big_data_song_recommendation_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    probes = emb.filter(F.col("vec_id") < 3)
    got = ivf_pq_topk(
        emb, probes, IVF_CENTROIDS,
        k=3, nprobe=len(IVF_CENTROIDS), candidates=n,
    )
    want = brute_force_knn(emb, probes, k=3)
    assert sorted(
        (r.query_id, r.neighbor_id, r.sim, r.rnk) for r in got.collect()
    ) == sorted(tuple(r) for r in want.collect())
    assert {r.n_scanned for r in got.collect()} == {n - 1}


def test_ivf_pq_small_nprobe_is_sublinear(spark):
    """With nprobe ≪ K each probe's candidate scan touches a strict
    subset of the corpus — the sub-linearity the composition exists
    for (also gated in-query by q173)."""
    from big_data_song_recommendation_spark.ml.centroids import IVF_CENTROIDS
    from big_data_song_recommendation_spark.operators.similarity import (
        ivf_pq_topk,
    )
    from big_data_song_recommendation_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    probes = emb.filter(F.col("vec_id") < 3)
    got = ivf_pq_topk(emb, probes, IVF_CENTROIDS, k=3, nprobe=2).collect()
    assert len(got) > 0
    assert all(r.n_scanned < n for r in got)


# -- persisted IVF+PQ serving layout (round 10) --------------------------------


@pytest.fixture(scope="module")
def ivfpq_index(spark):
    from big_data_song_recommendation_spark.operators.similarity import (
        build_ivfpq_index,
    )
    from big_data_song_recommendation_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    tables = build_ivfpq_index(emb, name="t_ivfpq", n_buckets=4)
    yield emb, tables
    for t in tables.values():
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ivfpq_indexed_matches_in_session(spark, ivfpq_index):
    """Indexed serving returns IDENTICAL rows to ivf_pq_topk (shared
    _ivfpq_tail) — and serves a BATCH of probes in one job."""
    from big_data_song_recommendation_spark.ml.centroids import IVF_CENTROIDS
    from big_data_song_recommendation_spark.operators.similarity import (
        ivf_pq_topk,
        ivfpq_topk_indexed,
    )

    emb, _ = ivfpq_index
    ids = [0, 1, 2, 3, 4, 5, 6, 7]
    got = sorted(
        tuple(r)
        for r in ivfpq_topk_indexed(
            spark, ids, name="t_ivfpq", k=3, nprobe=4, candidates=20
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in ivf_pq_topk(
            emb,
            emb.filter(F.col("vec_id") < 8),
            IVF_CENTROIDS,
            k=3,
            nprobe=4,
            candidates=20,
        ).collect()
    )
    assert got == want and len(got) == 24


def test_ivfpq_codes_read_prunes_buckets(spark, ivfpq_index):
    import re as _re

    from big_data_song_recommendation_spark.operators.similarity import (
        ivfpq_topk_indexed,
    )

    df = ivfpq_topk_indexed(spark, [0], name="t_ivfpq", nprobe=2)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "extended"
    )
    matches = _re.findall(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert matches, "codes read is not bucket-pruned"
    assert any(int(a) < int(b) for a, b in matches)


def test_ivfpq_rerank_broadcast_follows_the_threshold(spark, ivfpq_index):
    """The re-rank join broadcasts ``{name}_by_id`` only while the table
    is under spark.sql.autoBroadcastJoinThreshold; with broadcasting
    off (-1) it broadcasts nothing, and the rows stay the same."""
    from big_data_song_recommendation_spark.operators.similarity import (
        ivfpq_topk_indexed,
    )

    def run():
        df = ivfpq_topk_indexed(spark, [0, 1], name="t_ivfpq", nprobe=4)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return sorted(tuple(r) for r in df.collect()), plan

    want, plan = run()
    # by_id is the join's right side: the candidates stream, so the
    # rank window after the join needs no exchange
    joins = [ln for ln in plan.splitlines() if "BroadcastHashJoin" in ln]
    assert len(joins) == 1 and "BuildRight" in joins[0], plan
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        got, plan = run()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastExchange" not in plan, plan
    assert got == want and len(got) > 0


def test_ivfpq_merge_equals_rebuild_and_failure_modes(spark, ivfpq_index):
    from big_data_song_recommendation_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_topk_indexed,
        merge_ivfpq_index,
    )
    from big_data_song_recommendation_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    t1 = build_ivfpq_index(base, name="t_ivfpq_m", n_buckets=4)
    try:
        merge_ivfpq_index(delta, name="t_ivfpq_m")
        for s in ("codes", "by_id"):
            merged = sorted(
                tuple(r) for r in spark.table(f"t_ivfpq_m_{s}").collect()
            )
            full = sorted(
                tuple(r) for r in (
                    spark.table(f"t_ivfpq_{s}")
                ).collect()
            )
            assert merged == full, s
        ids = [0, 5, 10]
        got = sorted(
            tuple(r)
            for r in ivfpq_topk_indexed(spark, ids, name="t_ivfpq_m").collect()
        )
        want = sorted(
            tuple(r)
            for r in ivfpq_topk_indexed(spark, ids, name="t_ivfpq").collect()
        )
        assert got == want
        # re-ingesting an indexed id is refused
        with pytest.raises(ValueError, match="already indexed"):
            merge_ivfpq_index(delta, name="t_ivfpq_m")
        # mixing artifact spaces is refused
        books = [[0, 0, 1_000_000, 1_000_000], [0, 0, 500_000, 500_000]]
        with pytest.raises(ValueError, match="differ from"):
            merge_ivfpq_index(
                spark.createDataFrame(
                    [(999901, [0.1] * 64)],
                    "vec_id long, embedding array<double>",
                ),
                name="t_ivfpq_m",
                codebooks=None,
                coarse_centroids=[[0] * 64, [1_000_000] * 64],
            )
    finally:
        for t in t1.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


# -- residual IVFADC (round 10, q175) ------------------------------------------


def test_residual_full_fanout_equals_brute_force(spark):
    """Residual IVFADC with nprobe == K and candidates ≥ corpus
    degenerates to the exact scan — routing covers every cell, the
    offset+LUT score only orders candidates the re-rank then ranks
    exactly."""
    from big_data_song_recommendation_spark.ml.centroids import IVF_CENTROIDS
    from big_data_song_recommendation_spark.operators.similarity import (
        brute_force_knn,
        ivf_pq_residual_topk,
    )
    from big_data_song_recommendation_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    probes = emb.filter(F.col("vec_id") < 3)
    got = ivf_pq_residual_topk(
        emb, probes, IVF_CENTROIDS,
        k=3, nprobe=len(IVF_CENTROIDS), candidates=n,
    )
    want = brute_force_knn(emb, probes, k=3)
    assert sorted(
        (r.query_id, r.neighbor_id, r.sim, r.rnk) for r in got.collect()
    ) == sorted(tuple(r) for r in want.collect())


def test_residual_candidates_beat_raw_on_train_corpus(spark):
    """The refinement must actually refine: at tight candidates the
    residual path's recall is no worse than raw PQ's on the training
    corpus (measured 2x better at sf0.01 — pinned only as the
    no-worse gate, the q175 in-query invariant)."""
    from big_data_song_recommendation_spark.plans.queries import QUERIES

    rows = QUERIES["q175_residual_pq_recall"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert len(rows) == 8
    assert all(r.gate_residual_total_no_worse for r in rows)
    assert sum(r.n_hits_res for r in rows) >= sum(r.n_hits_raw for r in rows)


def test_residual_encode_shape_and_dim_check(spark):
    import pytest as _pytest

    from big_data_song_recommendation_spark.ml.centroids import IVF_CENTROIDS
    from big_data_song_recommendation_spark.operators.similarity import (
        centroid_assign,
        pq_residual_encode,
    )
    from big_data_song_recommendation_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(20)
    assigned = centroid_assign(emb, IVF_CENTROIDS)
    enc = pq_residual_encode(assigned, IVF_CENTROIDS).collect()
    assert len(enc) == 20
    assert all(len(r.codes) == 8 for r in enc)
    assert all(0 <= c < 16 for r in enc for c in r.codes)
    short = spark.createDataFrame(
        [(0, 0, [0.1, 0.2])], "vec_id long, cluster int, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="dim"):
        pq_residual_encode(short, IVF_CENTROIDS)


def test_ivfpq_idempotent_merge_replay(spark):
    """Same replay contract for the IVF+PQ layout."""
    from big_data_song_recommendation_spark.operators.similarity import (
        build_ivfpq_index,
        merge_ivfpq_index,
    )
    from big_data_song_recommendation_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter("vec_id % 4 != 0")
    d1 = emb.filter("vec_id % 8 = 0")
    tables = build_ivfpq_index(base, name="t_ivfpq_i", n_buckets=4)
    try:
        merge_ivfpq_index(d1, name="t_ivfpq_i", check_new_ids=False)
        snap = {
            t: sorted(tuple(r) for r in spark.table(n).collect())
            for t, n in tables.items()
            if t != "meta"
        }
        merge_ivfpq_index(d1, name="t_ivfpq_i", idempotent=True)
        for t, rows in snap.items():
            assert sorted(
                tuple(r) for r in spark.table(tables[t]).collect()
            ) == rows, t
        merge_ivfpq_index(
            emb.filter("vec_id % 4 = 0"), name="t_ivfpq_i", idempotent=True
        )
        got = {
            r[0] for r in spark.table(tables["by_id"]).select("vec_id").collect()
        }
        assert got == {r[0] for r in emb.select("vec_id").collect()}
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


# -- residual persisted index (round 11, VERDICT r10 #4) -----------------------


@pytest.fixture(scope="module")
def ivfpq_res_index(spark):
    from big_data_song_recommendation_spark.operators.similarity import (
        build_ivfpq_index,
    )
    from big_data_song_recommendation_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    tables = build_ivfpq_index(emb, name="t_ivfpq_res", n_buckets=4, residual=True)
    yield emb, tables
    for t in tables.values():
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_residual_indexed_matches_in_session(spark, ivfpq_res_index):
    """A residual-variant index serves IDENTICAL rows to
    ivf_pq_residual_topk (shared _ivfpq_tail; offsets read from the
    stored per-cluster prefix instead of recomputed)."""
    from big_data_song_recommendation_spark.ml.centroids import IVF_CENTROIDS
    from big_data_song_recommendation_spark.operators.similarity import (
        ivf_pq_residual_topk,
        ivfpq_topk_indexed,
    )

    emb, _ = ivfpq_res_index
    got = sorted(
        tuple(r)
        for r in ivfpq_topk_indexed(
            spark, [0, 1, 2, 3, 4, 5, 6, 7], name="t_ivfpq_res",
            k=3, nprobe=4, candidates=20,
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in ivf_pq_residual_topk(
            emb,
            emb.filter(F.col("vec_id") < 8),
            IVF_CENTROIDS,
            k=3,
            nprobe=4,
            candidates=20,
        ).collect()
    )
    assert got == want and len(got) == 24


def test_residual_index_meta_and_raw_index_distinct(spark, ivfpq_res_index):
    """variant lands in meta; a residual index differs from raw serving
    on the same probes at tight budgets only via candidate ORDER (the
    re-rank tail is shared) — the guard here is that the variants are
    not silently interchangeable: raw codebooks against the residual
    index fail the fingerprint check."""
    import pytest as _pytest

    from big_data_song_recommendation_spark.ml import pq_codebooks as rawcb
    from big_data_song_recommendation_spark.operators.similarity import (
        ivfpq_topk_indexed,
    )

    meta = spark.table("t_ivfpq_res_meta").collect()[0]
    assert meta["variant"] == "residual"
    with _pytest.raises(ValueError, match="differ"):
        ivfpq_topk_indexed(
            spark, [0], name="t_ivfpq_res",
            codebooks=(rawcb.PQ_CODEBOOKS, rawcb.PQ_DIM),
        )


def test_residual_merge_equals_rebuild(spark):
    """Insert-only maintenance holds for the residual variant: merged
    == rebuilt bit-exactly (rows are pure functions of committed
    artifacts), and the idempotent replay inserts nothing twice."""
    from big_data_song_recommendation_spark.operators.similarity import (
        build_ivfpq_index,
        merge_ivfpq_index,
    )
    from big_data_song_recommendation_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter("vec_id % 4 != 0")
    delta = emb.filter("vec_id % 4 = 0")
    part = build_ivfpq_index(base, name="t_ivfpq_rm", n_buckets=4, residual=True)
    full = build_ivfpq_index(emb, name="t_ivfpq_rf", n_buckets=4, residual=True)
    try:
        merge_ivfpq_index(delta, name="t_ivfpq_rm", check_new_ids=False)
        for t in ("codes", "by_id"):
            assert sorted(
                tuple(r) for r in spark.table(part[t]).collect()
            ) == sorted(tuple(r) for r in spark.table(full[t]).collect()), t
        merge_ivfpq_index(delta, name="t_ivfpq_rm", idempotent=True)
        for t in ("codes", "by_id"):
            assert sorted(
                tuple(r) for r in spark.table(part[t]).collect()
            ) == sorted(tuple(r) for r in spark.table(full[t]).collect()), t
    finally:
        for d in (part, full):
            for t in d.values():
                spark.sql(f"DROP TABLE IF EXISTS {t}")


# -- K ∝ √n retrain path (round 11, VERDICT r10 #3) ----------------------------


def test_train_ivf_centroids_distributed_lloyd(spark):
    """The distributed integer Lloyd separates well-separated blobs,
    is deterministic, and returns micro-int centroids compatible with
    centroid_assign (same argmin/tie rules)."""
    from big_data_song_recommendation_spark.operators.similarity import (
        centroid_assign,
        train_ivf_centroids,
    )

    # 3 tight blobs around (0,0), (10,10), (-10,5) in 4-dim space
    rows = [
        (i, [b[0] + (i % 5) * 0.01, b[1] - (i % 3) * 0.01, b[0], b[1]])
        for i, b in (
            [(i, (0.0, 0.0)) for i in range(0, 20)]
            + [(i, (10.0, 10.0)) for i in range(20, 40)]
            + [(i, (-10.0, 5.0)) for i in range(40, 60)]
        )
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    c1 = train_ivf_centroids(df, k=3, iters=10)
    c2 = train_ivf_centroids(df, k=3, iters=10)
    assert c1 == c2  # deterministic
    assert len(c1) == 3 and all(len(c) == 4 for c in c1)
    # every blob lands in one cluster, clusters distinct
    got = centroid_assign(df, c1).groupBy("cluster").count().collect()
    assert sorted(r["count"] for r in got) == [20, 20, 20]
    # centroids sit at the blob means (within the micro quantization
    # of the 0.01 jitter)
    approx = sorted(tuple(round(x / 1_000_000) for x in c) for c in c1)
    assert approx == [(-10, 5, -10, 5), (0, 0, 0, 0), (10, 10, 10, 10)]


def test_train_ivf_seed_has_no_single_partition_exchange(spark):
    """VERDICT r11 #1: the seed step must NOT push the corpus through
    one partition. The two-phase bucketed_rank form keeps every
    full-corpus exchange hash/range-partitioned; the only permissible
    SinglePartition window is the metadata-sized bucket-offset
    prefix-sum, whose input is the bucket-count aggregate (bounded by
    the bin count), never the corpus. Assert on the physical plan of
    the exact DF the trainer collects, for BOTH id types."""
    from pyspark.sql import functions as F

    from big_data_song_recommendation_spark.operators.similarity import (
        _ivf_seed_df,
        _quantize_sql,
    )

    rows = [(i, [float(i), float(-i)]) for i in range(64)]
    for id_expr, schema in [
        (F.col("vec_id"), "vec_id long, embedding array<double>"),
        (F.format_string("doc_%05d", "vec_id"), None),
    ]:
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        base = df.select(
            id_expr.alias("__id"),
            F.expr(_quantize_sql("embedding")).alias("__xq"),
        )
        seed = _ivf_seed_df(base, [1, 22, 43])
        plan = seed._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        # every SinglePartition exchange must feed FROM an aggregate
        # (min/max fold or the bucket-count table — metadata-sized),
        # never from a corpus projection/sort
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" in ln:
                assert "Aggregate" in lines[i + 1], plan
        # the corpus-side row_number window is bucket-partitioned
        rn = [ln for ln in lines if "row_number() windowspecdefinition" in ln]
        assert rn and all("__rb0" in ln for ln in rn), plan
        got = {r["__rn"] for r in seed.collect()}
        assert got == {1, 22, 43}


def test_train_ivf_centroids_failure_modes(spark):
    import pytest as _pytest

    from big_data_song_recommendation_spark.operators.similarity import (
        train_ivf_centroids,
    )

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="only 2 vectors"):
        train_ivf_centroids(df, k=5)
    with _pytest.raises(ValueError, match="k must be"):
        train_ivf_centroids(df, k=0)


def test_pq_two_stage_matches_standalone(spark):
    """pq_two_stage's shared ADC pass is ROW-IDENTICAL to the
    standalone pq_adc_topk / pq_rerank_topk (the head-of-ranking
    share must be a pure plan change)."""
    from big_data_song_recommendation_spark.operators.similarity import (
        pq_adc_topk,
        pq_rerank_topk,
        pq_two_stage,
    )
    from big_data_song_recommendation_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    probes = emb.filter(F.col("vec_id") < 4)
    a2, r2 = pq_two_stage(emb, probes, k=3, candidates=10)
    assert sorted(map(tuple, a2.collect())) == sorted(
        map(tuple, pq_adc_topk(emb, probes, k=3).collect())
    )
    assert sorted(map(tuple, r2.collect())) == sorted(
        map(tuple, pq_rerank_topk(emb, probes, k=3, candidates=10).collect())
    )


def test_ivf_pq_compare_matches_standalone_arms(spark):
    """ivf_pq_compare's shared-subplan arms are ROW-IDENTICAL to the
    standalone operators (the one-corpus-scan fused encode + single
    routing pass must be a pure plan change, never a value change)."""
    from big_data_song_recommendation_spark.ml.centroids import IVF_CENTROIDS
    from big_data_song_recommendation_spark.operators.similarity import (
        ivf_pq_compare,
        ivf_pq_residual_topk,
        ivf_pq_topk,
    )
    from big_data_song_recommendation_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    probes = emb.filter(F.col("vec_id") < 4)
    kw = dict(k=3, nprobe=2, candidates=5)
    raw2, res2 = ivf_pq_compare(emb, probes, IVF_CENTROIDS, **kw)
    assert sorted(map(tuple, raw2.collect())) == sorted(
        map(tuple, ivf_pq_topk(emb, probes, IVF_CENTROIDS, **kw).collect())
    )
    assert sorted(map(tuple, res2.collect())) == sorted(
        map(
            tuple,
            ivf_pq_residual_topk(emb, probes, IVF_CENTROIDS, **kw).collect(),
        )
    )


def test_vector_index_sink_rebuilds_at_growth_threshold(spark, tmp_path):
    """VERDICT r11 #2 end-to-end: the corpus crosses 4× growth
    mid-stream, the maintenance epoch consults the advice and REBUILDS
    at K = round(√(n·nprobe)) — with serving continuity (the very next
    serve call answers, with the sink's swapped-in artifacts) and
    merged==rebuilt parity (the rebuilt tables are bit-identical to a
    fresh build over the same corpus with the same retrained
    centroids), plus restart recovery (a new sink on the same out_dir
    restores the retrained centroids from artifacts.json)."""
    import json as _json
    import math

    from big_data_song_recommendation_spark.operators.similarity import (
        build_ivfpq_index,
        ivf_pq_topk,
        ivfpq_topk_indexed,
    )
    from big_data_song_recommendation_spark.sources.readers import load_table
    from big_data_song_recommendation_spark.streaming import jobs

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter(F.col("vec_id") < 100)
    name = "t_ivfpq_life"
    tables = build_ivfpq_index(base, name=name, n_buckets=4)
    try:
        sink = jobs.VectorIndexSink(
            str(tmp_path / "vix"), index_name=name, retrain_iters=2
        )
        # epoch 0: 100 → 300 vectors (3× < 4×) — merge only
        sink(emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 300)), 0)
        a0 = _json.loads(
            (tmp_path / "vix" / "audit" / "batch_000000.json").read_text()
        )
        assert a0["action"] == "merge" and not a0["rebuilt"]
        assert len(sink.centroids) == 16
        # epoch 1: → 500 vectors (5× ≥ 4×) — the advice flips and the
        # sink EXECUTES the K ∝ √n rebuild in the same epoch
        sink(emb.filter(F.col("vec_id") >= 300), 1)
        a1 = _json.loads(
            (tmp_path / "vix" / "audit" / "batch_000001.json").read_text()
        )
        k_want = round(math.sqrt(500 * 4))
        assert a1["rebuilt"] and a1["k_target"] == k_want
        assert len(sink.centroids) == k_want
        # merged==rebuilt parity: fresh build over the same corpus with
        # the same retrained centroids is bit-identical
        t2 = build_ivfpq_index(
            emb, coarse_centroids=sink.centroids, name="t_ivfpq_life2",
            n_buckets=4,
        )
        for s in ("codes", "by_id"):
            got = sorted(map(tuple, spark.table(f"{name}_{s}").collect()))
            want = sorted(map(tuple, spark.table(t2[s]).collect()))
            assert got == want, s
        # serving continuity with the swapped-in artifacts
        got = sorted(
            tuple(r)
            for r in ivfpq_topk_indexed(
                spark, [0, 1], name=name, k=3,
                coarse_centroids=sink.centroids,
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in ivf_pq_topk(
                emb, emb.filter(F.col("vec_id") < 2), sink.centroids, k=3
            ).collect()
        )
        assert got == want and len(got) == 6
        # restart recovery: a fresh process's sink restores artifacts
        sink2 = jobs.VectorIndexSink(str(tmp_path / "vix"), index_name=name)
        assert sink2.centroids == sink.centroids
    finally:
        for t in list(tables.values()) + [
            f"t_ivfpq_life2_{s}" for s in ("codes", "by_id", "meta")
        ]:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ivfpq_rebuild_advice_rule(spark, ivfpq_index):
    """merge below the growth threshold; rebuild with K = round(√(n·
    nprobe)) once the corpus has outgrown the build-time size."""
    import math

    from big_data_song_recommendation_spark.operators.similarity import (
        ivfpq_rebuild_advice,
    )

    emb, _ = ivfpq_index
    n0 = emb.count()
    now = ivfpq_rebuild_advice(spark, name="t_ivfpq", nprobe=4)
    assert now["action"] == "merge"
    assert now["n_at_build"] == n0 and now["n_now"] == n0
    grown = ivfpq_rebuild_advice(spark, name="t_ivfpq", n_now=5 * n0, nprobe=4)
    assert grown["action"] == "rebuild"
    assert grown["k_target"] == max(
        grown["k_current"], round(math.sqrt(5 * n0 * 4))
    )
    assert grown["scan_rows_after"] < grown["scan_rows_now"]
    # under the threshold, K stays put even though n grew a bit
    mild = ivfpq_rebuild_advice(spark, name="t_ivfpq", n_now=2 * n0, nprobe=4)
    assert mild["action"] == "merge" and mild["k_target"] == mild["k_current"]
