"""Scaling probe: replicate driver tables N× in memory (the input
parquet is only read) and measure how the hot paths scale. Evidence
for the scale claims README.md, RUNBOOK.md and the operator
docstrings cite, one mode per claim:

- ``botuser``: the co-occurrence per-user cap keeps one bot account's
  pair count and wall flat (README, scale design notes);
- ``skew``: salted top-k slices and equi-depth buckets stay balanced
  under Zipf keys (README, scale design notes);
- ``r7ops``: DSIR selection and both debounce forms track input
  volume (``operators/debounce.py``);
- ``r8ops``: prefix-filter Jaccard candidate tiers, the population-
  sized bloom audit and BPE rounds vs merges (README, PPJoin row);
- ``r9ops``: the incremental BM25 merge tracks the delta while a
  rebuild tracks the corpus (RUNBOOK, BM25 serving);
- ``r11ops``: K ∝ √n IVF retrain — scanned rows grow ~√n (README);
- ``admission``: MinHash near-dup admission stays flat in corpus size
  and PQ encode/ADC scale linearly (RUNBOOK, near-dup admission).

Run: python scripts/scale_probe.py MODE [replications ...]   (default 1 4 16)
"""

from __future__ import annotations

import math
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, ".")
from big_data_song_recommendation_spark.session import (  # noqa: E402
    get_spark,
    release_query_state,
)
from big_data_song_recommendation_spark.sources.readers import (  # noqa: E402
    load_table,
)

SF_DIR = "/root/testdata/sf0.1"


def replicate(df, times: int, id_col: str):
    rep = df.withColumn("__r", F.explode(F.sequence(F.lit(0), F.lit(times - 1))))
    return rep.withColumn(
        id_col, F.col(id_col) * times + F.col("__r")
    ).drop("__r")


def botuser_probe(spark, reps: list[int]) -> None:
    """Round-6 co-occurrence cap evidence: the real sf0.1 user-item
    table plus ONE synthetic bot account holding `reps`·1000 distinct
    items. Uncapped, that single user emits k(k-1)/2 pairs (50M at
    10k items) inside one task; with DEFAULT_MAX_ITEMS_PER_USER the
    bot degrades to a constant ≤19,900 pairs and the wall stays flat
    however large the bot grows. Prints both pair counts + walls —
    the capped wall must not scale with bot size."""
    from big_data_song_recommendation_spark.operators import cooccur

    ev = load_table(spark, SF_DIR, "events")
    ui = (
        ev.select("user_id", F.expr("json_tuple(props, 'k')").alias("k0"))
        .select("user_id", F.col("k0").cast("int").alias("item_id"))
        .filter(F.col("item_id").isNotNull())
        .distinct()
        .localCheckpoint()  # freeze: both modes read identical input
    )
    for r in reps:
        bot_items = r * 1000
        bot = spark.range(bot_items).select(
            F.lit(999_999_999).alias("user_id"),
            F.col("id").cast("int").alias("item_id"),
        )
        with_bot = ui.unionByName(bot).localCheckpoint()
        t0 = time.perf_counter()
        n_cap = cooccur.cooccurrence_pairs(
            with_bot,
            min_support=1,
            max_items_per_user=cooccur.DEFAULT_MAX_ITEMS_PER_USER,
        ).count()
        t_cap = time.perf_counter() - t0
        line = (
            f"bot={bot_items} items: capped pairs={n_cap} "
            f"wall={t_cap:.1f}s"
        )
        if bot_items <= 4000:  # uncapped blows up quadratically; only
            t0 = time.perf_counter()  # measure it while it's feasible
            n_unc = cooccur.cooccurrence_pairs(
                with_bot, min_support=1
            ).count()
            line += (
                f" | uncapped pairs={n_unc} "
                f"wall={time.perf_counter() - t0:.1f}s"
            )
        print(line, flush=True)


def skew_probe(spark, reps: list[int]) -> None:
    """Round-6 (VERDICT #6): Zipf-distributed group keys at ×reps —
    the skew shape that breaks naive per-group windows. Asserts the
    MAX per-(partition-key) row count each operator's heaviest task
    can see stays BOUNDED (not proportional to the hottest group):

    - top_k_per_group_salted: heaviest (group, salt) slice must hold
      ~hottest/salt_buckets rows — the salt is doing the spreading;
    - bucketed_rank on equi-DEPTH buckets: heaviest bucket must hold
      ~n/bins rows even though the VALUE distribution is Zipf (an
      equi-width bucketing of the same column is printed for contrast).
    Correctness re-asserted against the window forms at the smallest
    rep (the property the parity tests pin, re-checked under skew)."""
    from pyspark.sql import Window

    from big_data_song_recommendation_spark.operators.aggregates import (
        top_k_per_group_salted,
    )
    from big_data_song_recommendation_spark.operators.ranks import (
        bucketed_rank,
        with_equi_depth_bucket,
        with_equi_width_bucket,
    )

    base_n = 250_000
    salt_buckets = 64
    for r in reps:
        n = base_n * r
        # Zipf-ish: group g gets ~n/2^(g+1) rows (group 0 holds half
        # the table); value column shares the same heavy tail
        ent = spark.range(n).select(
            F.col("id").alias("k"),
            F.floor(-F.log2((F.xxhash64("id") % 1_000_000 + 1_000_001) / 2_000_002.0))
            .cast("int")
            .alias("g"),
            (F.xxhash64("id", F.lit(1)) % 1000).alias("v0"),
        ).withColumn(
            "v", (F.pow(F.lit(2.0), F.col("v0") / 100.0)).cast("double")
        ).drop("v0").localCheckpoint()

        hottest = ent.groupBy("g").count().agg(F.max("count")).collect()[0][0]

        topk = top_k_per_group_salted(
            ent, ["g"], [F.col("v").desc(), F.col("k").asc()], 5,
            salt_col=F.xxhash64("k"), salt_buckets=salt_buckets,
        )
        t0 = time.perf_counter()
        n_topk = topk.count()
        t_topk = time.perf_counter() - t0
        # heaviest slice phase-1 actually sees
        heaviest_slice = (
            ent.withColumn(
                "__salt", F.pmod(F.xxhash64("k"), F.lit(salt_buckets))
            )
            .groupBy("g", "__salt").count().agg(F.max("count")).collect()[0][0]
        )
        assert heaviest_slice <= (hottest // salt_buckets) * 2 + 64, (
            f"salted slice unbalanced: {heaviest_slice} vs hottest {hottest}"
        )

        depth = with_equi_depth_bucket(ent, "v", bins=256)
        heaviest_depth = (
            depth.groupBy("__vb").count().agg(F.max("count")).collect()[0][0]
        )
        width = with_equi_width_bucket(ent, "v", bins=256)
        heaviest_width = (
            width.groupBy("__vb").count().agg(F.max("count")).collect()[0][0]
        )
        assert heaviest_depth <= max(4 * n // 256, 1024), (
            f"equi-depth bucket unbalanced: {heaviest_depth} of {n}"
        )
        t0 = time.perf_counter()
        mx = (
            bucketed_rank(
                depth, [F.col("v").asc(), F.col("k").asc()], ["__vb"],
                out="rn",
            ).agg(F.max("rn")).collect()[0][0]
        )
        t_rank = time.perf_counter() - t0
        assert mx == n, (mx, n)

        if r == reps[0]:
            w = Window.partitionBy("g").orderBy(F.col("v").desc(), F.col("k").asc())
            want = (
                ent.withColumn("rnk", F.row_number().over(w))
                .filter(F.col("rnk") <= 5).count()
            )
            assert n_topk == want, (n_topk, want)

        print(
            f"x{r}: rows={n} hottest_group={hottest} "
            f"salted_slice_max={heaviest_slice} topk={t_topk:.1f}s/{n_topk}r | "
            f"depth_bucket_max={heaviest_depth} width_bucket_max={heaviest_width} "
            f"bucketed_rank={t_rank:.1f}s",
            flush=True,
        )


def r7ops_probe(spark, reps: list[int]) -> None:
    """×r scaling for the round-7 operators: DSIR selection (two
    data-grain aggregates + broadcast score join) and both debounce
    forms (one key-partitioned window / applyInPandas pass). Walls
    should track input volume ~linearly; superlinear growth means a
    shuffle started spilling or the Python path stopped batching."""
    from big_data_song_recommendation_spark.operators.debounce import (
        debounce_gap,
        debounce_stateful,
    )
    from big_data_song_recommendation_spark.operators.quality import (
        dsir_scores,
    )

    docs0 = load_table(spark, SF_DIR, "documents")
    ev0 = load_table(spark, SF_DIR, "events")
    for r in reps:
        docs = (
            replicate(docs0, r, "doc_id") if r > 1 else docs0
        ).localCheckpoint()
        ev = (
            replicate(ev0, r, "event_id").withColumn(
                "user_id", F.col("user_id") * r + F.col("event_id") % r
            )
            if r > 1
            else ev0
        ).localCheckpoint()
        n_docs, n_ev = docs.count(), ev.count()

        t0 = time.perf_counter()
        n_sel = (
            dsir_scores(docs, F.col("lang") == "en", n_buckets=512)
            .orderBy(F.col("weight_pt").desc(), F.col("doc_id").asc())
            .limit(50)
            .count()
        )
        t_dsir = time.perf_counter() - t0

        t0 = time.perf_counter()
        n_gap = debounce_gap(
            ev, keys=["user_id", "event_type"], cooldown_s=600.0
        ).count()
        t_gap = time.perf_counter() - t0

        t0 = time.perf_counter()
        n_st = debounce_stateful(
            ev, keys=["user_id", "event_type"], cooldown_s=600.0
        ).count()
        t_st = time.perf_counter() - t0

        t0 = time.perf_counter()
        n_pd = debounce_stateful(
            ev, keys=["user_id", "event_type"], cooldown_s=600.0,
            impl="pandas",
        ).count()
        t_pd = time.perf_counter() - t0

        print(
            f"x{r}: docs={n_docs} dsir_top={n_sel} dsir={t_dsir:.1f}s | "
            f"events={n_ev} gap_kept={n_gap} gap={t_gap:.1f}s "
            f"fold_kept={n_st} fold={t_st:.1f}s "
            f"pandas_kept={n_pd} pandas={t_pd:.1f}s",
            flush=True,
        )
        release_query_state(spark)


def r8ops_probe(spark, reps: list[int]) -> None:
    """×r scaling for the round-7/8 operators the r7 probes missed:

    - prefix-filter exact Jaccard (q149): replicas are SALTED — a
      per-replica token interleaved between every pair of original
      tokens — so every k=3 shingle of replica i contains salt zi and
      cross-replica Jaccard is 0 while within-replica near-dup
      structure is preserved. True pairs therefore grow LINEARLY in r
      (never r² duplicate explosions) and the wall must track them;
      unsalted duplication would make quadratic output the right
      answer and prove nothing about the filter.
    - bloom membership audit (q150 shape): member/probe key spaces
      grow ×r and the filter is SIZED TO THE POPULATION
      (m_bits = 2^16·r — the deployment rule; a fixed-m filter
      saturates to all-ones by ×16 and 'scales' by answering yes to
      everything). Wall should track the distinct shuffle; fp stays
      inside the 1% gate at every r.
    - BPE trainer (q139): corpus FIXED, n_merges grows ×8/×64 —
      the vocabulary axis the per-merge-collect design would die on
      (30k sequential jobs). Rounds (= driver actions) must grow
      far slower than merges under batched selection.
    """
    from big_data_song_recommendation_spark.operators import bpe
    from big_data_song_recommendation_spark.operators.dedup import (
        _prefix_candidates,
        _shingle_sets,
        prefix_filter_jaccard_pairs,
    )
    from big_data_song_recommendation_spark.operators.sketches import (
        BloomParams,
        bloom_bits,
        bloom_probe,
    )

    docs0 = load_table(spark, SF_DIR, "documents")
    ord0 = load_table(spark, SF_DIR, "orders")
    cust0 = load_table(spark, SF_DIR, "customer")

    for r in reps:
        salted = (
            replicate(docs0, r, "doc_id").withColumn(
                "text",
                F.expr(
                    "array_join(flatten(transform("
                    "  split(lower(text), '[^a-z0-9]+'),"
                    f"  x -> array(x, concat('zz', doc_id % {r})))), ' ')"
                ),
            )
            if r > 1
            else docs0
        ).localCheckpoint()
        n_docs = salted.count()
        t0 = time.perf_counter()
        n_pairs = prefix_filter_jaccard_pairs(
            salted, "doc_id", "text", k=3, threshold_num=1, threshold_den=2
        ).count()
        t_pf = time.perf_counter() - t0
        # candidate tiers: AllPairs baseline vs PPJoin positional
        _sets = _shingle_sets(
            salted, "doc_id", "text", 3, None
        ).localCheckpoint()
        c_base = _prefix_candidates(_sets, 1, 2, positional=False).count()
        c_pos = _prefix_candidates(_sets, 1, 2, positional=True).count()

        orders = (
            replicate(ord0, r, "o_orderkey").withColumn(
                "o_custkey",
                F.col("o_custkey") * r + F.col("o_orderkey") % r,
            )
            if r > 1
            else ord0
        ).localCheckpoint()
        cust = (
            replicate(cust0, r, "c_custkey") if r > 1 else cust0
        ).localCheckpoint()
        n_ord, n_cust = orders.count(), cust.count()
        bp = BloomParams(m_bits=(1 << 16) * r, k_hashes=4)
        t0 = time.perf_counter()
        members = orders.select(
            F.col("o_custkey").alias("c_custkey")
        ).distinct().localCheckpoint(eager=False)
        bits = bloom_bits(members, "c_custkey", params=bp)
        probed = bloom_probe(
            cust.select("c_custkey"), bits, "c_custkey", params=bp
        )
        row = (
            probed.join(
                members.withColumn("__has", F.lit(True)), "c_custkey", "left"
            )
            .agg(
                F.sum(
                    (F.coalesce("__has", F.lit(False)) & ~F.col("maybe_member"))
                    .cast("long")
                ).alias("fn"),
                F.sum(
                    (~F.coalesce("__has", F.lit(False)) & F.col("maybe_member"))
                    .cast("long")
                ).alias("fp"),
                F.count("*").alias("n"),
            )
            .collect()[0]
        )
        t_bl = time.perf_counter() - t0
        assert row["fn"] == 0, f"x{r}: bloom false negative"

        wf = bpe.word_frequency_table(docs0).localCheckpoint()
        wf.count()
        bpe_line = []
        for n_merges in (8, 8 * min(r, 64)):
            rounds = {"n": 0}
            orig = bpe._pair_page

            def counting(df, cap, _rounds=rounds, _orig=orig):
                _rounds["n"] += 1
                return _orig(df, cap)

            bpe._pair_page = counting
            try:
                t0 = time.perf_counter()
                merges, _ = bpe.bpe_train(
                    wf,
                    n_merges=n_merges,
                    batch_cap=256,
                    exact_sequence=False,
                )
                t_bpe = time.perf_counter() - t0
            finally:
                bpe._pair_page = orig
            bpe_line.append(
                f"merges={len(merges)} rounds={rounds['n']} {t_bpe:.1f}s"
            )

        print(
            f"x{r}: docs={n_docs} jaccard_pairs={n_pairs} prefix={t_pf:.1f}s"
            f" cand_base={c_base} cand_pos={c_pos}"
            f" | orders={n_ord} cust={n_cust} m_bits={bp.m_bits}"
            f" fp={row['fp']}/{row['n']} bloom={t_bl:.1f}s"
            f" | bpe[{'; '.join(bpe_line)}]",
            flush=True,
        )
        release_query_state(spark)


def r9ops_probe(spark, reps: list[int]) -> None:
    """×r scaling for the round-9 incremental BM25 index merge
    (merge_bm25_index): corpus ×r, delta held at 10% of it — the merge
    wall must track the DELTA (flat-to-slow growth in r) while a full
    rebuild tracks the corpus, and the merged index must equal the
    rebuild on a probe query at every point. The claim the operator
    docstring makes ('never a corpus re-tokenization'), measured.
    (Multi-probe SRP recall is covered per-SF by q165's oracle, and
    its candidate growth is bounded ×(planes+1) by construction.)
    """
    from big_data_song_recommendation_spark.operators.retrieval import (
        bm25_topk_indexed,
        build_bm25_index,
        merge_bm25_index,
    )

    docs0 = load_table(spark, SF_DIR, "documents")
    for r in reps:
        docs = (
            replicate(docs0, r, "doc_id") if r > 1 else docs0
        ).localCheckpoint()
        base = docs.filter(F.col("doc_id") % 10 != 0)
        delta = docs.filter(F.col("doc_id") % 10 == 0)
        n_base, n_delta = base.count(), delta.count()
        t0 = time.perf_counter()
        tables = build_bm25_index(base, name="probe_r9_idx", n_buckets=8)
        t_build = time.perf_counter() - t0
        t0 = time.perf_counter()
        merge_bm25_index(delta, name="probe_r9_idx", check_new_ids=False)
        t_merge = time.perf_counter() - t0
        t0 = time.perf_counter()
        rebuilt = build_bm25_index(docs, name="probe_r9_ref", n_buckets=8)
        t_rebuild = time.perf_counter() - t0
        got = [
            tuple(x)
            for x in bm25_topk_indexed(
                spark, ["dup", "key"], name="probe_r9_idx", k=10
            ).collect()
        ]
        want = [
            tuple(x)
            for x in bm25_topk_indexed(
                spark, ["dup", "key"], name="probe_r9_ref", k=10
            ).collect()
        ]
        assert got == want, f"x{r}: merged != rebuilt"
        for t in list(tables.values()) + list(rebuilt.values()):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        print(
            f"x{r}: base={n_base} delta={n_delta} build={t_build:.1f}s"
            f" merge={t_merge:.1f}s rebuild={t_rebuild:.1f}s topk_equal=True",
            flush=True,
        )
        release_query_state(spark)


def r11ops_probe(spark, reps: list[int]) -> None:
    """×r scaling for the K ∝ √n IVF retrain path (VERDICT r10 #3).
    With a FIXED K the scanned fraction stays flat at ~nprobe/K, i.e.
    scanned ROWS grow linearly with the corpus. This probe closes the
    loop — retrain the coarse centroids with
    K = K₀·√r at each replication (train_ivf_centroids, the
    distributed integer Lloyd) and show:

    - scanned_frac FALLS ~1/√r (nprobe/K with K growing),
    - scanned ROWS grow ~√r, not ~r (the true sub-linear exponent),
    - merged == rebuilt still holds bit-exactly at the retrained K,
    - ivfpq_rebuild_advice flips merge → rebuild exactly when the
      corpus outgrows the build-time size and recommends the √(n·
      nprobe) K the retrain then uses.
    """
    from big_data_song_recommendation_spark.operators.similarity import (
        build_ivfpq_index,
        ivf_pq_topk,
        ivfpq_rebuild_advice,
        merge_ivfpq_index,
        train_ivf_centroids,
    )

    K0, NPROBE = 16, 4
    emb0 = load_table(spark, SF_DIR, "embeddings")
    n0 = emb0.count()
    base_rows = None
    for r in reps:
        emb = (
            replicate(emb0, r, "vec_id").withColumn(
                "embedding",
                F.expr(
                    f"transform(embedding, (x, i) -> CASE WHEN i = 0 "
                    f"THEN x + (vec_id % {r}) * 0.001 ELSE x END)"
                ),
            )
            if r > 1
            else emb0
        ).localCheckpoint()
        n = emb.count()
        k_r = int(K0 * math.sqrt(r))

        t0 = time.perf_counter()
        cents = train_ivf_centroids(emb, k=k_r, iters=3)
        t_train = time.perf_counter() - t0

        probes = emb.filter(F.col("vec_id") < 8)
        rows = ivf_pq_topk(
            emb, probes, cents, k=3, nprobe=NPROBE, candidates=20
        ).collect()
        scanned = max(x.n_scanned for x in rows)
        frac = scanned / n
        if base_rows is None:
            base_rows = scanned

        # merged == rebuilt at the RETRAINED K
        base = emb.filter(F.col("vec_id") % 10 != 0)
        delta = emb.filter(F.col("vec_id") % 10 == 0)
        t_full = build_ivfpq_index(
            emb, name="probe_r11f", n_buckets=8, coarse_centroids=cents
        )
        t_part = build_ivfpq_index(
            base, name="probe_r11m", n_buckets=8, coarse_centroids=cents
        )
        merge_ivfpq_index(
            delta, name="probe_r11m", coarse_centroids=cents,
            check_new_ids=False,
        )
        merged_eq = sorted(
            tuple(x) for x in spark.table("probe_r11m_codes").collect()
        ) == sorted(tuple(x) for x in spark.table("probe_r11f_codes").collect())

        # the decision rule: same index asked at build size (merge)
        # and at a 4x-grown corpus (rebuild, k_target = sqrt(n*nprobe))
        adv_now = ivfpq_rebuild_advice(
            spark, name="probe_r11f", n_now=n, nprobe=NPROBE
        )
        adv_grown = ivfpq_rebuild_advice(
            spark, name="probe_r11f", n_now=4 * n, nprobe=NPROBE
        )
        for t in list(t_full.values()) + list(t_part.values()):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        print(
            f"x{r}: n={n} K={k_r} train={t_train:.1f}s"
            f" scanned={scanned} frac={frac:.4f}"
            f" rows_vs_x1={scanned / base_rows:.2f} (sqrt_r={math.sqrt(r):.2f})"
            f" merged_eq={merged_eq}"
            f" advice_now={adv_now['action']}"
            f" advice_4x={adv_grown['action']}:K{adv_grown['k_target']}",
            flush=True,
        )
        assert merged_eq, f"x{r}: merged != rebuilt at retrained K"
        assert adv_now["action"] == "merge"
        assert adv_grown["action"] == "rebuild"
        release_query_state(spark)


def admission_probe(spark, reps: list[int]) -> None:
    """×r scaling for the MinHash near-dup ADMISSION path: the corpus
    (salted replicas — cross-replica shingles disjoint, so the true
    match set of a fixed probe batch is INVARIANT in r) is indexed at
    ×r while the probe batch stays fixed at 200 docs. Claims measured:

    - ``near_dup_probe`` wall stays ~flat in corpus size (the IN-list
      pushdown reads matched band rows, not the corpus) while the
      match count stays exactly constant;
    - ``merge_minhash_index`` wall tracks the DELTA (fixed 200 docs),
      not the corpus;
    - ``build_minhash_index`` (the rebuild alternative) tracks the
      corpus — the gap is the incremental-maintenance win.

    Also prints the PQ axis: ``pq_encode`` over the ×r embeddings
    corpus must scale linearly (map-only), and ``pq_adc_topk`` with 8
    fixed probes likewise (it is the compressed SCAN stage by design —
    compose with IVF routing for sub-linearity).
    """
    from big_data_song_recommendation_spark.operators.dedup import (
        build_minhash_index,
        merge_minhash_index,
        near_dup_probe,
    )
    from big_data_song_recommendation_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
    )

    docs0 = load_table(spark, SF_DIR, "documents")
    emb0 = load_table(spark, SF_DIR, "embeddings")
    for r in reps:
        salted = (
            replicate(docs0, r, "doc_id").withColumn(
                "text",
                F.expr(
                    "array_join(flatten(transform("
                    "  split(lower(text), '[^a-z0-9]+'),"
                    f"  x -> array(x, concat('zz', doc_id % {r})))), ' ')"
                ),
            )
        ).localCheckpoint()
        n_docs = salted.count()
        # fixed probe batch: the SAME 200 original docs at every r
        # (replica 0 = new ids ≡ 0 mod r), so the true match set — and
        # therefore pairs — must be invariant in r
        probes = (
            salted.filter(F.col("doc_id") % r == 0)
            .orderBy("doc_id")
            .limit(200)
            .select(
                (F.col("doc_id") + 10_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" probenote")).alias("text"),
            )
            .localCheckpoint()
        )
        delta = probes.select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
        ).localCheckpoint()
        t0 = time.perf_counter()
        tables = build_minhash_index(salted, name="probe_adm_idx", n_buckets=8)
        t_build = time.perf_counter() - t0
        t0 = time.perf_counter()
        pairs = near_dup_probe(probes, name="probe_adm_idx")
        n_pairs = pairs.count()
        t_probe = time.perf_counter() - t0
        t0 = time.perf_counter()
        merge_minhash_index(delta, name="probe_adm_idx", check_new_ids=False)
        t_merge = time.perf_counter() - t0
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        emb = (
            replicate(emb0, r, "vec_id") if r > 1 else emb0
        ).localCheckpoint()
        n_vec = emb.count()
        t0 = time.perf_counter()
        pq_encode(emb).agg(F.count("*")).collect()
        t_enc = time.perf_counter() - t0
        t0 = time.perf_counter()
        pq_adc_topk(emb, emb.filter(F.col("vec_id") < 8), k=3).agg(
            F.count("*")
        ).collect()
        t_adc = time.perf_counter() - t0
        print(
            f"x{r}: docs={n_docs} build={t_build:.1f}s"
            f" probe={t_probe:.1f}s pairs={n_pairs}"
            f" merge={t_merge:.1f}s | vecs={n_vec}"
            f" pq_encode={t_enc:.1f}s pq_adc={t_adc:.1f}s",
            flush=True,
        )
        release_query_state(spark)


MODES = {
    "botuser": botuser_probe,
    "skew": skew_probe,
    "r7ops": r7ops_probe,
    "r8ops": r8ops_probe,
    "r9ops": r9ops_probe,
    "r11ops": r11ops_probe,
    "admission": admission_probe,
}


def main() -> None:
    mode, *args = sys.argv[1:] or [""]
    if mode not in MODES or not all(a.isdigit() and int(a) > 0 for a in args):
        sys.exit(
            "usage: python scripts/scale_probe.py "
            f"{{{'|'.join(MODES)}}} [replications ...]"
        )
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        MODES[mode](spark, [int(a) for a in args] or [1, 4, 16])
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
