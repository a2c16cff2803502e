"""Deduplication operators for the training-data pipeline: exact,
n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Text-dedup operators are pure DataFrame compositions (explode/groupBy/
join — no Python in the hot path); the embedding pair search also
ships a blocked numpy-GEMM ``applyInPandas`` tier (the one place
Arrow-batched Python beats codegen arithmetic). Hashes are md5-derived
60-bit integers (``conv(substr(md5(x),1,15),16,10)``): deterministic
across runs/engines (unlike xxhash64, which has no DuckDB twin, or
Python ``hash``, which is salted — the reference's F6 pitfall).

Scale notes: the shingle self-join shuffles on the shingle string —
the frequency cap in :func:`_shingle_sets` (drop shingles appearing in
more than ``max_df`` docs) bounds worst-case fan-out the same way
common-word filtering does in production MinHash pipelines.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import text as Ftext

HASH_HEX_DIGITS = 15  # 60 bits — fits signed int64 in Spark AND DuckDB


def hash60(col: Column, prefix: str | None = None) -> Column:
    """Deterministic 60-bit non-negative hash of a string column."""
    c = F.concat(F.lit(f"{prefix}:"), col) if prefix is not None else col
    return F.conv(F.substring(F.md5(c), 1, HASH_HEX_DIGITS), 16, 10).cast("long")


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by normalized-text fingerprint: per-row keep flag
    (smallest id per fingerprint group wins, deterministic)."""
    from pyspark.sql import Window

    w = Window.partitionBy("fp").orderBy(id_col)
    return (
        df.withColumn("fp", Ftext.fingerprint(text_col))
        .withColumn("rnk", F.row_number().over(w))
        .select(id_col, "fp", (F.col("rnk") == 1).alias("keep"))
    )


def shingle_rows(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(sid, sh) row per k-word shingle, built by exploding TOKENS and
    assembling shingles with window ``lead()``.

    Why not ``explode(word_shingles(...))``: Catalyst collapses the
    array-building projection into Generate, re-evaluating the O(n)
    transform+slice lambda once per OUTPUT row — O(n²) per doc (12.8 s
    vs 0.33 s for a plain-split explode at sf0.1). Tokens explode
    cheaply; lead() runs in whole-stage codegen; and the WINDOW's own
    shuffle (keyed by doc id — perfectly spreadable) provides the
    parallelism for everything downstream, so no widening repartition
    is needed before the explode."""
    from pyspark.sql import Window

    # one-regex tokenizer; empties filtered BEFORE the window so they
    # never appear as lead() neighbors (Ftext.tokens contract)
    toks = df.select(
        F.col(id_col).alias("sid"),
        F.posexplode(Ftext.tokens(text_col)).alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    w = Window.partitionBy("sid").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, k)]
    return (
        toks.withColumn("sh", F.concat_ws(" ", *parts))
        .withColumn("last", parts[-1])
        .filter(F.col("last").isNotNull())
        .select("sid", "sh")
    )


def _shingle_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    max_df: int | None = None,
) -> DataFrame:
    """(id, shingle) distinct pairs; optionally drop shingles present
    in more than ``max_df`` docs (stop-shingle cap for skew)."""
    sets = shingle_rows(df, id_col, text_col, k).distinct()
    if max_df is not None:
        freq = sets.groupBy("sh").agg(F.count("*").alias("df"))
        sets = sets.join(freq.filter(F.col("df") <= max_df).select("sh"), "sh", "left_semi")
    return sets


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """All-pairs n-gram-shingle Jaccard ≥ threshold.

    shuffle shape: explode→distinct (1 shuffle), self-join on shingle
    (1 shuffle on the shingle key), pair-count groupBy. The shingle
    join's fan-out is Σ df(sh)² — bounded by ``max_df`` at scale; for
    100 TB prefer :func:`minhash_lsh_pairs`, which replaces the full
    self-join with banded buckets.
    """
    sets = _shingle_sets(df, id_col, text_col, k, max_df).cache()
    return jaccard_pairs_from_sets(sets, threshold=threshold)


def jaccard_pairs_from_sets(sets: DataFrame, *, threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard ≥ threshold over precomputed (sid, sh) sets —
    lets callers (e.g. LSH verification) reuse an already-cached
    shingle table instead of re-running the shingling pipeline."""
    sizes = sets.groupBy("sid").agg(F.count("*").alias("n"))
    a, b = sets.alias("a"), sets.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.sid") < F.col("b.sid")))
        .groupBy(F.col("a.sid").alias("id_a"), F.col("b.sid").alias("id_b"))
        .agg(F.count("*").alias("c"))
    )
    na, nb = sizes.alias("na"), sizes.alias("nb")
    jac = F.col("c") / (F.col("na.n") + F.col("nb.n") - F.col("c"))
    return (
        inter.join(na, F.col("id_a") == F.col("na.sid"))
        .join(nb, F.col("id_b") == F.col("nb.sid"))
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, *, num_hashes: int = 16, k: int = 3
) -> DataFrame:
    """MinHash signature per doc: one 60-bit base hash per shingle,
    ``num_hashes`` affine derivations (see :func:`signatures_from_sets`),
    min-aggregated in a single map-side-combinable groupBy. Empty docs
    (no shingles) are absent from the output.

    Works on the raw shingle MULTISET — ``min`` is invariant under
    dedup, so the distinct's extra shuffle is skipped entirely."""
    return signatures_from_sets(
        shingle_rows(df, id_col, text_col, k), id_col, num_hashes=num_hashes
    )


#: Mersenne prime 2^31-1 for the affine MinHash family
MINHASH_PRIME = 2_147_483_647


def _affine(i: int) -> tuple[int, int]:
    """Deterministic (a_i, b_i) for hash i — a odd, both SQL-mirrorable."""
    return 2 * i + 1, 1_000_003 * i + 12_345


def signatures_from_sets(
    sets: DataFrame, id_col: str, *, num_hashes: int = 16
) -> DataFrame:
    """One md5 per shingle + ``num_hashes`` affine derivations
    ``h_i = (a_i·base + b_i) mod p`` — the production MinHash layout
    (N md5 evaluations per row would N× the hash cost for no recall
    gain). All arithmetic stays in int64: a_i·base < 2^38. Each
    aggregate is one parsed SQL expression (the :func:`hash60` form),
    one py4j call instead of one per Column operator."""
    aggs = [
        F.expr(f"min({_minhash_sql(i, _minhash_base_sql('sh'))}) AS h{i}")
        for i in range(num_hashes)
    ]
    return sets.groupBy(F.col("sid").alias(id_col)).agg(*aggs)


def _minhash_base_sql(sh: str) -> str:
    """SQL for a shingle's base hash (md5 prefix mod the prime)."""
    return (
        f"CAST(conv(substring(md5({sh}), 1, {HASH_HEX_DIGITS}), 16, 10) AS BIGINT)"
        f" % {MINHASH_PRIME}"
    )


def _minhash_sql(i: int, base: str) -> str:
    """SQL for hash ``i`` of the affine family over a base hash."""
    a, b = _affine(i)
    return f"({a} * ({base}) + {b}) % {MINHASH_PRIME}"


def _row_signatures(
    df: DataFrame, id_col: str, text_col: str, *, num_hashes: int, k: int
) -> DataFrame:
    """:func:`minhash_signatures` computed inside each row, with no
    shuffle: the shingles of :func:`shingle_rows` (k consecutive
    non-empty tokens joined by a space) as an array, then the min of
    each affine hash over it. Same values per document; rows are not
    grouped, so ``id_col`` must be unique. Built for small batches,
    where the shuffled form's three exchanges are most of the cost."""
    toks = f"filter(split(lower(`{text_col}`), '[^a-z0-9]+'), t -> t != '')"
    shingles = (
        f"transform(sequence(1, size(__t) - {k - 1}), "
        f"i -> array_join(slice(__t, i, {k}), ' '))"
    )
    return (
        df.selectExpr(f"`{id_col}`", f"{toks} AS __t")
        .filter(f"size(__t) >= {k}")
        .selectExpr(
            f"`{id_col}`",
            f"transform({shingles}, sh -> {_minhash_base_sql('sh')}) AS __b",
        )
        .selectExpr(
            f"`{id_col}`",
            *[
                f"array_min(transform(__b, x -> {_minhash_sql(i, 'x')})) AS h{i}"
                for i in range(num_hashes)
            ],
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
    verify_threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact-Jaccard verification.

    LSH stage: signature split into ``bands`` bands of
    ``num_hashes/bands`` rows; docs sharing any band key become
    candidates (shuffle on band key — tiny vs. the full shingle
    self-join). Verify stage: exact Jaccard on candidates only.
    This is the 100-TB path for near-dedup.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    # shingle sets are shared by the signature AND verification stages —
    # cache once instead of running the shingling pipeline twice
    sets = _shingle_sets(df, id_col, text_col, k).cache()
    sig = signatures_from_sets(sets, id_col, num_hashes=num_hashes)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws(",", *[F.col(f"h{b * r + j}") for j in range(r)])).alias(
                "key"
            ),
        )
        for b in range(bands)
    ]
    buckets = (
        sig.select(
            F.col(id_col).alias("sid"), F.explode(F.array(*band_cols)).alias("bk")
        )
        .select("sid", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
        # both sides of the candidate self-join read this — without a
        # cache the whole signature pipeline (explode+window+N md5-min
        # aggs) executes twice
        .cache()
    )

    a, b_ = buckets.alias("a"), buckets.alias("b")
    candidates = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.sid") < F.col("b.sid")),
        )
        .select(F.col("a.sid").alias("id_a"), F.col("b.sid").alias("id_b"))
        .distinct()
        # consumed 3× downstream (both cand_ids branches + final join);
        # without a cache the whole signature+banding DAG re-runs each time
        .cache()
    )

    # exact-Jaccard verification computed PER CANDIDATE PAIR directly:
    # broadcast the (small) candidate list into the shingle table, join
    # the other side on (id, shingle), count intersections. Cheaper in
    # stages than the generic all-pairs verify (no id-union/semi-join
    # pass, no final intersect join).
    pair_sh = sets.select(F.col("sid").alias("id_a"), "sh").join(
        F.broadcast(candidates), "id_a"
    )
    inter = (
        pair_sh.join(
            sets.select(F.col("sid").alias("id_b"), "sh"), ["id_b", "sh"]
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("c"))
    )
    sizes = sets.groupBy("sid").agg(F.count("*").alias("n"))
    na, nb = sizes.alias("na"), sizes.alias("nb")
    jac = F.col("c") / (F.col("na.n") + F.col("nb.n") - F.col("c"))
    return (
        inter.join(na, F.col("id_a") == F.col("na.sid"))
        .join(nb, F.col("id_b") == F.col("nb.sid"))
        .filter(jac >= verify_threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def simhash(
    df: DataFrame, id_col: str, text_col: str, *, bits: int = 32
) -> DataFrame:
    """SimHash over the token multiset: per bit b, sum +1/-1 by token
    hash bit, then pack sign bits into one integer. ``bits``
    sum-aggregates in a single groupBy (map-side combinable)."""
    toks = df.select(
        F.col(id_col),
        F.explode(Ftext.tokens(text_col)).alias("tok"),
    ).filter(F.col("tok") != "")
    h = hash60(F.col("tok"))
    aggs = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    summed = toks.groupBy(id_col).agg(*aggs)
    packed = reduce(
        lambda acc, b: acc
        + F.when(F.col(f"b{b}") > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0)),
        range(bits),
        F.lit(0).cast("long"),
    )
    return summed.select(F.col(id_col), packed.alias("simhash"))


def embedding_dup_pairs_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.9,
    n_blocks: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via blocked matrix products —
    the throughput path for all-pairs similarity.

    Classic blocked-GEMM layout: rows are hashed into ``n_blocks``
    buckets; every unordered block pair (p ≤ q) becomes one
    ``applyInPandas`` group holding both blocks' vectors, and the
    group computes an Arrow-batched numpy GEMM (A·Bᵀ / outer-norms)
    instead of per-pair expression evaluation (~10× faster than the
    unrolled-codegen join, ~100× vs higher-order folds). Replication
    factor is ``n_blocks`` per row; per-group memory is
    2·(n/n_blocks)·dim doubles — size blocks so a group fits an
    executor.

    Construction is LAZY: block count comes from the caller's
    ``n_blocks`` or from Catalyst's size estimate (file statistics —
    no job runs), never from an eager ``count()``. At 100 TB an extra
    full pass just to size blocks would dwarf the GEMM itself.
    """
    import math as _math

    from pyspark.sql import types as T

    from ..functions import vectors

    if n_blocks is None:
        # Catalyst sizeInBytes is derived from source file stats —
        # available without executing the plan. Target ~300 KB of
        # vector payload per block (≈512 rows at dim 64), capped so
        # tiny inputs don't over-replicate.
        size_bytes = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        n_blocks = max(1, min(32, _math.ceil(size_bytes / 300_000)))
    B = n_blocks
    v = df.select(
        F.col(id_col).cast("long").alias("vid"),
        vectors.as_double_array(vec_col).alias("v"),
        (F.pmod(F.hash(F.col(id_col)), F.lit(B))).alias("blk"),
    )
    # each row joins every block pair that involves its block
    other = F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("other")
    # row in block p → one copy per block pair (min(p,o), max(p,o));
    # keys are distinct per o, so no dedup pass is needed
    keyed = v.select("vid", "v", "blk", other).select(
        "vid",
        "v",
        "blk",
        F.least(F.col("blk"), F.col("other")).alias("kp"),
        F.greatest(F.col("blk"), F.col("other")).alias("kq"),
    )

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType(), False),
            T.StructField("id_b", T.LongType(), False),
            T.StructField("cosine", T.DoubleType(), False),
        ]
    )

    def gemm(pdf):
        import numpy as np
        import pandas as pd

        kp, kq = int(pdf["kp"].iloc[0]), int(pdf["kq"].iloc[0])
        left = pdf[pdf["blk"] == kp]
        ids_l = left["vid"].to_numpy()
        A = np.stack(left["v"].to_numpy())
        norms_l = np.sqrt((A * A).sum(axis=1))
        if kp == kq:
            ids_r, Bm, norms_r = ids_l, A, norms_l
        else:
            right = pdf[pdf["blk"] == kq]
            ids_r = right["vid"].to_numpy()
            Bm = np.stack(right["v"].to_numpy())
            norms_r = np.sqrt((Bm * Bm).sum(axis=1))
        S = np.round((A @ Bm.T) / np.outer(norms_l, norms_r), 6)
        mask = S >= threshold
        if kp == kq:
            # upper triangle only (each unordered pair once, no self)
            mask &= ids_l[:, None] < ids_r[None, :]
        ia, ib = np.nonzero(mask)
        id_a, id_b = ids_l[ia], ids_r[ib]
        # output convention: id_a < id_b regardless of block order
        lo, hi = np.minimum(id_a, id_b), np.maximum(id_a, id_b)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": S[ia, ib]})

    return keyed.groupBy("kp", "kq").applyInPandas(gemm, schema=out_schema)


def embedding_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str, *, threshold: float = 0.9
) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ threshold (brute-force
    all-pairs baseline; the scale path buckets through
    ``similarity.lsh_model`` first)."""
    from ..functions import vectors

    # Norms are computed ONCE per row and the pair-side dot product is
    # unrolled to codegen arithmetic (vectors.dot_expanded) — the
    # per-pair higher-order-function fold was the engine's worst
    # hotspot (140 s at sf0.1 for 2M pairs). Values are bit-identical.
    dim = vectors.infer_dim(df, vec_col)
    v = df.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v")
    ).withColumn("nrm", F.sqrt(vectors.sq_norm_expanded("v", dim)))
    # The theta-join is a broadcast nested loop whose parallelism is the
    # STREAM side's partition count — a small parquet corpus arrives as
    # 1 partition, serializing all O(n²) pair evals onto one core.
    # Explicit numPartitions pins the fan-out (AQE does not coalesce
    # user-specified repartitions).
    n_part = df.sparkSession.sparkContext.defaultParallelism
    a = v.repartition(n_part, F.col("vid")).alias("a")
    b = F.broadcast(v).alias("b")
    sim = vectors.dot_expanded("a.v", "b.v", dim) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(b, F.col("a.vid") < F.col("b.vid"))
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            F.round(sim, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    assume_diameter: int | None = None,
) -> DataFrame:
    """Resolve near-dup PAIRS into CLUSTERS: iterative min-label
    propagation over the undirected edge list → ``(node, comp)`` where
    ``comp`` is the smallest node id in the component.

    Each iteration is one shuffle (neighbor-min groupBy) + one join;
    lineage is cut per iteration with ``localCheckpoint`` (iterative
    plans otherwise grow exponentially under Catalyst). Converges in
    O(diameter) rounds — dedup clusters are near-cliques (diameter
    ≤ 2-3), so 3-4 rounds in practice; for adversarially long path
    graphs the alternating small-star/large-star variant (Kiveris et
    al., "Connected Components in MapReduce and Beyond") drops it to
    O(log n) rounds at the cost of a second shuffle per round — not
    needed for the dedup workload this serves.

    ``assume_diameter=d`` (VERDICT r3 item 4) replaces the loop with a
    FIXED depth-``d`` propagation and ZERO driver-synchronized
    convergence actions: the correctness check rides inside the
    returned plan as a broadcast violation count (edges whose endpoints
    got different labels) asserted per output row, so the consumer's
    single action executes propagate×d + verify in one job. Min-label
    propagation assigns every node the minimum over its distance-≤d
    neighborhood, which IS the component minimum iff every node is
    within ``d`` hops of its component's min-node (guaranteed when the
    graph diameter ≤ d). A graph that violates the assumption fails
    LOUDLY at execution (``raise_error`` with the violating-edge count)
    rather than silently under-merging — callers who can't bound the
    diameter use the default loop, which is exact for any graph.

    Raises ``RuntimeError`` if the loop hasn't converged within
    ``max_iter`` (a diameter-``max_iter`` path would silently
    under-merge otherwise).
    """
    half = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    edges = half.union(
        half.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    # lazy: the first consumer action materializes the edge list once
    # (this is where an upstream LSH pipeline runs) and every
    # propagation round below reads the cached copy
    edges = edges.localCheckpoint(eager=False)
    # fused initialization = the first propagation round for free:
    # comp_0(u) = min(u, min over neighbors v) in the same groupBy that
    # would otherwise just enumerate the nodes
    labels = edges.groupBy("u").agg(
        F.least(F.first("u"), F.min("v")).alias("comp")
    ).select(F.col("u").alias("node"), "comp")

    def _propagate(lbl: DataFrame) -> DataFrame:
        nbr = (
            edges.join(lbl, edges["v"] == lbl["node"])
            .groupBy("u")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        return lbl.join(nbr, lbl["node"] == nbr["u"], "left").select(
            "node",
            F.col("comp").alias("old"),
            F.least(
                F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
            ).alias("comp"),
        )

    if assume_diameter is not None:
        if assume_diameter < 1:
            raise ValueError("assume_diameter must be >= 1")
        for _ in range(assume_diameter - 1):
            labels = _propagate(labels).select("node", "comp")
        labels = labels.localCheckpoint(eager=False)
        lab_u = labels.select(F.col("node").alias("__eu"), F.col("comp").alias("__cu"))
        lab_v = labels.select(F.col("node").alias("__ev"), F.col("comp").alias("__cv"))
        viol = (
            edges.join(lab_u, edges["u"] == F.col("__eu"))
            .join(lab_v, edges["v"] == F.col("__ev"))
            .filter(F.col("__cu") != F.col("__cv"))
            .agg(F.count("*").alias("__n_viol"))
        )
        return labels.crossJoin(F.broadcast(viol)).select(
            "node",
            F.when(F.col("__n_viol") == 0, F.col("comp"))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "connected_components: graph diameter exceeds "
                            f"assume_diameter={assume_diameter} ("
                        ),
                        F.col("__n_viol").cast("string"),
                        F.lit(
                            " un-merged edges); rerun without "
                            "assume_diameter for the exact loop"
                        ),
                    )
                )
            )
            .alias("comp"),
        )

    # unroll one propagation BEFORE the first convergence check: the
    # near-dup graphs this serves are near-cliques (diameter <= 2), so
    # the fixpoint is normally reached at depth 2 and the loop's first
    # count VERIFIES instead of discovering — one fewer driver sync;
    # long-path graphs just continue into the loop as before
    labels = _propagate(labels).select("node", "comp")
    for _ in range(max_iter):
        # lazy checkpoint: the convergence count below is the one
        # action that both materializes this round's labels AND
        # reads the changed counter — one job per round, not two
        merged = _propagate(labels).localCheckpoint(eager=False)
        changed = merged.filter(F.col("comp") < F.col("old")).count()
        labels = merged.select("node", "comp")
        if changed == 0:
            return labels
    raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")


def drop_near_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    *,
    src: str = "id_a",
    dst: str = "id_b",
    assume_diameter: int | None = None,
) -> DataFrame:
    """Near-dup removal end to end: cluster the pair list, keep each
    cluster's smallest id as canonical, anti-join the rest out of the
    corpus. Docs in no pair are untouched (they are their own
    canonical). ``assume_diameter`` passes through to
    :func:`connected_components` (fixed-depth, zero-sync clustering
    for verified near-clique pair lists)."""
    comp = connected_components(
        pairs, src=src, dst=dst, assume_diameter=assume_diameter
    )
    losers = comp.filter(F.col("comp") != F.col("node")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Winnowing (rolling-hash document fingerprinting)
# ---------------------------------------------------------------------------

#: pos is packed below the hash in one int64 so MIN() gives the
#: (hash, pos)-lexicographic window minimum in any engine. 2^20
#: positions = 1M shingles/doc; longer docs should be chunked upstream
#: (the curation pipeline's docs are far below this).
WINNOW_POS_BITS = 20


def _winnow_selected(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    window: int,
) -> DataFrame:
    """Pre-distinct winnowing selection: ``(sid, sel)`` rows where
    ``sel`` packs (hash, pos); one row per FULL frame (duplicates when
    adjacent frames share their minimum — callers distinct on whichever
    projection they need, so the pipeline pays exactly one distinct
    shuffle)."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("sid"),
        F.posexplode(Ftext.tokens(text_col)).alias("rawpos", "tok"),
    ).filter(F.col("tok") != "")
    worder = Window.partitionBy("sid").orderBy("rawpos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(worder) for i in range(1, k)]
    shingled = (
        # pos must be the token ORDINAL (it is packed into the output
        # value and the oracle reproduces it); the raw posexplode index
        # shifts by one when the doc starts with a delimiter under the
        # one-regex tokenizer, so re-derive it in the SAME window spec
        # the lead()s already use (no extra sort or exchange).
        toks.withColumn("pos", F.row_number().over(worder) - 1)
        .withColumn("sh", F.concat_ws(" ", *parts))
        .withColumn("last", parts[-1])
        .filter(F.col("last").isNotNull())
        # pack (hash, pos) into one int64: MIN() over the frame is then
        # exactly the lexicographic (hash, pos) minimum — deterministic
        # tie-break when a repeated shingle hashes equal inside a frame.
        # pos must fit its bit budget or it would bleed into the hash
        # bits and silently corrupt fingerprints — fail loudly instead
        # (a doc past 2^20 shingles should be chunked upstream).
        .select(
            "sid",
            "pos",
            (
                (hash60(F.col("sh")) % F.lit(MINHASH_PRIME))
                * F.lit(1 << WINNOW_POS_BITS)
                + F.when(
                    F.col("pos") < F.lit(1 << WINNOW_POS_BITS), F.col("pos")
                ).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit("winnowing: doc "),
                            F.col("sid").cast("string"),
                            F.lit(
                                f" has >= {1 << WINNOW_POS_BITS} shingles"
                                " (pos overflows its pack bits);"
                                " chunk the document upstream"
                            ),
                        )
                    )
                )
            ).alias("combo"),
        )
    )
    frame = (
        Window.partitionBy("sid")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    return (
        shingled.select(
            "sid",
            F.min("combo").over(frame).alias("sel"),
            F.count("*").over(frame).alias("n_in_frame"),
        )
        # full frames only: trailing partial windows re-select already-
        # covered minima or nothing — identical rule on the oracle side
        .filter(F.col("n_in_frame") == window)
        .select("sid", "sel")
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03): hash every k-word shingle, slide a ``window``-wide
    frame over the hash sequence, keep each frame's minimum — ties by
    position. Guarantees any shared run of ``window + k - 1`` tokens
    yields at least one shared fingerprint, while storing only
    ~2/(window+1) of the shingle hashes.

    Spark shape: one posexplode + a doc-keyed window (lead for shingle
    assembly, frame-min + frame-count for selection) + distinct — all
    partitioned on the doc id, so the whole chain rides a single
    exchange. No Python in the row path.

    Returns distinct ``(id_col, fp, pos)`` — the selected 60-bit
    fingerprint and the shingle position it came from.
    """
    return (
        _winnow_selected(df, id_col, text_col, k, window)
        .distinct()
        .select(
            F.col("sid").alias(id_col),
            F.shiftright("sel", WINNOW_POS_BITS).alias("fp"),
            (F.col("sel") % F.lit(1 << WINNOW_POS_BITS)).alias("pos"),
        )
    )


def winnow_shared_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """Doc pairs ranked by shared winnowing fingerprints — the MOSS
    plagiarism-detector shape. Equi-join on the fingerprint (hot
    fingerprints fan out like hot shingles in
    :func:`ngram_jaccard_pairs`; winnowing already thins them ~2/(w+1)
    and a stop-fingerprint cap can ride the same pattern at scale)."""
    fps = (
        _winnow_selected(df, id_col, text_col, k, window)
        # straight to the (doc, fingerprint) projection: ONE distinct
        # shuffle instead of distinct-on-(fp,pos) then distinct-on-fp
        .select("sid", F.shiftright("sel", WINNOW_POS_BITS).alias("fp"))
        .distinct()
        # both sides of the pair self-join read this — uncached, each
        # side re-runs the whole winnowing window chain (plan audit:
        # 2 Generates / 4 Windows). Same discipline as
        # minhash_lsh_pairs; at scale this is the fingerprint index
        # you materialize once anyway.
        .cache()
    )
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.sid") < F.col("b.sid")))
        .groupBy(F.col("a.sid").alias("id_a"), F.col("b.sid").alias("id_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    chunk_tokens: int = 8,
) -> DataFrame:
    """Sub-document exact dedup at fixed token-window granularity —
    the scalable analog of RefinedWeb/MassiveText exact-substring
    dedup (suffix arrays don't distribute; fixed chunks do). Each doc
    is split into consecutive ``chunk_tokens``-token chunks; a chunk
    is RETAINED iff it is the first corpus-wide occurrence of its
    content, first = lexicographic (id, chunk_idx). Repeated
    boilerplate (headers, license blocks, mirrored passages) is
    dropped from every doc but the first.

    Shape: the chunking is pure array expressions inside the scan
    projection (filter empties -> sequence -> transform/slice — no
    explode until the chunk rows), then ONE window shuffle keyed on
    the 60-bit chunk hash. Identical exchange profile to
    :func:`exact_duplicates` but at sub-doc grain: at 100 TB the only
    data-dependent shuffle moves (hash, id, idx) triples, ~2 longs
    per chunk, not the text.

    Output: (id, chunk_idx, chunk, retained) — one row per chunk.
    No reference twin (ref corpus is 10k whole songs); first-class
    curation addition per the build brief.
    """
    from pyspark.sql import Window

    k = int(chunk_tokens)
    toks = df.select(
        F.col(id_col).alias("sid"),
        F.filter(Ftext.tokens(text_col), lambda x: x != "").alias("tf"),
    )
    nch = F.ceil(F.size("tf") / F.lit(float(k))).cast("int")
    chunks = (
        toks.withColumn("nch", nch)
        .filter(F.col("nch") > 0)  # sequence(0,-1) would step backwards
        .select(
            "sid",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.col("nch") - 1),
                    lambda i: F.array_join(F.slice("tf", i * k + 1, k), " "),
                )
            ).alias("chunk_idx", "chunk"),
        )
    )
    w = Window.partitionBy("h").orderBy("sid", "chunk_idx")
    return (
        chunks.withColumn("h", hash60(F.col("chunk")))
        .withColumn("retained", F.row_number().over(w) == 1)
        .select(
            F.col("sid").alias(id_col), "chunk_idx", "chunk", "retained"
        )
    )


def select_canonicals(
    scored: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality",
    *,
    src: str = "id_a",
    dst: str = "id_b",
    assume_diameter: int | None = None,
) -> DataFrame:
    """Survivorship POLICY over near-dup clusters: instead of
    :func:`drop_near_duplicates`' keep-smallest-id rule, keep the
    BEST-``score_col`` member of each cluster (tie-break smallest id)
    — the curation policy that keeps the cleanest copy of mirrored
    content, not an arbitrary one.

    Shape: :func:`connected_components` resolves pairs to clusters,
    then one cluster-keyed window ranks members — the ranking shuffle
    is cluster-sized (bounded by near-dup group sizes), never corpus-
    wide. Singletons are their own canonical. Output: (id, cluster,
    score, n_members, is_canonical).
    """
    from pyspark.sql import Window

    comp = connected_components(
        pairs, src=src, dst=dst, assume_diameter=assume_diameter
    )
    member = scored.join(
        comp, scored[id_col] == comp["node"], "left"
    ).select(
        scored[id_col],
        F.col(score_col),
        F.coalesce(F.col("comp"), scored[id_col]).alias("cluster"),
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    wc = Window.partitionBy("cluster")
    return (
        member.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(wc))
        .withColumn("is_canonical", F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_against_store(
    batch: DataFrame,
    store: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    store_fp_col: str = "fp",
) -> DataFrame:
    """Continuous-ingestion dedup: an incoming batch checked against
    the HISTORICAL fingerprint store (drop already-seen content), then
    exact-deduped within itself (first id wins) — the incremental twin
    of :func:`exact_duplicates` for a pipeline that ingests shards
    forever and must never re-admit content it has already accepted.

    Shape: one fp-keyed left join against the store (the store side is
    a distinct fingerprint table — the compact state a 100 TB pipeline
    checkpoints, not the text) + one fp-keyed window for the
    within-batch rule; both share the fp hash partitioning. Output:
    batch rows + (fp, verdict ∈ dup_store|dup_batch|accept); accepted
    rows' fps are exactly what the caller appends back to the store.

    NULL text fingerprints as the deterministic sentinel
    ``md5('') || ':null'`` rather than a NULL fp: a NULL equi-join key
    would never match the store, so one NULL-text row would be
    re-accepted on EVERY future batch instead of deduping against the
    first accepted one (ADVICE r4).
    """
    from pyspark.sql import Window

    b = batch.withColumn(
        "fp",
        F.coalesce(
            Ftext.fingerprint(F.col(text_col)),
            F.concat(F.md5(F.lit("")), F.lit(":null")),
        ),
    )
    s = (
        store.select(F.col(store_fp_col).alias("fp"))
        .distinct()
        .withColumn("__in_store", F.lit(1))
    )
    w = Window.partitionBy("fp").orderBy(id_col)
    return (
        b.join(s, "fp", "left")
        .withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "verdict",
            F.when(F.col("__in_store").isNotNull(), F.lit("dup_store"))
            .when(F.col("__rn") > 1, F.lit("dup_batch"))
            .otherwise(F.lit("accept")),
        )
        .drop("__in_store", "__rn")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: pairs where the SMALLER doc's
    shingle set is ≥ ``threshold`` contained in the other's
    (``|A∩B| / min(|A|,|B|)``) — catches excerpt/quote/subset
    duplication that Jaccard structurally cannot (a 50-line doc fully
    embedded in a 5000-line doc has Jaccard ≈ 0.01 but containment
    1.0). The standard complement to symmetric dedup in corpus
    curation (Broder's containment, the CCNet/Dolma excerpt rule).

    Same shuffle shape as :func:`ngram_jaccard_pairs` (shingle-keyed
    self-join, ``max_df`` stop-shingle cap bounds fan-out); at 100 TB
    the banded-LSH candidate route composes the same way. Output:
    (id_a < id_b, containment, n_a, n_b).
    """
    sets = _shingle_sets(df, id_col, text_col, k, max_df).cache()
    sizes = sets.groupBy("sid").agg(F.count("*").alias("n"))
    a, b = sets.alias("a"), sets.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.sid") < F.col("b.sid")))
        .groupBy(F.col("a.sid").alias("id_a"), F.col("b.sid").alias("id_b"))
        .agg(F.count("*").alias("c"))
    )
    na, nb = sizes.alias("na"), sizes.alias("nb")
    cont = F.col("c") / F.least(F.col("na.n"), F.col("nb.n"))
    return (
        inter.join(na, F.col("id_a") == F.col("na.sid"))
        .join(nb, F.col("id_b") == F.col("nb.sid"))
        .filter(cont >= threshold)
        .select(
            "id_a",
            "id_b",
            F.round(cont, 6).alias("containment"),
            F.col("na.n").alias("n_a"),
            F.col("nb.n").alias("n_b"),
        )
    )


#: anchor-sketch resolution for the suffix filter: E order-quantile
#: keys per document. 8 ≈ a depth-3 binary probe of the suffix; the
#: per-pair bound costs O(E²) codegen comparisons (no interpreted
#: higher-order functions on the pair path — the q163 discipline).
_SUFFIX_ANCHORS = 8


def _ranked_shingles(sets: DataFrame) -> DataFrame:
    """Each (sid, sh) row with its document size ``L``, global df, the
    1-based rare-first rank ``__r`` within its document, and the
    ORDER KEY ``__k`` — df zero-padded to 12 digits + '#' + shingle,
    so plain string comparison IS the (df asc, sh asc) global total
    order the prefix/positional/suffix filters all share."""
    from pyspark.sql import Window

    sizes = sets.groupBy("sid").agg(F.count("*").alias("L"))
    dfreq = sets.groupBy("sh").agg(F.count("*").alias("__df"))
    w = Window.partitionBy("sid").orderBy(F.asc("__df"), F.asc("sh"))
    return (
        sets.join(dfreq, "sh")
        .withColumn("__r", F.row_number().over(w))
        .join(sizes, "sid")
        .withColumn(
            "__k", F.concat(F.format_string("%012d", "__df"), F.lit("#"), "sh")
        )
    )


def _anchor_sketches(ranked: DataFrame, e_anchors: int = _SUFFIX_ANCHORS) -> DataFrame:
    """Per-document anchor sketch for the suffix filter: the order key
    at positions ``max(1, floor(L·e/E))`` for e = 1..E (always exactly
    E entries — tiny documents repeat their early keys, giving empty
    chunks), as two aligned arrays ``__ak`` (keys, ascending in the
    global order) and ``__ap`` (their 1-based positions). One
    (sid, position) equi-join against the ranked rows — document
    grain, ~E·20 bytes per doc."""
    sizes = ranked.select("sid", "L").distinct()
    wanted = sizes.withColumn(
        "__e", F.explode(F.sequence(F.lit(1), F.lit(e_anchors)))
    ).withColumn(
        "__p",
        F.greatest(
            F.lit(1),
            F.floor(F.col("L") * F.col("__e") / F.lit(e_anchors)).cast("int"),
        ),
    )
    hit = wanted.join(
        ranked.select("sid", F.col("__r").alias("__p"), "__k"),
        ["sid", "__p"],
    )
    return hit.groupBy("sid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__e", "__k", "__p"))),
            lambda s: s["__k"],
        ).alias("__ak"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("__e", "__k", "__p"))),
            lambda s: s["__p"].cast("long"),
        ).alias("__ap"),
    )


def _suffix_chunk_bound(e_anchors: int = _SUFFIX_ANCHORS):
    """The PPJoin+ suffix-filter overlap bound (Xiao et al. WWW'08),
    re-expressed over anchor sketches so it is pure codegen CASE
    arithmetic instead of a per-pair binary-search recursion:

    B's anchors cut B into E chunks of EXACT sizes (positions are
    ranks); for chunk i with key range (kb_{i-1}, kb_i], the shared
    elements inside it number at most min(chunk size, #A in the
    range). #A in a key range is bracketed from A's own anchors —
    cnt_le(t) ≤ pos_j of the FIRST anchor with key ≥ t (everything
    after it exceeds t), and ≥ pos_j of the LAST anchor with key ≤ t
    (everything up to it is ≤ t). Summing the per-chunk minima bounds
    the total overlap |A∩B|; every inequality direction is an
    over-count, so the bound is LOSSLESS — a pruned pair provably
    cannot reach the threshold (the q149 oracle equality is the
    proof obligation, and the anchors lose only granularity, never
    soundness). Expression cost: E chunks × two E-way CASEs of string
    compares ≈ E² codegen nodes — far below one array_intersect."""

    def ub_le(t):
        expr = F.col("la").cast("long")
        for j in range(e_anchors, 0, -1):
            expr = F.when(
                F.element_at("__aka", j) >= t, F.element_at("__apa", j)
            ).otherwise(expr)
        return expr

    def lb_le(t):
        expr = F.lit(0).cast("long")
        for j in range(1, e_anchors + 1):
            expr = F.when(
                F.element_at("__aka", j) <= t, F.element_at("__apa", j)
            ).otherwise(expr)
        return expr

    total = None
    prev_pos = F.lit(0).cast("long")
    for i in range(1, e_anchors + 1):
        kb_i = F.element_at("__akb", i)
        size_b = F.element_at("__apb", i) - prev_pos
        if i == 1:
            in_a = ub_le(kb_i)
        else:
            in_a = F.greatest(
                F.lit(0).cast("long"),
                ub_le(kb_i) - lb_le(F.element_at("__akb", i - 1)),
            )
        term = F.least(size_b, in_a)
        total = term if total is None else total + term
        prev_pos = F.element_at("__apb", i)
    return total


def _prefix_candidates(
    sets: DataFrame,
    n_: int,
    d_: int,
    *,
    positional: bool = True,
    suffix: bool = False,
) -> DataFrame:
    """Candidate pairs ``(id_a, id_b, la, lb)`` for the prefix-filter
    join over ``sets`` (columns ``sid``, ``sh``): rare-first prefix
    equi-join + length filter, then either a plain ``distinct()``
    (``positional=False``, the AllPairs baseline) or the PPJoin
    positional-filter ``groupBy`` (see
    :func:`prefix_filter_jaccard_pairs` for the soundness argument).
    Factored out so scale probes can count candidates per tier
    (``positional=False`` → AllPairs baseline; ``suffix=True`` adds
    the anchor-sketch suffix filter on the positional survivors).
    """
    ranked = _ranked_shingles(sets)
    # prefix length: L − ceil(t·L) + 1, exact in long arithmetic
    plen = F.col("L") - F.call_function(
        "div", F.lit(n_) * F.col("L") + F.lit(d_ - 1), F.lit(d_)
    ) + F.lit(1)
    prefix = ranked.filter(F.col("__r") <= plen).select("sid", "sh", "L", "__r")
    a, b = prefix.alias("a"), prefix.alias("b")
    matches = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.sid") < F.col("b.sid")),
        )
        .select(
            F.col("a.sid").alias("id_a"),
            F.col("b.sid").alias("id_b"),
            F.col("a.L").alias("la"),
            F.col("b.L").alias("lb"),
            F.col("a.__r").alias("__pa"),
            F.col("b.__r").alias("__pb"),
        )
        .filter(
            F.lit(n_) * F.greatest("la", "lb")
            <= F.lit(d_) * F.least("la", "lb")
        )
    )
    if not positional:
        return matches.select("id_a", "id_b", "la", "lb").distinct()
    # (Evaluated and rejected: a per-ROW positional prune before the
    # pair shuffle — overlap ≤ min(pa,pb) + min(La−pa, Lb−pb) holds
    # for every matched row, so filtering on it is lossless AND keeps
    # m intact for qualifying pairs. But at t = 1/2 the prefix spans
    # half the set and the bound ≈ L rarely dips below α = 2L/3:
    # measured 1,334 of 328,628 match rows pruned (0.4%) at sf0.1 —
    # under the per-row expression cost. Revisit for high thresholds
    # (t ≥ 0.8), where the prefix is short and the bound bites.)
    # PPJoin positional filter: positions of matched prefix shingles
    # rise together (shared global order), so max(__pa)/max(__pb) land
    # on the SAME (last) matched shingle; overlap ≤ m + min suffix.
    bound = F.col("__m") + F.least(
        F.col("la") - F.col("__pmax_a"), F.col("lb") - F.col("__pmax_b")
    )
    cand = (
        matches.groupBy("id_a", "id_b", "la", "lb")
        .agg(
            F.count("*").alias("__m"),
            F.max("__pa").alias("__pmax_a"),
            F.max("__pb").alias("__pmax_b"),
        )
        .filter(
            bound * F.lit(n_ + d_) >= F.lit(n_) * (F.col("la") + F.col("lb"))
        )
        .select("id_a", "id_b", "la", "lb")
    )
    if not suffix:
        return cand
    # PPJoin+ suffix filter via anchor sketches: two document-grain
    # joins deliver each side's E (key, position) anchors; the chunk
    # bound (see _suffix_chunk_bound) prunes pairs whose overlap
    # provably cannot reach the threshold BEFORE the expensive
    # full-array verify join. Lossless, so q149 stays hash-identical.
    anchors = _anchor_sketches(ranked)
    sbound = _suffix_chunk_bound()
    return (
        cand.join(
            anchors.select(
                F.col("sid").alias("id_a"),
                F.col("__ak").alias("__aka"),
                F.col("__ap").alias("__apa"),
            ),
            "id_a",
        )
        .join(
            anchors.select(
                F.col("sid").alias("id_b"),
                F.col("__ak").alias("__akb"),
                F.col("__ap").alias("__apb"),
            ),
            "id_b",
        )
        .filter(
            sbound * F.lit(n_ + d_) >= F.lit(n_) * (F.col("la") + F.col("lb"))
        )
        .select("id_a", "id_b", "la", "lb")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
    checkpoint: bool = True,
    positional: bool = True,
    suffix: bool = False,
) -> DataFrame:
    """Exact Jaccard ≥ ``threshold_num/threshold_den`` pairs via
    PREFIX FILTERING (Chaudhuri et al. ICDE'06; Bayardo et al.
    AllPairs, WWW'07) with the PPJoin POSITIONAL filter (Xiao et al.
    WWW'08) — the exact-threshold set-similarity join that completes
    the dedup family: :func:`ngram_jaccard_pairs` is the full
    self-join baseline (fan-out Σ df(sh)²), MinHash LSH is
    approximate; this is EXACT at sub-self-join cost.

    The prefix filter: order shingles by ascending global document
    frequency (rarest first, ties by shingle); a set of size L keeps
    only its first ``L − ceil(t·L) + 1`` shingles as join keys. Two
    sets with Jaccard ≥ t must share at least one PREFIX shingle
    under any consistent total order (if all shared shingles sat past
    both prefixes, the unshared prefix mass alone would push the
    union below t) — so the candidate equi-join on prefix shingles is
    LOSSLESS, and rare-first ordering makes it small (the join key
    distribution is the df distribution of the rarest shingles).
    A length filter (``num·max(L) ≤ den·min(L)``) prunes candidates
    before verification; the survivors verify with exact integer
    arithmetic — ``i·(num+den) ≥ num·(L_a+L_b)  ⇔  Jaccard ≥
    num/den`` — no float threshold boundary to disagree on.

    The positional filter (``positional=True``): each prefix shingle
    carries its 1-based rank within the set's rare-first order. For a
    candidate pair, positions of matched shingles increase TOGETHER
    (both sets sort by the same global order), so with ``m`` matched
    prefix shingles whose last match sits at positions ``(p, q)``,
    every shared shingle ≤ the last match is itself a prefix-prefix
    match (a shared shingle earlier than a match in one set is
    earlier than the SAME match in the other, hence inside both
    prefixes), giving the exact left-overlap ``m``; shared shingles
    after it number at most ``min(L_a − p, L_b − q)``.  Hence
    ``|A∩B| ≤ m + min(L_a − p, L_b − q)`` — a LOSSLESS upper bound
    checked in integer arithmetic BEFORE the verify join, replacing
    the plain ``distinct()`` with a same-shuffle ``groupBy`` while
    pruning candidates that cannot reach the threshold.

    The suffix filter (``suffix=True``, round 10 — PPJoin+, Xiao et
    al. WWW'08), IMPLEMENTED, MEASURED, AND DEFAULTED OFF: the
    positional bound treats the unmatched suffixes as fully
    overlapping; this tier probes their content via per-document
    anchor sketches (the order key at E=8 evenly spaced ranks,
    :func:`_anchor_sketches`) and the chunked bound
    Σᵢ min(|B chunk i|, #A in chunk i's key range)
    (:func:`_suffix_chunk_bound` — every term over-counts, so the
    prune is LOSSLESS; pair sets verified identical with the filter
    on and off at both SFs and four thresholds). Measured on the
    documents corpus at sf0.1 it prunes 15 of 119,907 positional
    survivors (0.013%) at t=1/2 and ≤0.2% at t∈{0.7, 0.8, 0.9},
    while adding two document-grain joins (wall 2.6 s → 6.0 s):
    same-corpus documents share the same global shingle-frequency
    DISTRIBUTION, so any distribution-level bound — anchors, or the
    original's divide-and-conquer Hamming probe, whose recursion
    budget explodes below t≈0.8 — cannot separate candidate pairs
    the positional filter already admitted; only content-level
    intersection can, and that IS the verify tier. Kept available
    for corpora with heterogeneous key distributions (cross-source
    joins), where the chunk bound has actual signal.

    100 TB shape: shingle-grain shuffles only; verification touches
    positional-surviving candidate pairs (post-filter), never the
    all-pairs space, and computes |A∩B| with ``array_intersect`` over
    per-doc SORTED shingle arrays — two id-keyed joins and a codegen
    expression per pair, instead of re-exploding every candidate's
    full set through a shuffle join (measured 2.6× on the
    310k-candidate sf0.1 corpus). Requires each doc's shingle set to
    fit in a row — true for documents (shingles ∝ tokens); for set
    columns of unbounded size fall back to the row-join verify of
    :func:`jaccard_pairs_from_sets`. ``checkpoint`` cuts the
    shingle-set lineage once for its three consumers (df table,
    prefix ranks, arrays).

    (Evaluated and rejected: verifying over dense INTEGER shingle ids
    (dictionary from the df table) instead of the string arrays — the
    per-pair compare gets cheaper but the dictionary join adds a
    shingle-grain shuffle, and the measured wall at sf0.1 is a wash
    (3.34 s vs 3.22 s like-for-like): the verify tier is JOIN-bound,
    not compare-bound. Revisit only if profiles ever show the
    array_intersect itself dominating — e.g. k-gram sets much longer
    than document shingle sets.)
    """
    n_, d_ = int(threshold_num), int(threshold_den)
    if not (0 < n_ <= d_):
        raise ValueError("threshold must be a fraction in (0, 1]")
    sets = _shingle_sets(df, id_col, text_col, k, None)
    if checkpoint:
        sets = sets.localCheckpoint(eager=False)
    cand = _prefix_candidates(
        sets, n_, d_, positional=positional, suffix=suffix
    )
    arrs = sets.groupBy("sid").agg(
        F.sort_array(F.collect_list("sh")).alias("__arr")
    )
    inter = (
        cand.join(
            arrs.select(F.col("sid").alias("id_a"), F.col("__arr").alias("__aa")),
            "id_a",
        )
        .join(
            arrs.select(F.col("sid").alias("id_b"), F.col("__arr").alias("__ab")),
            "id_b",
        )
        .withColumn(
            "n_shared", F.size(F.array_intersect("__aa", "__ab"))
        )
        .filter(
            F.col("n_shared") * F.lit(n_ + d_)
            >= F.lit(n_) * (F.col("la") + F.col("lb"))
        )
    )
    union = F.col("la") + F.col("lb") - F.col("n_shared")
    return inter.select(
        "id_a",
        "id_b",
        "n_shared",
        union.alias("n_union"),
        F.round(F.col("n_shared") / union, 6).alias("jaccard"),
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 8,
) -> DataFrame:
    """Exact-substring duplicate-span detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better") — the
    span-grain tier of the dedup family: q15 is whole-document, q84
    fixed chunks, q103 containment; this finds every VERBATIM token
    run of length ≥ ``k`` that also occurs earlier in the corpus
    (keep-first semantics), the signal the suffix-array pipeline
    computes centrally and this operator re-expresses relationally.

    Method: every k-gram occurrence is one row; a k-gram whose global
    count exceeds 1 flags all occurrences EXCEPT the lexicographically
    first ``(doc, pos)`` (MIN over ``struct(doc, pos)`` — orderable
    for numeric AND string document ids); flagged positions within a
    document merge into maximal spans when consecutive starts are
    ≤ ``k`` apart (gaps-and-islands over a per-doc window). A span of
    length L > k appears as L−k+1 flagged overlapping k-grams, so the
    island IS the maximal duplicated run. Returns ONE row per input
    document (zero-fill — never silently dropping clean docs, the
    q146 lesson): ``n_tokens``, ``n_dup_spans``, ``dup_tokens``
    (Σ span token lengths), ``dup_ratio_micro`` (integer micro-units).

    100 TB shape: one tokenize pass (lazily checkpointed — token
    arrays feed the totals and the occurrence stream), one
    shingle-hash shuffle for the counts, one join back on the hash,
    one per-doc window. Everything is grain-bounded: occurrences are
    ~tokens, the count table is distinct-shingles. The per-doc
    shingle ordinal must fit the winnowing pos budget (2^20) — fail
    loudly, chunk upstream."""
    base, spans = _dup_islands(df, id_col, text_col, k)
    tot = base.select(
        "__id", F.size("__arr").cast("long").alias("n_tokens")
    )
    da = spans.groupBy("__id").agg(
        F.count("*").alias("n_dup_spans"),
        F.sum(F.col("__e") - F.col("__s") + 1).alias("dup_tokens"),
    )
    return (
        tot.join(da, "__id", "left")
        .na.fill({"n_dup_spans": 0, "dup_tokens": 0})
        .select(
            F.col("__id").alias(id_col),
            "n_tokens",
            "n_dup_spans",
            "dup_tokens",
            F.when(
                F.col("n_tokens") > 0,
                F.call_function(
                    "div",
                    F.col("dup_tokens") * 1_000_000,
                    F.col("n_tokens"),
                ),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("dup_ratio_micro"),
        )
    )


def _dup_islands(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> tuple[DataFrame, DataFrame]:
    """Shared core of :func:`duplicated_spans` /
    :func:`remove_duplicated_spans`: the checkpointed ``(__id, __arr)``
    token base plus the maximal duplicated token spans per document as
    ``(__id, __isl, __s, __e)`` — 1-based INCLUSIVE token ranges
    (``__e`` already extends the last k-gram start by k−1)."""
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col).alias("__id"),
        F.filter(Ftext.tokens(text_col), lambda t: t != "").alias("__arr"),
    ).localCheckpoint(eager=False)
    n = F.size("__arr")
    # raise ONLY on an explicit overflow: a NULL text (NULL size) must
    # fall through to the empty-shingles branch, not the error
    guarded_pos = F.when(
        n - k + 1 >= F.lit(1 << WINNOW_POS_BITS),
        F.raise_error(
            F.concat(
                F.lit("duplicated_spans: doc "),
                F.col("__id").cast("string"),
                F.lit(
                    f" has >= {1 << WINNOW_POS_BITS} shingles (exceeds"
                    " the per-doc shingle budget); chunk upstream"
                ),
            )
        ),
    ).otherwise(F.lit(1))
    shingles = F.when(
        (n >= k) & (guarded_pos == 1),
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.struct(
                i.alias("pos"),
                hash60(
                    F.array_join(F.slice("__arr", i, k), " ")
                ).alias("h"),
            ),
        ),
    ).otherwise(F.expr("array()").cast("array<struct<pos:int,h:long>>"))
    occ = base.select(
        "__id", F.explode(shingles).alias("s")
    ).select("__id", F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
    # keep-first tie-break: MIN over struct(__id, pos) — lexicographic
    # struct ordering works for ANY orderable id type (string crawl
    # ids included), unlike the former id*2^20+pos int pack, which
    # silently NULLed on non-numeric ids under non-ANSI mode and
    # dropped every flagged row
    occ_key = F.struct(F.col("__id"), F.col("pos"))
    g = occ.groupBy("h").agg(
        F.count("*").alias("__c"),
        F.min(F.struct(F.col("__id"), F.col("pos"))).alias("__first"),
    )
    flagged = (
        occ.join(g, "h")
        .filter((F.col("__c") > 1) & (occ_key != F.col("__first")))
        .select("__id", "pos")
    )
    w = Window.partitionBy("__id").orderBy("pos")
    isl = flagged.withColumn(
        "__brk",
        F.when(F.lag("pos").over(w).isNull(), F.lit(1))
        .when(F.col("pos") - F.lag("pos").over(w) > k, F.lit(1))
        .otherwise(F.lit(0)),
    ).withColumn(
        "__isl",
        F.sum("__brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = isl.groupBy("__id", "__isl").agg(
        F.min("pos").cast("long").alias("__s"),
        (F.max("pos") + k - 1).cast("long").alias("__e"),
    )
    return base, spans


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 8,
    out_text: str = "text_dedup",
) -> DataFrame:
    """The surgery half of :func:`duplicated_spans` — Lee et al.
    2022's actual deduplication: CUT every verbatim ≥ ``k``-token run
    that also occurs earlier in the corpus out of the document,
    keeping the first occurrence corpus-wide intact. Returns one row
    per input document (clean docs pass through untouched):
    ``out_text`` (surviving tokens re-joined — NORMALIZED text, the
    tokenizer's lowercase/alnum stream, not the raw string),
    ``n_tokens``, ``n_removed``.

    Same core as the detector (shared :func:`_dup_islands` — one
    shingle-hash shuffle, keep-first pack tie-break, gaps-and-islands),
    then the spans collapse to a per-doc bounded list and one
    in-row ``F.filter`` with the element INDEX drops covered tokens —
    no explode of the token stream, no second shuffle."""
    base, spans = _dup_islands(df, id_col, text_col, k)
    sp = spans.groupBy("__id").agg(
        F.collect_list(F.struct("__s", "__e")).alias("__spans")
    )
    joined = base.join(sp, "__id", "left").withColumn(
        "__spans",
        F.coalesce("__spans", F.expr("array()").cast(
            "array<struct<__s:bigint,__e:bigint>>"
        )),
    )
    # Spark's filter lambda index is 0-based; spans are 1-based
    # inclusive token ordinals
    kept = F.filter(
        "__arr",
        lambda t, i: ~F.exists(
            F.col("__spans"),
            lambda s: (s["__s"] <= i + 1) & (i + 1 <= s["__e"]),
        ),
    )
    return joined.select(
        F.col("__id").alias(id_col),
        F.size("__arr").cast("long").alias("n_tokens"),
        (F.size("__arr") - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(kept, " ").alias(out_text),
    )


# ---------------------------------------------------------------------------
# Near-dup admission serving: persisted MinHash band index
# ---------------------------------------------------------------------------


def _band_key_rows(sig: DataFrame, id_col: str, *, num_hashes: int, bands: int) -> DataFrame:
    """(sid, key) band rows of a signature table: key = md5 over the
    band INDEX plus its r consecutive hash values, so distinct bands
    can never alias and a single-column equi-join suffices (the
    in-session :func:`minhash_lsh_pairs` keeps band separate because
    its self-join wants the struct; the serving layout wants one
    bucketable key)."""
    return sig.selectExpr(
        f"`{id_col}` AS sid",
        f"explode({_band_keys_sql(num_hashes, bands)}) AS key",
    )


def _band_keys_sql(num_hashes: int, bands: int) -> str:
    """SQL for the array of a signature row's ``bands`` band keys."""
    r = num_hashes // bands
    return "array(" + ", ".join(
        "md5(concat_ws(',', "
        + ", ".join([str(b)] + [f"h{b * r + j}" for j in range(r)])
        + "))"
        for b in range(bands)
    ) + ")"


#: per-(session, index-name) metadata memo — one immutable row per
#: build; the _srp_meta_memo discipline (rebuilds pop the key).
_mh_meta_memo: dict = {}


def _mh_meta(spark, name: str, *, fresh: bool = False):
    key = (id(spark), name)
    if fresh or key not in _mh_meta_memo:
        _mh_meta_memo[key] = spark.table(f"{name}_meta").collect()[0]
    return _mh_meta_memo[key]


def build_minhash_index(
    corpus: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    k: int = 3,
    name: str = "mh_idx",
    n_buckets: int = 8,
) -> dict[str, str]:
    """Persist the MinHash-LSH layout near-dup ADMISSION reads — the
    dedup family's serving story, completing the triad (BM25 postings
    for retrieval, SRP buckets for ANN, band buckets for near-dup):
    "is this incoming document a near-duplicate of anything already in
    the corpus?" answered WITHOUT re-shingling the corpus.

    - ``{name}_bands`` — ``(id, key)`` BUCKETED and sorted by ``key``
      (band-index salted into the md5, see :func:`_band_key_rows`):
      the probe side joins on ``key`` and, the table being bucketed on
      it, the corpus side never shuffles — per-probe work scales with
      the probe batch, not the corpus.
    - ``{name}_sigs`` — ``(id, h0..h{n-1})`` bucketed by the id: the
      agreement re-rank (estimated Jaccard) reads stored signatures.
    - ``{name}_meta`` — 1 row ``(num_hashes, bands, k, id_col)``; the
      probe derives ITS signatures from this, so probe and corpus can
      never disagree on the hash family.

    Signature cost (shingle explode + N affine mins) is paid once
    here; :func:`merge_minhash_index` folds daily increments in.
    Ref parity anchor: the reference dedups titles exactly
    (src/data_processor.py:71); this is the near-dup upgrade at
    corpus scale.
    """
    from ..sources.bucketing import write_bucketed

    if num_hashes % bands:
        raise ValueError("build_minhash_index: bands must divide num_hashes")
    spark = corpus.sparkSession
    sig = minhash_signatures(
        corpus, id_col, text_col, num_hashes=num_hashes, k=k
    ).cache()
    tables = {
        "bands": f"{name}_bands",
        "sigs": f"{name}_sigs",
        "meta": f"{name}_meta",
    }
    write_bucketed(
        _band_key_rows(sig, id_col, num_hashes=num_hashes, bands=bands).select(
            F.col("sid").alias(id_col), "key"
        ),
        tables["bands"],
        "key",
        n_buckets=n_buckets,
    )
    write_bucketed(sig, tables["sigs"], id_col, n_buckets=n_buckets)
    from ..sources.readers import local_frame

    local_frame(
        spark,
        [(num_hashes, bands, k, id_col)],
        "num_hashes int, bands int, k int, id_col string",
    ).write.format("parquet").mode("overwrite").saveAsTable(tables["meta"])
    sig.unpersist()
    for t in ("bands", "sigs"):
        if not spark.catalog.tableExists(tables[t]):
            raise RuntimeError(
                f"build_minhash_index: bucketed table {tables[t]!r} missing "
                "from the catalog after write — check the warehouse dir"
            )
    _mh_meta_memo.pop((id(spark), name), None)
    return tables


def near_dup_probe(
    new_docs: DataFrame,
    *,
    name: str = "mh_idx",
    text_col: str = "text",
    threshold_micro: int = 500_000,
    probe_id_out: str = "probe_id",
    corpus_id_out: str = "corpus_id",
    max_pushdown_keys: int | None = 4096,
    cut_lineage: bool = True,
) -> DataFrame:
    """Probe a batch of INCOMING documents against a persisted MinHash
    index (:func:`build_minhash_index`): returns
    ``(probe_id, corpus_id, est_jaccard_micro)`` for every
    (probe, corpus) pair sharing ≥1 LSH band whose ESTIMATED Jaccard —
    the signature agreement fraction, an unbiased estimator with
    stderr ≈ sqrt(J(1-J)/num_hashes) — clears ``threshold_micro``
    (integer micro-units: exact arithmetic, cross-engine stable).

    Plan shape: the probe batch is shingled and signed with the META
    row's family (never the caller's guess), read through the
    per-session memo that a same-name rebuild drops. In the admission
    form one build-time lookup job signs each probe within its row
    (:func:`_row_signatures`, no shuffle) and collects its signature and
    band keys, for at most ``max_pushdown_keys // bands`` probes (an
    admission micro-batch: batch × bands keys, the BM25 term-list
    grain), and the action binds them as literals
    (:func:`_near_dup_bound`): the keys become an IN filter, turning
    the bands read into a bucket-pruned, sorted-key-skipped scan whose
    IO ∝ matched band rows (the ``admission`` scale probe measures it
    flat), and the candidate pairs join the stored signatures by id in
    the same job. The signatures read still scans all of
    ``{name}_sigs``. A bigger batch, or ``max_pushdown_keys=None`` for
    bulk backfills, takes the bulk form: its band rows join the bands
    table on the single md5 key — the corpus side is bucketed on it,
    so only the PROBE side shuffles — and the agreement re-rank joins
    stored signatures by id. Either way the corpus is never
    re-shingled, and both forms share :func:`_mh_estimate`.

    The estimate is the ADMISSION grain (gate at ingest, the
    streaming.CurationSink use); for an exact-Jaccard verdict feed the
    survivors to :func:`jaccard_pairs_from_sets` or the prefix-filter
    join — the q20 two-tier discipline.
    """
    spark = new_docs.sparkSession
    # the per-session memo: build_minhash_index drops it on a rebuild,
    # so a probe never signs with a replaced index's hash family
    meta = _mh_meta(spark, name)
    idc, nh, bands = meta["id_col"], int(meta["num_hashes"]), int(meta["bands"])
    if idc not in new_docs.columns:
        raise ValueError(f"near_dup_probe: probe batch lacks id col {idc!r}")
    k = int(meta["k"])
    bands_c = spark.table(f"{name}_bands")
    sig_c = spark.table(f"{name}_sigs")
    out = dict(
        threshold_micro=threshold_micro,
        probe_id_out=probe_id_out,
        corpus_id_out=corpus_id_out,
    )
    if max_pushdown_keys:
        # the request's one build-time job: at most cap + 1 probe
        # signatures with their band keys, signed row by row (no
        # shuffle). One partition lets the collect's own limit finish
        # in one job; a limit operator would instead compile its stage
        # anew on every call (each one generates a counter of its own
        # into the code)
        cap = int(max_pushdown_keys) // bands
        probes = (
            _row_signatures(new_docs, idc, text_col, num_hashes=nh, k=k)
            .selectExpr(
                f"`{idc}` AS id",
                "named_struct("
                + ", ".join(f"'h{i}', h{i}" for i in range(nh))
                + ") AS p",
                f"{_band_keys_sql(nh, bands)} AS keys",
            )
            .coalesce(1)
            .limit(cap + 1)
            .collect()
        )
        # a repeated id takes the bulk form, which signs the union of
        # its rows' shingles
        if len(probes) <= cap and len({r["id"] for r in probes}) == len(probes):
            id_t = new_docs.schema[idc].dataType.simpleString()
            return _near_dup_bound(probes, bands_c, sig_c, idc, id_t, nh, **out)
    sig_p = minhash_signatures(new_docs, idc, text_col, num_hashes=nh, k=k)
    if cut_lineage:
        # bulk form: two consumers (band keys + agreement) — cut
        # once. Callers in LONG-LIVED processes (the streaming sink)
        # pass False: each localCheckpoint pins executor blocks until
        # the driver GCs the DataFrame, which accumulates across
        # micro-batches; a micro-batch recomputing its tiny signature
        # pipeline twice is the cheaper steady state (measured in the
        # gated soak).
        sig_p = sig_p.localCheckpoint(eager=False)
    bands_p = _band_key_rows(sig_p, idc, num_hashes=nh, bands=bands).select(
        F.col("sid").alias(probe_id_out), "key"
    )
    return _mh_agreement_pairs(
        bands_p, sig_p, bands_c, sig_c, idc=idc, nh=nh, **out
    )


def _near_dup_bound(
    probes: list,
    bands_c: DataFrame,
    sig_c: DataFrame,
    idc: str,
    id_t: str,
    nh: int,
    *,
    threshold_micro: int,
    probe_id_out: str,
    corpus_id_out: str,
) -> DataFrame:
    """The admission form of :func:`near_dup_probe`: the probe batch's
    collected signatures and band keys (``probes``: rows of (id, p,
    keys)) bind into the action as literals. The band read is
    IN-filtered on the keys (bucket-pruned, pushed to parquet), each
    band row picks up its probes from a key-keyed map, and each
    candidate pair its probe signature ``p`` before the stored
    signatures join; :func:`_mh_estimate` then scores the pairs as it
    does in-session."""
    from .similarity import _bind, _in_sql

    by_key: dict = {}
    sigs: dict = {}
    for r in probes:
        for key in r["keys"]:
            by_key.setdefault(key, []).append(r["id"])
        sigs[r["id"]] = [{"p": r["p"].asDict()}]
    cand = (
        _bind(
            bands_c.filter(_in_sql("key", sorted(by_key))),
            "key",
            {key: [{"__pids": ids}] for key, ids in by_key.items()},
            {"__pids": f"array<{id_t}>"},
        )
        # a key may be any number of probes' key. The Generate also
        # keeps the band read on its bucketed scan when it selects
        # every bucket
        .select(
            F.explode("__pids").alias(probe_id_out),
            F.col(idc).alias(corpus_id_out),
        )
        .distinct()
    )
    p_t = "struct<" + ",".join(f"h{i}:bigint" for i in range(nh)) + ">"
    # shuffled, not broadcast: a broadcast of either side would be a
    # job of its own
    pairs = (
        _bind(cand, probe_id_out, sigs, {"p": p_t})
        .hint("shuffle_hash")
        .join(sig_c.alias("c"), F.col(corpus_id_out) == F.col(f"c.{idc}"))
    )
    return _mh_estimate(
        pairs,
        nh,
        threshold_micro=threshold_micro,
        probe_id_out=probe_id_out,
        corpus_id_out=corpus_id_out,
    )


def _mh_agreement_pairs(
    bands_p: DataFrame,
    sig_p: DataFrame,
    bands_c: DataFrame,
    sig_c: DataFrame,
    *,
    idc: str,
    nh: int,
    threshold_micro: int,
    probe_id_out: str,
    corpus_id_out: str,
) -> DataFrame:
    """Band-key candidate pairs joined to both signature frames, then
    the shared :func:`_mh_estimate`: :func:`near_dup_pairs_vs_corpus`
    and :func:`admission_two_tier` feed it in-session frames, and the
    bulk form of :func:`near_dup_probe` the persisted tables; its
    admission form binds the probe side as literals and feeds the same
    estimate, so indexed == in-session holds by construction (and is
    test-pinned). ``bands_p`` carries (``probe_id_out``, key); the
    corpus frames carry the index id column ``idc``."""
    cand = (
        bands_p.join(bands_c, "key")
        .select(probe_id_out, F.col(idc).alias(corpus_id_out))
        .distinct()
    )
    pairs = cand.join(
        sig_p.alias("p"),
        F.col(probe_id_out) == F.col(f"p.{idc}"),
    ).join(sig_c.alias("c"), F.col(corpus_id_out) == F.col(f"c.{idc}"))
    return _mh_estimate(
        pairs,
        nh,
        threshold_micro=threshold_micro,
        probe_id_out=probe_id_out,
        corpus_id_out=corpus_id_out,
    )


def _mh_estimate(
    pairs: DataFrame,
    nh: int,
    *,
    threshold_micro: int,
    probe_id_out: str,
    corpus_id_out: str,
) -> DataFrame:
    """Signature-agreement estimate of candidate pairs whose probe and
    corpus hashes resolve as ``p.h{i}`` and ``c.h{i}`` (frame aliases
    in-session, a bound struct ``p`` in the admission form): the
    integer micro-unit Jaccard estimate, kept when it clears
    ``threshold_micro``. The agreement is one parsed expression; its
    ``+ 0`` after the first term is the start value of the Column
    ``sum`` it replaced, so existing plans are unchanged."""
    terms = [f"CAST((p.h{i} = c.h{i}) AS BIGINT)" for i in range(nh)]
    agree = " + ".join([f"{terms[0]} + 0", *terms[1:]])
    est = F.expr(f"CAST((__agree * 1000000) DIV {nh} AS BIGINT)")
    return (
        pairs.select(probe_id_out, corpus_id_out, F.expr(agree).alias("__agree"))
        .select(probe_id_out, corpus_id_out, est.alias("est_jaccard_micro"))
        .filter(F.col("est_jaccard_micro") >= int(threshold_micro))
    )


def near_dup_pairs_vs_corpus(
    corpus: DataFrame,
    probes: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    k: int = 3,
    threshold_micro: int = 500_000,
    probe_id_out: str = "probe_id",
    corpus_id_out: str = "corpus_id",
) -> DataFrame:
    """In-session form of :func:`near_dup_probe` — same banding, same
    agreement estimate, same output contract, computed against a
    corpus DataFrame instead of the persisted layout (the
    ``srp_knn`` / ``srp_knn_indexed`` pairing, for pipelines that
    haven't built the index or for oracle checking). Shares
    :func:`_mh_agreement_pairs`, so the two forms cannot drift."""
    if num_hashes % bands:
        raise ValueError("near_dup_pairs_vs_corpus: bands must divide num_hashes")
    sig_c = minhash_signatures(
        corpus, id_col, text_col, num_hashes=num_hashes, k=k
    ).localCheckpoint(eager=False)
    sig_p = minhash_signatures(
        probes, id_col, text_col, num_hashes=num_hashes, k=k
    ).localCheckpoint(eager=False)
    return _mh_agreement_pairs(
        _band_key_rows(sig_p, id_col, num_hashes=num_hashes, bands=bands).select(
            F.col("sid").alias(probe_id_out), "key"
        ),
        sig_p,
        _band_key_rows(sig_c, id_col, num_hashes=num_hashes, bands=bands).select(
            F.col("sid").alias(id_col), "key"
        ),
        sig_c,
        idc=id_col,
        nh=num_hashes,
        threshold_micro=threshold_micro,
        probe_id_out=probe_id_out,
        corpus_id_out=corpus_id_out,
    )


def merge_minhash_index(
    delta_docs: DataFrame,
    *,
    name: str = "mh_idx",
    text_col: str = "text",
    check_new_ids: bool = True,
    cut_lineage: bool = True,
    idempotent: bool = False,
) -> None:
    """Fold NEW documents into a persisted MinHash index — insert-only
    incremental maintenance (the merge_bm25_index / merge_srp_index
    discipline): signatures and band rows are pure functions of each
    document and the meta row's fixed hash family, so the merge is two
    bucketed APPENDs under the existing specs and merged == rebuilt
    holds bit-exactly (test-pinned). Delta ids are anti-checked
    against ``{name}_sigs`` by default (an id re-ingested would
    double-report candidates); updates/deletes → rebuild affected
    docs.

    ``idempotent=True`` makes the merge a safe REPLAY: instead of
    raising on overlap, already-indexed ids are anti-joined OUT of the
    delta, so re-running the same merge after a crash between the
    append and its commit marker inserts nothing twice. Costs one
    delta-vs-sigs anti-join, so streaming callers reserve it for the
    suspicious path (an intent marker without a commit marker — see
    ``streaming.jobs.CurationSink``); the steady-state merge stays
    scan-free."""
    from .retrieval import _bucket_count

    spark = delta_docs.sparkSession
    tables = {s: f"{name}_{s}" for s in ("bands", "sigs", "meta")}
    for t in tables.values():
        if not spark.catalog.tableExists(t):
            raise RuntimeError(
                f"merge_minhash_index: {t!r} missing — build_minhash_index first"
            )
    # fresh read (not the probe memo): merging on a stale meta for a
    # rebuilt same-name index would mix hash families
    meta = _mh_meta(spark, name, fresh=True)
    idc, nh = meta["id_col"], int(meta["num_hashes"])
    if idempotent:
        delta_docs = delta_docs.join(
            spark.table(tables["sigs"]).select(idc), idc, "left_anti"
        )
        if delta_docs.limit(1).isEmpty():
            return
    elif check_new_ids:
        dup = (
            spark.table(tables["sigs"])
            .select(idc)
            .join(delta_docs.select(idc), idc, "left_semi")
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                "merge_minhash_index: delta contains ids already indexed — "
                "insert-only maintenance would double-report candidates; "
                "dedup upstream or rebuild"
            )
    sig = minhash_signatures(
        delta_docs, idc, text_col, num_hashes=nh, k=int(meta["k"])
    )
    if cut_lineage:
        # same trade as near_dup_probe: streaming callers pass False
        sig = sig.localCheckpoint(eager=False)
    band_rows = _band_key_rows(
        sig, idc, num_hashes=nh, bands=int(meta["bands"])
    ).select(F.col("sid").alias(idc), "key")
    if idempotent:
        # per-table reconcile (the merge_ivfpq_index discipline): the
        # guard anti-join above is on sigs — the LAST table written —
        # so a crash between the bands and sigs appends leaves bands
        # ahead; replay must not re-append those band rows
        band_rows = band_rows.join(
            spark.table(tables["bands"]).select(idc), idc, "left_anti"
        )
    (
        band_rows.write.format("parquet")
        .mode("append")
        .bucketBy(_bucket_count(spark, tables["bands"]), "key")
        .sortBy("key")
        .saveAsTable(tables["bands"])
    )
    (
        sig.write.format("parquet")
        .mode("append")
        .bucketBy(_bucket_count(spark, tables["sigs"]), idc)
        .sortBy(idc)
        .saveAsTable(tables["sigs"])
    )


def admission_verify_exact(
    corpus: DataFrame,
    probes: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    probe_id_col: str = "probe_id",
    corpus_id_col: str = "corpus_id",
) -> DataFrame:
    """The EXACT tier of the two-tier admission discipline the probe
    docstrings point to: take the near-dup candidate pairs the
    signature-agreement estimate admitted (:func:`near_dup_probe` /
    :func:`near_dup_pairs_vs_corpus`) and compute their exact Jaccard
    from the real shingle sets — integer micro-units, so the verdict
    is court-grade and cross-engine exact. A curation pipeline gates
    INGEST on the cheap estimate and sends only the admitted pairs
    (bounded: probe batch × collided candidates) here before, e.g.,
    destructive removal decisions.

    Shape: shingle sets of each side restricted to their half of the
    candidate pairs (broadcast of the pair list — admission grain),
    one equi-join on the shingle string for intersections, per-side
    size aggregates. Appends ``exact_jaccard_micro`` to ``pairs``;
    pairs whose sides share no shingles keep 0 (LEFT join), so no
    admitted pair silently disappears.
    """
    sets_p = _shingle_sets(probes, id_col, text_col, k).select(
        F.col("sid").alias(probe_id_col), F.col("sh").alias("__sh")
    )
    sets_c = _shingle_sets(corpus, id_col, text_col, k).select(
        F.col("sid").alias(corpus_id_col), F.col("sh").alias("__sh")
    )
    return _verify_exact_from_sets(
        sets_p, sets_c, pairs, probe_id_col, corpus_id_col
    )


def _verify_exact_from_sets(
    sets_p: DataFrame,
    sets_c: DataFrame,
    pairs: DataFrame,
    probe_id_col: str,
    corpus_id_col: str,
) -> DataFrame:
    """The exact-Jaccard tail of :func:`admission_verify_exact` over
    PRECOMPUTED (id, __sh) shingle sets — shared with
    :func:`admission_two_tier` so the fused path cannot drift."""
    ids = pairs.select(probe_id_col, corpus_id_col)
    ps = sets_p.join(F.broadcast(ids.select(probe_id_col).distinct()), probe_id_col)
    cs = sets_c.join(
        F.broadcast(ids.select(corpus_id_col).distinct()), corpus_id_col
    )
    inter = (
        ps.join(cs, "__sh")
        .join(F.broadcast(ids), [probe_id_col, corpus_id_col], "left_semi")
        .groupBy(probe_id_col, corpus_id_col)
        .agg(F.count("*").alias("__c"))
    )
    np_ = ps.groupBy(probe_id_col).agg(F.count("*").alias("__np"))
    nc_ = cs.groupBy(corpus_id_col).agg(F.count("*").alias("__nc"))
    # size joins are LEFT with 0-coalesce: a side whose doc has an
    # EMPTY shingle set (< k tokens) has no np_/nc_ row, and an inner
    # join would silently drop the admitted pair — contradicting the
    # no-pair-disappears contract. Empty∪empty has denominator 0; the
    # guard defines that Jaccard as 0 (no shared content evidence).
    exact = F.expr(
        "CASE WHEN __np + __nc - __c <= 0 THEN CAST(0 AS BIGINT) "
        "ELSE CAST((__c * 1000000) DIV (__np + __nc - __c) AS BIGINT) END"
    )
    return (
        pairs.join(inter, [probe_id_col, corpus_id_col], "left")
        .join(np_, probe_id_col, "left")
        .join(nc_, corpus_id_col, "left")
        .withColumn("__c", F.coalesce("__c", F.lit(0)))
        .withColumn("__np", F.coalesce("__np", F.lit(0)))
        .withColumn("__nc", F.coalesce("__nc", F.lit(0)))
        .withColumn("exact_jaccard_micro", exact)
        .drop("__c", "__np", "__nc")
    )


def admission_two_tier(
    corpus: DataFrame,
    probes: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    k: int = 3,
    threshold_micro: int = 500_000,
    probe_id_out: str = "probe_id",
    corpus_id_out: str = "corpus_id",
) -> DataFrame:
    """Both admission tiers in one pass over ONE shingle pipeline per
    side — the fused form of ``near_dup_pairs_vs_corpus`` →
    ``admission_verify_exact`` (r13, guide §2.3: the composed pair
    shingled every document twice per side — a multiset pass for the
    signatures plus a distinct pass for the exact verify).

    The distinct (id, shingle) sets are cut once per side
    (``localCheckpoint``, two consumers each: signatures + exact
    tier). Signatures computed from the DISTINCT sets are IDENTICAL to
    the multiset form — ``min`` is invariant under dedup (the
    ``minhash_signatures`` docstring's own algebra, applied in the
    other direction: here the distinct shuffle is already paid by the
    exact tier, so hashing the multiset would be pure extra md5) — and
    the exact tier reads the same sets, so the output is row-identical
    to the composed path (test-pinned)."""
    if num_hashes % bands:
        raise ValueError("admission_two_tier: bands must divide num_hashes")
    sets_c = _shingle_sets(corpus, id_col, text_col, k).localCheckpoint(
        eager=False
    )
    sets_p = _shingle_sets(probes, id_col, text_col, k).localCheckpoint(
        eager=False
    )
    sig_c = signatures_from_sets(
        sets_c, id_col, num_hashes=num_hashes
    ).localCheckpoint(eager=False)
    sig_p = signatures_from_sets(
        sets_p, id_col, num_hashes=num_hashes
    ).localCheckpoint(eager=False)
    pairs = _mh_agreement_pairs(
        _band_key_rows(sig_p, id_col, num_hashes=num_hashes, bands=bands).select(
            F.col("sid").alias(probe_id_out), "key"
        ),
        sig_p,
        _band_key_rows(sig_c, id_col, num_hashes=num_hashes, bands=bands).select(
            F.col("sid").alias(id_col), "key"
        ),
        sig_c,
        idc=id_col,
        nh=num_hashes,
        threshold_micro=threshold_micro,
        probe_id_out=probe_id_out,
        corpus_id_out=corpus_id_out,
    )
    return _verify_exact_from_sets(
        sets_p.select(F.col("sid").alias(probe_id_out), F.col("sh").alias("__sh")),
        sets_c.select(F.col("sid").alias(corpus_id_out), F.col("sh").alias("__sh")),
        pairs,
        probe_id_out,
        corpus_id_out,
    )
