"""Similarity search over embedding columns (replaces the reference's
driver-side all-pairs cosine, ``src/training_service.py:622-623`` M13
and numpy dot scoring ``src/app_optimized.py:376-429`` M14).

Three tiers:

- :func:`brute_force_knn` — exact top-k, probes broadcast, one pass
  over the corpus. The correctness baseline.
- :func:`lsh_model` / :func:`lsh_knn` — BucketedRandomProjectionLSH
  (MLlib): sub-linear candidate generation at scale.
- :func:`ivf_knn` — KMeans-partitioned inverted file: probe the
  nearest ``nprobe`` centroids only; the classic 100-TB ANN layout.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vectors


def brute_force_knn(
    corpus: DataFrame,
    probes: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k of each probe against the corpus.

    Probes are broadcast; the corpus is scanned once. The window
    top-k shuffles only (probe_id, sim) pairs — fine for a bounded
    probe set; for probe sets in the millions use lsh/ivf."""
    dim = vectors.infer_dim(corpus, vec_col)
    p = probes.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("qn", F.sqrt(vectors.sq_norm_expanded("qv", dim)))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv")
    ).withColumn("nn", F.sqrt(vectors.sq_norm_expanded("nv", dim)))
    cond = (
        F.col("neighbor_id") != F.col("query_id") if exclude_self else F.lit(True)
    )
    # per-row norms + unrolled codegen dot: one aggregate per ROW, not
    # three higher-order folds per PAIR (bit-identical, ~50× faster)
    sim = vectors.dot_expanded("qv", "nv", dim) / (
        F.col("qn") * F.col("nn")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        c.join(F.broadcast(p), cond)
        .withColumn("sim", F.round(sim, 6))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "sim", "rnk")
    )


def quantize_embeddings(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    q_col: str = "q_emb",
) -> DataFrame:
    """Per-vector asymmetric int8 scalar quantization:
    ``q_i = round((x_i - lo) / scale) - 128`` with
    ``scale = (hi - lo) / 255`` — ``array<tinyint>`` plus two floats
    per row, a ~4-8× reduction in the bytes an ANN candidate scan
    touches (the thing that actually bounds throughput at 100 TB,
    where the float corpus doesn't fit page cache). Pure Catalyst
    ``transform`` — a per-ROW O(dim) path, not a pair path, so the
    interpreted-HOF ban (functions/vectors.py) doesn't apply.

    Adds ``{q_col}`` (array<tinyint>), ``{q_col}_lo`` and
    ``{q_col}_scale``. Reconstruction error per component is bounded
    by scale/2 = (hi-lo)/510 (tested)."""
    arr = vectors.as_double_array(vec_col)
    lo, hi = F.array_min(arr), F.array_max(arr)
    scale = F.when(hi > lo, (hi - lo) / F.lit(255.0)).otherwise(F.lit(1.0))
    out = (
        df.withColumn(f"{q_col}_lo", lo)
        .withColumn(f"{q_col}_scale", scale)
        .withColumn(
            q_col,
            F.transform(
                arr,
                lambda x: (
                    F.round((x - F.col(f"{q_col}_lo")) / F.col(f"{q_col}_scale"))
                    - F.lit(128)
                ).cast("tinyint"),
            ),
        )
    )
    return out


def dequantize_embeddings(
    df: DataFrame,
    *,
    q_col: str = "q_emb",
    out_col: str = "embedding_hat",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`:
    ``x̂_i = (q_i + 128) · scale + lo`` → array<double>."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(q_col),
            lambda q: (q.cast("double") + F.lit(128.0)) * F.col(f"{q_col}_scale")
            + F.col(f"{q_col}_lo"),
        ),
    )


def knn_quantized(
    corpus: DataFrame,
    probes: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Brute-force cosine top-k over the int8-quantized corpus
    (quantize → reconstruct → exact scan). Locally this measures the
    RECALL cost of quantization against :func:`brute_force_knn` —
    the bandwidth win it exists for only shows where the corpus
    exceeds memory. Probes stay full-precision (the standard
    asymmetric-distance setup)."""
    cq = dequantize_embeddings(
        quantize_embeddings(corpus, vec_col=vec_col), out_col="__emb_hat"
    ).select(id_col, F.col("__emb_hat").alias(vec_col))
    return brute_force_knn(
        cq, probes, id_col=id_col, vec_col=vec_col, k=k, exclude_self=exclude_self
    )


def _pq_params(codebooks):
    """Resolve (books, M, K, dim, d) — committed codebooks by default
    (ml/pq_codebooks.py, trained by scripts/gen_pq_codebooks.py), or a
    caller-supplied ``(books, dim)`` pair."""
    if codebooks is None:
        from ..ml import pq_codebooks as cb

        books, dim = cb.PQ_CODEBOOKS, cb.PQ_DIM
    else:
        books, dim = codebooks
    m = len(books)
    if dim % m:
        raise ValueError(f"pq: dim {dim} not divisible by M={m}")
    d = dim // m
    if any(len(b) != len(books[0]) for b in books):
        raise ValueError("pq: ragged codebooks — all M must share K*d length")
    if len(books[0]) % d:
        raise ValueError("pq: codebook length not a multiple of sub-dim")
    k = len(books[0]) // d
    return books, m, k, dim, d


def _pq_check_dim(df: DataFrame, vec_col: str, dim: int, what: str) -> None:
    """Fail loudly when a vector column's dimension disagrees with the
    codebook dim — otherwise element_at past the end returns NULL and
    the distance/LUT arrays go silently all-NULL (wrong codes and
    scores instead of an error)."""
    got = vectors.infer_dim(df, vec_col)
    if got != dim:
        raise ValueError(
            f"pq: {what} vectors are dim {got}, codebooks expect {dim}"
        )


def pq_encode(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks=None,
    out_col: str = "codes",
    keep: tuple = (),
) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011): each vector
    split into M subspaces, each subvector replaced by the index of
    its nearest codebook centroid → ``array<int>`` of M codes. At
    dim=64/M=8 that is 8 small ints instead of 64 doubles — the ~64×
    memory cut that lets a 10⁹-vector corpus live in RAM for the
    candidate scan (compose with IVF routing for sub-linearity; this
    operator is the storage axis, :func:`ivf_index` the routing axis).

    Exact integer arithmetic end-to-end: components quantize to micro
    units (the SRP fixed-point discipline) and squared distances stay
    in int64, so the argmin — ties broken toward the LOWEST centroid
    index by ``array_position`` first-match — is bit-reproducible in
    any engine; the q168 oracle replays it. Per-ROW O(M·K·d) column
    expressions (one ``transform`` over the K candidate centroids per
    subspace, inner distance unrolled); no per-pair work, no Python.
    """
    books, m_sub, k_cent, dim, d = _pq_params(codebooks)
    _pq_check_dim(df, vec_col, dim, "input")
    staged = df.select(F.col(id_col), *[F.col(c) for c in keep], F.col(vec_col))
    # all M codes inside ONE xq binding (the _bind_xq shape): each
    # subspace's distance array binds as dm so the argmin reads it
    # once; codebooks stage as array literals (inlining-free)
    for m in range(m_sub):
        staged = staged.withColumn(
            f"__cb{m}", _int_array_lit(books[m])
        )
    code_exprs = []
    for m in range(m_sub):
        dists = (
            f"transform(sequence(0, {k_cent - 1}), c -> "
            f"aggregate(sequence(0, {d - 1}), CAST(0 AS BIGINT), "
            f"(acc, j) -> acc + (xq[{m * d}+j] - __cb{m}[c*{d}+j]) "
            f"* (xq[{m * d}+j] - __cb{m}[c*{d}+j])))"
        )
        code_exprs.append(
            f"transform(array({dists}), dm -> "
            f"CAST(array_position(dm, array_min(dm)) - 1 AS INT))[0]"
        )
    codes = _bind_xq("array(" + ", ".join(code_exprs) + ")", vec_col)
    return staged.select(id_col, *keep, codes.alias(out_col))


from ..functions.scalars import int_array_lit as _int_array_lit  # noqa: E402
# (shared: functions/scalars.int_array_lit — the round-11 py4j
# literal-tax fix; langid/quality_clf stage their weight tables
# through the same helper)
from ..sources.bucketing import (  # noqa: E402
    append_bucketed,
    bucket_spec,
    finish_index_build,
    index_meta,
    insert_only_delta,
    write_bucketed,
)
from ..sources.readers import local_frame  # noqa: E402
# (r12: literal row sets stage as in-JVM LocalRelations — the
# createDataFrame RDD path schedules a defaultParallelism-task Python
# scan per action; see sources/readers.local_frame)


def _pq_probe_luts(
    p: DataFrame, vec_col: str, books, m_sub: int, k_cent: int, d: int
) -> DataFrame:
    """Stage each probe's M asymmetric-distance lookup tables as ONE
    ``__luts`` column (array of M arrays): ``__luts[m][c] = ⟨probe
    subvector m, centroid c⟩`` in micro² int64 — a per-PROBE
    O(M·K·d) projection in the xq-bound small-tree form
    (:func:`_bind_xq`), materialized at the broadcast exchange before
    any pair joins read it. Shared by :func:`pq_adc_topk` and the
    in-session IVF+PQ searches (:func:`ivfpq_topk_indexed` computes
    the same tables driver-side)."""
    for m in range(m_sub):
        p = p.withColumn(f"__cb{m}", _int_array_lit(books[m]))
    luts = ", ".join(
        f"transform(sequence(0, {k_cent - 1}), c -> "
        f"aggregate(sequence(0, {d - 1}), CAST(0 AS BIGINT), "
        f"(acc, j) -> acc + xq[{m * d}+j] * __cb{m}[c*{d}+j]))"
        for m in range(m_sub)
    )
    return p.withColumn(
        "__luts", _bind_xq(f"array({luts})", vec_col)
    ).drop(vec_col, *[f"__cb{m}" for m in range(m_sub)])


def _pq_adc_score(m_sub: int):
    """The per-PAIR ADC score: M table lookups summed (exact int64),
    no higher-order fold on the pair path — one parsed expression over
    the exchange-materialized ``__luts``."""
    return F.expr(
        " + ".join(f"__luts[{m}][codes[{m}]]" for m in range(m_sub))
    )


def pq_adc_topk(
    corpus: DataFrame,
    probes: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    codebooks=None,
    exclude_self: bool = True,
) -> DataFrame:
    """Asymmetric-distance top-k over the PQ-encoded corpus: probes
    stay full precision, each probe precomputes its M lookup tables
    (LUT[m][c] = ⟨probe subvector m, centroid c⟩ in micro² ints — a
    per-PROBE O(M·K·d) stage), and the per-PAIR score is just M
    table lookups summed (unrolled — the ``dot_expanded`` discipline:
    no higher-order fold on the pair path). Inner product in exact
    int64; ranking ties break on the neighbor id.

    Returns (query_id, neighbor_id, adc_micro2, rnk). Recall tradeoff
    vs :func:`brute_force_knn` is gated in-query by the q168 roster
    entry, the storage-axis sibling of q123's int8 gate."""
    books, m_sub, k_cent, dim, d = _pq_params(codebooks)
    _pq_check_dim(probes, vec_col, dim, "probe")
    enc = pq_encode(
        corpus, id_col=id_col, vec_col=vec_col, codebooks=codebooks
    ).select(F.col(id_col).alias("neighbor_id"), "codes")
    p = probes.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    p = _pq_probe_luts(p, "__qv", books, m_sub, k_cent, d)
    score = _pq_adc_score(m_sub)
    cond = (
        F.col("neighbor_id") != F.col("query_id")
        if exclude_self
        else F.lit(True)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc_micro2"), F.asc("neighbor_id")
    )
    return (
        enc.join(F.broadcast(p), cond)
        .withColumn("adc_micro2", score)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "adc_micro2", "rnk")
    )


def pq_rerank_topk(
    corpus: DataFrame,
    probes: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    candidates: int = 20,
    codebooks=None,
    exclude_self: bool = True,
) -> DataFrame:
    """The standard two-stage PQ pipeline: ADC over the compressed
    corpus generates ``candidates`` per probe (the cheap wide scan —
    M int lookups per pair), then the EXACT cosine re-ranks just
    those candidates from the raw vectors (expensive, but bounded by
    ``probes × candidates``). At 100 TB the first stage touches the
    64×-compressed codes table and the second a by-id bucket-pruned
    slice of the raw corpus.

    Recall guarantee (the q168 in-query gate): top-k hits of the
    re-rank are a SUPERSET of plain ADC top-k hits — an exact-top-k
    member surviving to ADC top-k is in the candidate set, and only
    vectors with strictly higher true similarity can outrank it in
    the exact re-rank, of which there are at most k−1. Output
    contract matches :func:`brute_force_knn`:
    (query_id, neighbor_id, sim, rnk)."""
    cand = pq_adc_topk(
        corpus,
        probes,
        id_col=id_col,
        vec_col=vec_col,
        k=candidates,
        codebooks=codebooks,
        exclude_self=exclude_self,
    ).select("query_id", "neighbor_id")
    return _exact_rerank(cand, corpus, probes, id_col, vec_col, k)


def _exact_rerank(
    cand: DataFrame,
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Exact-cosine re-rank of a bounded (query_id, neighbor_id)
    candidate set against the raw vectors — the second stage of
    :func:`pq_rerank_topk`, factored so :func:`pq_two_stage` can feed
    it a SHARED ADC pass. Output: (query_id, neighbor_id, sim, rnk)."""
    dim = vectors.infer_dim(corpus, vec_col)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv")
    ).withColumn("nn", F.sqrt(vectors.sq_norm_expanded("nv", dim)))
    p = probes.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("qn", F.sqrt(vectors.sq_norm_expanded("qv", dim)))
    return _cosine_topk(
        cand.join(c, "neighbor_id").join(F.broadcast(p), "query_id"), dim, k
    )


def _cosine_topk(pairs: DataFrame, dim: int, k: int, *keep: str) -> DataFrame:
    """Exact-cosine top-``k`` per query over candidate pairs carrying
    (query_id, qv, qn, neighbor_id, nv, nn): the one score+rank of the
    SRP, PQ and IVF+PQ searches, in-session and indexed alike, so an
    indexed request returns the in-session rows by construction.
    Output: (query_id, neighbor_id, sim, rnk, *keep)."""
    sim = vectors.dot_expanded("qv", "nv", dim) / (F.col("qn") * F.col("nn"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("sim", F.round(sim, 6))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "sim", "rnk", *keep)
    )


def pq_two_stage(
    corpus: DataFrame,
    probes: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    candidates: int = 20,
    codebooks=None,
    exclude_self: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """ADC top-``k`` AND the exact re-rank from ONE ADC pass (round
    12, the q175 shared-subplan discipline applied to q168): plain ADC
    top-k is the HEAD (rnk ≤ k) of the candidate ranking by
    construction — identical window, identical tie rule — so the
    recall-comparison query that previously PQ-encoded and ADC-scored
    the corpus once per stage shares a single lazily-checkpointed
    candidate pass between its two consumers. Returns
    ``(adc_topk_df, rerank_df)``, row-identical to
    :func:`pq_adc_topk` / :func:`pq_rerank_topk` (pinned in tests)."""
    adc_cand = pq_adc_topk(
        corpus,
        probes,
        id_col=id_col,
        vec_col=vec_col,
        k=candidates,
        codebooks=codebooks,
        exclude_self=exclude_self,
    ).localCheckpoint(eager=False)
    adc_k = adc_cand.filter(F.col("rnk") <= int(k))
    rr = _exact_rerank(
        adc_cand.select("query_id", "neighbor_id"),
        corpus,
        probes,
        id_col,
        vec_col,
        k,
    )
    return adc_k, rr


def ivf_pq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    coarse_centroids: list,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nprobe: int = 4,
    candidates: int = 20,
    codebooks=None,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF+PQ — the two ANN axes composed (Jégou et al. 2011's
    IVFADC layout): committed coarse centroids give SUB-LINEARITY
    (probes route to ``nprobe`` cells and the candidate scan touches
    only those cells' vectors — :func:`ivf_knn_committed`'s routing),
    committed PQ codebooks give COMPRESSION (the in-cell scan reads
    M one-byte codes per vector via ADC lookup tables instead of dim
    doubles — :func:`pq_adc_topk`'s storage win), and an exact cosine
    re-rank of the top-``candidates`` ADC survivors restores
    precision. This variant quantizes RAW vectors, not per-cell
    residuals (residual encoding needs per-cell codebooks — documented
    trade: simpler artifact, slightly coarser ADC; the re-rank absorbs
    it).

    Every stage is exact integer arithmetic over committed literals
    (assignment/routing argmin, ADC int64 LUT sums) or 6-dp-rounded
    cosine, so the whole path is cross-engine replayable — the q173
    twin replays it. Returns (query_id, neighbor_id, sim, rnk,
    n_scanned) where ``n_scanned`` is the per-probe count of ADC-
    scored corpus rows — the sub-linearity evidence, computed in the
    same window pass (no extra shuffle).

    At 100 TB: corpus is STORED as (cluster, id, codes) partitioned by
    cluster — one byte-compact table; probes read nprobe partitions
    (partition pruning), the LUT stage is per-probe-only work, and the
    re-rank touches ``candidates`` full vectors per probe via an
    id-keyed point lookup. Here the cell restriction is one equi-join
    against the (bounded, broadcast) routed probe set."""
    books, m_sub, k_cent, dim, d = _pq_params(codebooks)
    _pq_check_dim(probes, vec_col, dim, "probe")

    assigned = centroid_assign(corpus, coarse_centroids, vec_col=vec_col)
    enc = pq_encode(
        assigned.select(id_col, vec_col, "cluster"),
        id_col=id_col,
        vec_col=vec_col,
        codebooks=codebooks,
        keep=("cluster",),
    ).select(F.col(id_col).alias("neighbor_id"), "cluster", "codes")

    routed = ivf_route_committed(
        probes, coarse_centroids, id_col=id_col, vec_col=vec_col, nprobe=nprobe
    ).select("query_id", "cluster")
    p = _pq_probe_luts(
        probes.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
        ),
        "__qv",
        books,
        m_sub,
        k_cent,
        d,
    )

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv")
    ).withColumn("nn", F.sqrt(vectors.sq_norm_expanded("nv", dim)))
    pv = probes.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("qn", F.sqrt(vectors.sq_norm_expanded("qv", dim)))
    return _ivfpq_tail(
        enc, routed, p, pv, c, dim, m_sub,
        k=k, candidates=candidates, exclude_self=exclude_self,
    )


def _route_with_offsets(
    probes: DataFrame,
    centroids: list,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
) -> DataFrame:
    """:func:`ivf_route_committed` plus the per-cell score offset:
    (query_id, cluster, __qc) where ``__qc = ⟨q, c_L⟩`` in micro² int64
    — the constant term of the residual-ADC decomposition
    ``⟨q, x⟩ = ⟨q, c_L⟩ + ⟨q, r⟩``. Distances (for the routing order)
    and dots (for the offsets) compute in ONE xq binding per probe.
    Same per-ROW fan-out grain as :func:`ivf_route_committed` (see its
    grain note): probe ids must be unique — dedupe first if not."""
    k = len(centroids)
    dim = len(centroids[0])
    if vectors.infer_dim(probes, vec_col) != dim:
        raise ValueError(
            f"route: vectors are dim {vectors.infer_dim(probes, vec_col)}, "
            f"centroids expect {dim}"
        )
    flat = [int(v) for c in centroids for v in c]
    inner = (
        f"transform(sequence(0, {k - 1}), c -> struct("
        f"aggregate(sequence(0, {dim - 1}), CAST(0 AS BIGINT), "
        f"(acc, j) -> acc + (xq[j] - __cb[c*{dim}+j]) "
        f"* (xq[j] - __cb[c*{dim}+j])) AS d, "
        f"aggregate(sequence(0, {dim - 1}), CAST(0 AS BIGINT), "
        f"(acc, j) -> acc + xq[j] * __cb[c*{dim}+j]) AS qc))"
    )
    staged = (
        probes.withColumn("__cb", _int_array_lit(flat))
        .withColumn("__dc", _bind_xq(inner, vec_col))
        .drop("__cb")
    )
    # first nprobe of the per-row (d, cluster) lexicographic sort —
    # identical to the previous row_number-over-(d asc, cluster asc)
    # window, with no exchange and no window (r12, guide §2.4); (d,
    # cluster) is unique per row so the trailing qc never breaks a tie
    return staged.select(
        F.col(id_col).alias("query_id"),
        F.explode(
            F.slice(
                F.array_sort(
                    F.expr(
                        "transform(__dc, (s, i) -> "
                        "struct(s.d AS d, i AS cluster, s.qc AS qc))"
                    )
                ),
                1,
                nprobe,
            )
        ).alias("__s"),
    ).select(
        "query_id",
        F.col("__s.cluster").alias("cluster"),
        F.col("__s.qc").alias("__qc"),
    )


def _rpq_params(rcodebooks):
    if rcodebooks is None:
        from ..ml import pq_residual_codebooks as rcb

        rcodebooks = (rcb.RPQ_CODEBOOKS, rcb.RPQ_DIM)
    return _pq_params(rcodebooks)


def pq_residual_encode(
    assigned: DataFrame,
    coarse_centroids: list,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    rcodebooks=None,
    out_col: str = "codes",
    keep: tuple = (),
) -> DataFrame:
    """RESIDUAL product-quantization encode (IVFADC, Jégou et al.
    2011 §IV): each vector's residual against its assigned coarse
    centroid — an exact integer subtraction inside the xq binding —
    is what the per-subspace argmin quantizes, against the committed
    residual codebooks (ml/pq_residual_codebooks.py). Residuals
    concentrate near zero, so the same M·K budget loses less per code
    than raw-vector PQ (q175 measures the recall delta). Same
    expression shape and tie rules as :func:`pq_encode`."""
    books, m_sub, k_cent, dim, d = _rpq_params(rcodebooks)
    _pq_check_dim(assigned, vec_col, dim, "input")
    if len(coarse_centroids[0]) != dim:
        raise ValueError("residual encode: coarse centroid dim mismatch")
    staged = assigned.select(
        F.col(id_col),
        F.col(cluster_col),
        *[F.col(c) for c in keep],
        F.col(vec_col),
    ).withColumn(
        "__cbf", _int_array_lit(v for c in coarse_centroids for v in c)
    )
    for m in range(m_sub):
        staged = staged.withColumn(
            f"__cb{m}", _int_array_lit(books[m])
        )
    code_exprs = []
    for m in range(m_sub):
        res_j = (
            f"(xq[{m * d}+j] - __cbf[{cluster_col}*{dim} + {m * d}+j])"
        )
        dists = (
            f"transform(sequence(0, {k_cent - 1}), c -> "
            f"aggregate(sequence(0, {d - 1}), CAST(0 AS BIGINT), "
            f"(acc, j) -> acc + ({res_j} - __cb{m}[c*{d}+j]) "
            f"* ({res_j} - __cb{m}[c*{d}+j])))"
        )
        code_exprs.append(
            f"transform(array({dists}), dm -> "
            f"CAST(array_position(dm, array_min(dm)) - 1 AS INT))[0]"
        )
    codes = _bind_xq("array(" + ", ".join(code_exprs) + ")", vec_col)
    return staged.select(
        id_col, cluster_col, *keep, codes.alias(out_col)
    )


def ivf_pq_residual_topk(
    corpus: DataFrame,
    probes: DataFrame,
    coarse_centroids: list,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nprobe: int = 4,
    candidates: int = 20,
    rcodebooks=None,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF+PQ with RESIDUAL codes — the full IVFADC layout: corpus
    vectors store residual codes per cell, probes route with per-cell
    offsets, and the candidate score is
    ``⟨q, c_L⟩ + Σₘ LUT[m][code_m]`` where the LUTs are the raw
    probe's inner products against the RESIDUAL codebooks — the exact
    decomposition ``⟨q, x⟩ = ⟨q, c_L⟩ + ⟨q, r⟩`` with ``r`` replaced
    by its quantization. Everything integer micro² and committed, so
    q175's twin replays it; shares :func:`_ivfpq_tail` (candidate
    window, exact-cosine re-rank, n_scanned) with the raw-PQ form —
    the recall comparison is apples to apples."""
    books, m_sub, k_cent, dim, d = _rpq_params(rcodebooks)
    _pq_check_dim(probes, vec_col, dim, "probe")
    assigned = centroid_assign(corpus, coarse_centroids, vec_col=vec_col)
    enc = pq_residual_encode(
        assigned,
        coarse_centroids,
        id_col=id_col,
        vec_col=vec_col,
        rcodebooks=rcodebooks,
    ).select(F.col(id_col).alias("neighbor_id"), "cluster", "codes")
    routed = _route_with_offsets(
        probes, coarse_centroids, id_col=id_col, vec_col=vec_col, nprobe=nprobe
    )
    p = _pq_probe_luts(
        probes.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
        ),
        "__qv",
        books,
        m_sub,
        k_cent,
        d,
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv")
    ).withColumn("nn", F.sqrt(vectors.sq_norm_expanded("nv", dim)))
    pv = probes.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("qn", F.sqrt(vectors.sq_norm_expanded("qv", dim)))
    return _ivfpq_tail(
        enc, routed, p, pv, c, dim, m_sub,
        k=k, candidates=candidates, exclude_self=exclude_self,
        adc_offset_col="__qc",
    )


def ivf_pq_compare(
    corpus: DataFrame,
    probes: DataFrame,
    coarse_centroids: list,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nprobe: int = 4,
    candidates: int = 20,
    codebooks=None,
    rcodebooks=None,
    exclude_self: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Raw-PQ and residual-PQ IVFADC arms over ONE shared corpus
    subplan (VERDICT r11 #5): the q175 recall comparison previously
    ran the coarse assignment, the corpus norm scan, and the probe
    routing TWICE — once inside each of :func:`ivf_pq_topk` and
    :func:`ivf_pq_residual_topk` — even though both arms share them
    bit-identically by construction (same centroids, same argmin/tie
    rules, same (distance asc, cluster asc) routing order). Here the
    assignment and the norm projection build once and cut with a lazy
    localCheckpoint (two encoder / two re-rank consumers, one
    execution), and the routing comes from ONE
    :func:`_route_with_offsets` pass — the raw arm just drops the
    offset column. What remains per arm is the irreducibly different
    work: the encode scan against its own codebooks and its ADC tail.
    Returns ``(raw_df, res_df)``, row-identical to the two standalone
    operators (pinned in tests)."""
    books, m_sub, k_cent, dim, d = _pq_params(codebooks)
    rbooks, rm_sub, rk_cent, rdim, rd = _rpq_params(rcodebooks)
    if rdim != dim:
        raise ValueError("ivf_pq_compare: raw/residual codebook dim mismatch")
    _pq_check_dim(probes, vec_col, dim, "probe")
    assigned = centroid_assign(corpus, coarse_centroids, vec_col=vec_col)
    # ONE corpus scan computes BOTH code arrays: the raw and residual
    # encoders chain as narrow projections (whole-stage codegen fuses
    # them), and the combined (id, cluster, codes_raw, codes_res)
    # output — M+M small ints per row — cuts with a lazy checkpoint
    # for its two ADC-tail consumers (the two-consumer rule; the
    # standalone operators pay this scan once per arm)
    enc_both = pq_residual_encode(
        pq_encode(
            assigned.withColumn("__v2", F.col(vec_col)),
            id_col=id_col,
            vec_col=vec_col,
            codebooks=codebooks,
            keep=("cluster", "__v2"),
            out_col="__codes_raw",
        ),
        coarse_centroids,
        id_col=id_col,
        vec_col="__v2",
        rcodebooks=rcodebooks,
        keep=("__codes_raw",),
        out_col="__codes_res",
    ).localCheckpoint(eager=False)
    enc_raw = enc_both.select(
        F.col(id_col).alias("neighbor_id"),
        "cluster",
        F.col("__codes_raw").alias("codes"),
    )
    enc_res = enc_both.select(
        F.col(id_col).alias("neighbor_id"),
        "cluster",
        F.col("__codes_res").alias("codes"),
    )
    routed_qc = _route_with_offsets(
        probes, coarse_centroids, id_col=id_col, vec_col=vec_col,
        nprobe=nprobe,
    ).localCheckpoint(eager=False)
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv")
        )
        .withColumn("nn", F.sqrt(vectors.sq_norm_expanded("nv", dim)))
        .localCheckpoint(eager=False)
    )
    pv = probes.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("qn", F.sqrt(vectors.sq_norm_expanded("qv", dim)))

    def luts(bk, m, kc, dd):
        return _pq_probe_luts(
            probes.select(
                F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
            ),
            "__qv",
            bk,
            m,
            kc,
            dd,
        )

    raw = _ivfpq_tail(
        enc_raw, routed_qc.select("query_id", "cluster"),
        luts(books, m_sub, k_cent, d), pv, c, dim, m_sub,
        k=k, candidates=candidates, exclude_self=exclude_self,
    )
    res = _ivfpq_tail(
        enc_res, routed_qc, luts(rbooks, rm_sub, rk_cent, rd), pv, c,
        dim, rm_sub,
        k=k, candidates=candidates, exclude_self=exclude_self,
        adc_offset_col="__qc",
    )
    return raw, res


def _ivfpq_tail(
    enc: DataFrame,
    routed: DataFrame,
    p: DataFrame,
    pv: DataFrame,
    c: DataFrame,
    dim: int,
    m_sub: int,
    *,
    k: int,
    candidates: int,
    exclude_self: bool,
    adc_offset_col: str | None = None,
) -> DataFrame:
    """In-session tail of :func:`ivf_pq_topk`, :func:`ivf_pq_residual_topk`
    and :func:`ivf_pq_compare`: the routed-cell joins that make the
    candidate pairs, then the shared :func:`_ivfpq_adc_topk` and
    :func:`_cosine_topk` that :func:`ivfpq_topk_indexed` also runs.
    ``enc``: (neighbor_id, cluster, codes); ``routed``: (query_id,
    cluster[, adc_offset_col]); ``p``: probe LUTs (query_id, __luts);
    ``pv``/``c``: (query_id, qv, qn) / (neighbor_id, nv, nn)."""
    cond = (
        F.col("neighbor_id") != F.col("query_id")
        if exclude_self
        else F.lit(True)
    )
    pairs = (
        enc.join(F.broadcast(routed), "cluster")
        .filter(cond)
        .join(F.broadcast(p), "query_id")
    )
    cand = _ivfpq_adc_topk(pairs, m_sub, candidates, adc_offset_col)
    return _cosine_topk(
        cand.join(c, "neighbor_id").join(F.broadcast(pv), "query_id"),
        dim, k, "n_scanned",
    )


def _ivfpq_adc_topk(
    pairs: DataFrame, m_sub: int, candidates: int, adc_offset_col: str | None
) -> DataFrame:
    """ADC stage of the IVF+PQ search: score each (query_id,
    neighbor_id, codes, __luts[, adc_offset_col]) pair by its M table
    lookups (plus the residual offset), keep each query's top
    ``candidates`` and count the pairs it scanned. Output: (query_id,
    neighbor_id, n_scanned)."""
    w_all = Window.partitionBy("query_id")
    w_adc = Window.partitionBy("query_id").orderBy(
        F.desc("__adc"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn(
            "__adc",
            _pq_adc_score(m_sub) + F.col(adc_offset_col)
            if adc_offset_col
            else _pq_adc_score(m_sub),
        )
        .withColumn("n_scanned", F.count("*").over(w_all))
        .withColumn("__ark", F.row_number().over(w_adc))
        .filter(F.col("__ark") <= candidates)
        .select("query_id", "neighbor_id", "n_scanned")
    )


def _to_ml_vectors(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(out_col, array_to_vector(vectors.as_double_array(vec_col)))


def lsh_model(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    bucket_length: float = 2.0,
    num_tables: int = 3,
    seed: int = 42,
):
    """Fit BucketedRandomProjectionLSH over an array column.

    Returns (model, transformed_df). bucket_length rule of thumb:
    ~pow(n, -1/dims)·range — tune empirically per corpus
    (SURVEY.md §7 risk d)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    prepared = _to_ml_vectors(df, vec_col, "__features")
    lsh = BucketedRandomProjectionLSH(
        inputCol="__features",
        outputCol="__hashes",
        bucketLength=bucket_length,
        numHashTables=num_tables,
        seed=seed,
    )
    model = lsh.fit(prepared)
    return model, prepared


def lsh_knn(
    corpus: DataFrame,
    probe_vec,
    *,
    vec_col: str = "embedding",
    k: int = 5,
    bucket_length: float = 2.0,
    num_tables: int = 3,
) -> DataFrame:
    """Approximate top-k for a single probe vector (euclidean LSH)."""
    from pyspark.ml.linalg import Vectors

    model, prepared = lsh_model(
        corpus, vec_col=vec_col, bucket_length=bucket_length, num_tables=num_tables
    )
    key = Vectors.dense(list(probe_vec))
    return model.approxNearestNeighbors(prepared, key, k).drop("__features", "__hashes")


def ivf_index(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 42,
    max_iter: int = 10,
):
    """Build an IVF index: KMeans centroids + cluster-assigned corpus.

    Returns (centroids_df, assigned_df). At scale the assigned corpus
    is written partitioned by cluster so probes read only their
    ``nprobe`` partitions (partition pruning does the fan-in).
    ``max_iter`` defaults below MLlib's 20: routing quality saturates
    early and index build time is the cost that scales."""
    from pyspark.ml.clustering import KMeans

    prepared = _to_ml_vectors(df, vec_col, "__features")
    km = KMeans(k=n_centroids, seed=seed, featuresCol="__features", maxIter=max_iter)
    model = km.fit(prepared)
    assigned = model.transform(prepared).withColumnRenamed("prediction", "cluster")
    centroids = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    centroids_df = local_frame(
        df.sparkSession, centroids, ["cluster", "centroid"]
    )
    return centroids_df, assigned.drop("__features", "__hashes")


def _quantize_sql(vec_col: str) -> str:
    """SQL for the micro-quantized int64 vector (round half-up then
    truncate-cast — identical to ``F.round(x·10⁶).cast("long")`` and
    the oracles' idiom)."""
    name = vectors._sql_name(vec_col)
    return (
        f"transform(CAST({name} AS ARRAY<DOUBLE>), "
        f"x -> CAST(round(x * {SRP_FIXED_POINT}) AS BIGINT))"
    )


def _bind_xq(inner_sql: str, vec_col: str):
    """Evaluate the quantized vector ONCE per row and bind it as the
    lambda variable ``xq`` inside ``inner_sql`` — the expression-shape
    discipline these committed-artifact folds converged on after
    measuring the two failure modes: (a) a STAGED quantize column gets
    re-inlined per reference by CollapseProject and re-evaluated
    interpreted (~5 ms/row at K=16·dim=64); (b) fully UNROLLED plain
    arithmetic stays in codegen but the ~6k-node methods cost ~10 s of
    janino compilation per stage. A small higher-order tree with xq
    lambda-bound evaluates each op once, parses in one py4j call, and
    compiles instantly — ~0.1-0.3 ms/row interpreted, no fixed cost."""
    return F.expr(f"transform(array({_quantize_sql(vec_col)}), xq -> {inner_sql})[0]")


def _with_centroid_dists(
    df: DataFrame, centroids: list, vec_col: str, out: str = "__cdist"
) -> DataFrame:
    """Stage an ``array<long>`` of exact integer squared distances
    from the micro-quantized vector to EVERY committed centroid.
    Components quantize to micro units first so the distances
    (≤ dim · (few·10⁶)² ≈ 10¹⁵) stay in int64 and every engine agrees
    bit-for-bit; the expression is the xq-bound small-tree form (see
    :func:`_bind_xq`) over a staged centroid array literal — literal
    inlining is free, so CollapseProject cannot make it quadratic."""
    k = len(centroids)
    dim = len(centroids[0])
    if vectors.infer_dim(df, vec_col) != dim:
        raise ValueError(
            f"centroid_assign: vectors are dim {vectors.infer_dim(df, vec_col)}, "
            f"centroids expect {dim}"
        )
    flat = [int(v) for c in centroids for v in c]
    inner = (
        f"transform(sequence(0, {k - 1}), c -> "
        f"aggregate(sequence(0, {dim - 1}), CAST(0 AS BIGINT), "
        f"(acc, j) -> acc + (xq[j] - __cb[c*{dim}+j]) "
        f"* (xq[j] - __cb[c*{dim}+j])))"
    )
    return (
        df.withColumn("__cb", _int_array_lit(flat))
        .withColumn(out, _bind_xq(inner, vec_col))
        .drop("__cb")
    )


def centroid_assign(
    df: DataFrame,
    centroids: list,
    *,
    vec_col: str = "embedding",
    out_col: str = "cluster",
) -> DataFrame:
    """Assign each vector to its nearest COMMITTED centroid — exact
    integer argmin (ties toward the lowest centroid index via
    ``array_position`` first-match), the round-9 PQ-codebook discipline
    applied to full-vector clustering: the iterative KMeans fit runs
    once offline (scripts/gen_centroids.py, deterministic integer
    Lloyd) and assignment is a replayable map-only fold any engine
    reproduces, so cluster histograms (q41) and IVF routing (q47) are
    hash-checkable instead of rows-only. Appends ``out_col`` (int);
    all input columns pass through."""
    staged = _with_centroid_dists(df, centroids, vec_col)
    return staged.withColumn(
        out_col,
        (
            F.array_position(
                F.col("__cdist"), F.array_min(F.col("__cdist"))
            )
            - 1
        ).cast("int"),
    ).drop("__cdist")


def _ivf_seed_df(base: DataFrame, seed_ranks: list[int]) -> DataFrame:
    """The k evenly-ranked quantized vectors in ``__id`` order, ranked
    with the TWO-PHASE :func:`..operators.ranks.bucketed_rank` — the
    r11 verdict flagged the previous ``Window.orderBy("__id")`` +
    row_number form as a single-partition pass over the whole corpus
    (the exact scale-killer the q117/q148 rank discipline exists to
    avoid). Numeric ids bucket equi-width, string ids by post-LCP
    prefix; both are monotone along the sort key so the global rank is
    IDENTICAL to the window form (same seed vectors, scale-probe
    numbers unchanged) while the plan shows no full-corpus
    SinglePartition exchange. ``checkpoint=False``: the upstream is a
    bare scan/projection, cheap to recompute twice."""
    from pyspark.sql.types import NumericType

    from .ranks import (
        bucketed_rank,
        with_equi_width_bucket,
        with_string_prefix_bucket,
    )

    id_type = base.schema["__id"].dataType
    if isinstance(id_type, NumericType):
        src = with_equi_width_bucket(base, "__id", out="__vb")
    else:
        # strings (and anything whose string form preserves its order,
        # e.g. ISO dates) bucket on the post-LCP prefix
        src = with_string_prefix_bucket(base, "__id", out="__vb")
    ranked = bucketed_rank(
        src, [F.col("__id")], ["__vb"], out="__rn", checkpoint=False
    )
    return (
        ranked.filter(F.col("__rn").isin([int(r) for r in seed_ranks]))
        .orderBy("__rn")
        .select("__xq", "__rn")
    )


def train_ivf_centroids(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 10,
) -> list[list[int]]:
    """DISTRIBUTED deterministic integer Lloyd — the committed-centroid
    REGENERATION path (VERDICT r10 #3): scripts/gen_centroids.py fits
    driver-side (fine for the committed sf0.01 artifacts), but the
    K ∝ √n retrain rule means K and n GROW together, so the periodic
    retrain must run where the corpus lives. Same math, distributed:

    - init: the k evenly-ranked vectors in ``id_col`` order (rank
      ``i·(n//k)``) — deterministic, no RNG; ranked via the two-phase
      :func:`_ivf_seed_df`, never a global single-partition window;
    - assign: :func:`centroid_assign`'s exact integer argmin (micro-
      quantized vectors, ties toward the lowest centroid index);
    - update: per-(cluster, component) int64 sums via ONE posexplode
      aggregate per iteration; the new component is round-half-up
      ``sums/count`` in pure ints (gen_centroids._round_div); empty
      clusters keep their previous centroid; convergence stops early.

    Per-iteration cost: one corpus scan + a k·dim-row collect (k·dim
    ≤ a few thousand ints — driver-bounded like the BPE pair pages).
    The returned table is exactly what gen_centroids.py would commit:
    feed it to :func:`build_ivfpq_index(coarse_centroids=...)` on the
    retrain cadence :func:`ivfpq_rebuild_advice` recommends."""
    k = int(k)
    if k < 1:
        raise ValueError("train_ivf_centroids: k must be >= 1")
    dim = vectors.infer_dim(df, vec_col)
    # keep the RAW vectors through the loop: centroid_assign
    # micro-quantizes internally, so pre-quantizing here would scale
    # the components twice; only the seed collect and the update sums
    # read the quantized form explicitly
    base = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    xq = F.expr(_quantize_sql("__v"))
    n = base.count()
    if n < k:
        raise ValueError(f"train_ivf_centroids: only {n} vectors for k={k}")
    seed_ranks = [1 + i * (n // k) for i in range(k)]
    cents = [
        [int(x) for x in r["__xq"]]
        for r in _ivf_seed_df(
            base.select("__id", xq.alias("__xq")), seed_ranks
        ).collect()
    ]

    def _round_div(s: int, c: int) -> int:
        if s >= 0:
            return (2 * s + c) // (2 * c)
        return -((2 * (-s) + c) // (2 * c))

    for _ in range(int(iters)):
        stats = (
            centroid_assign(base, cents, vec_col="__v")
            .select("cluster", F.posexplode(xq).alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.sum("x").alias("s"), F.count("*").alias("c"))
            .collect()
        )
        sums: dict[int, list[int]] = {}
        counts: dict[int, int] = {}
        for r in stats:
            sums.setdefault(r["cluster"], [0] * dim)[r["pos"]] = int(r["s"])
            counts[r["cluster"]] = int(r["c"])
        new = [
            [_round_div(s, counts[ci]) for s in sums[ci]]
            if ci in counts
            else cents[ci]
            for ci in range(k)
        ]
        if new == cents:
            break
        cents = new
    return cents


def ivfpq_rebuild_advice(
    spark,
    *,
    name: str = "ivfpq_idx",
    n_now: int | None = None,
    nprobe: int = 4,
    growth_factor: float = 4.0,
) -> dict:
    """The rebuild-vs-merge decision rule for a persisted IVF layout
    (VERDICT r10 #3). Per-probe scan cost is ``n·nprobe/K`` candidate
    rows plus ``K`` routing distances — minimized at ``K ≈ √(n·nprobe)``
    (d/dK = 0), the classic √n rule. Merges keep K fixed, so a corpus
    that outgrows its build-time size degrades toward the linear scan:
    once ``n_now ≥ growth_factor · n_at_build`` (default 4× — K_opt has
    drifted 2×, doubling the per-probe scan vs optimal), the advice
    flips from delta-grain ``merge`` to ``rebuild`` with
    ``k_target = round(√(n_now · nprobe))`` centroids retrained where
    the corpus lives (:func:`train_ivf_centroids`).

    Returns ``{action, k_current, k_target, n_at_build, n_now,
    scan_rows_now, scan_rows_after, reason}`` — driver cost is the
    1-row meta read plus (when ``n_now`` is not passed) one by_id
    count."""
    import math

    meta = _ivfpq_layout(index_meta(spark, name), name)
    if n_now is None:
        n_now = spark.table(f"{name}_by_id").count()
    n_now = int(n_now)
    k_cur = int(meta["n_centroids"])
    n_built = int(meta["n_at_build"])
    k_target = max(k_cur, int(round(math.sqrt(n_now * nprobe))))
    scan_now = n_now * nprobe // max(k_cur, 1)
    scan_after = n_now * nprobe // max(k_target, 1)
    if n_now >= growth_factor * n_built and k_target > k_cur:
        return {
            "action": "rebuild",
            "k_current": k_cur,
            "k_target": k_target,
            "n_at_build": n_built,
            "n_now": n_now,
            "scan_rows_now": scan_now,
            "scan_rows_after": scan_after,
            "reason": (
                f"corpus grew {n_now / max(n_built, 1):.1f}x since the "
                f"centroids were trained; K={k_cur} scans "
                f"{scan_now} rows/probe vs {scan_after} at "
                f"K=round(sqrt(n*nprobe))={k_target}"
            ),
        }
    return {
        "action": "merge",
        "k_current": k_cur,
        "k_target": k_cur,
        "n_at_build": n_built,
        "n_now": n_now,
        "scan_rows_now": scan_now,
        "scan_rows_after": scan_now,
        "reason": (
            f"corpus at {n_now / max(n_built, 1):.1f}x of build size "
            f"(< {growth_factor:g}x threshold) — delta-grain merge "
            "stays the cheap correct move"
        ),
    }


def maintain_ivfpq_index(
    delta: DataFrame | None,
    *,
    name: str = "ivfpq_idx",
    vec_col: str = "embedding",
    coarse_centroids: list | None = None,
    codebooks=None,
    nprobe: int = 4,
    growth_factor: float = 4.0,
    retrain_iters: int = 10,
    idempotent: bool = False,
    residual_codebooks_fn=None,
    spark=None,
) -> dict:
    """ONE maintenance epoch of a persisted IVF+PQ layout — the
    lifecycle the r11 verdict asked for (#2): merge the delta, then
    CONSULT :func:`ivfpq_rebuild_advice` and EXECUTE the K ∝ √n
    rebuild when the advice flips. Until round 12 the advice was a
    probe-only library function; this is the maintenance entry point
    (beside ``compact_parquet`` / the CurationSink merge epochs) a
    production ingest calls every delta, so the 4×-growth degradation
    the rule exists to catch is acted on instead of logged.

    - merge: :func:`merge_ivfpq_index` (replay-safe via
      ``idempotent=True`` — the _guarded_merge reconcile mode).
      ``delta=None`` skips the merge (pure advice/rebuild check).
    - advice: one meta read + one by_id count.
    - rebuild: the FULL indexed corpus is already in ``by_id``
      (``v`` is the exact double form the encoders quantize, so
      re-encoding from it is bit-identical to re-encoding from the
      source); :func:`train_ivf_centroids` retrains
      ``k_target = round(√(n·nprobe))`` centroids WHERE THE CORPUS
      LIVES (two-phase seed, no single-partition pass) and
      :func:`build_ivfpq_index` rewrites the layout under the same
      name. The overwrite is per-table, not transactional — same
      caveat as every merge here (a Delta/Iceberg catalog would make
      it atomic); serving continuity is restored at return, and the
      caller MUST serve with the returned ``centroids`` from then on
      (the meta fingerprint makes stale-artifact calls fail loudly
      rather than mix code spaces).

    A ``residual`` index's per-cell codebooks are TRAINED AGAINST the
    coarse centroids, so a centroid retrain invalidates them: pass
    ``residual_codebooks_fn(corpus_df, new_centroids) -> rcodebooks``
    to retrain them in the same pass, else the rebuild is DEFERRED
    (``action='rebuild_deferred'``) and the merged index keeps serving
    at the old K — degraded but correct, and the audit row shows it.

    Returns the advice dict plus ``{merged, rebuilt, centroids}``."""
    if delta is None and spark is None:
        raise ValueError("maintain_ivfpq_index: pass delta or spark")
    spark = spark if spark is not None else delta.sparkSession
    coarse_centroids, codebooks = _ivfpq_params(coarse_centroids, codebooks)
    merged = False
    if delta is not None:
        merge_ivfpq_index(
            delta,
            name=name,
            vec_col=vec_col,
            coarse_centroids=coarse_centroids,
            codebooks=codebooks,
            idempotent=idempotent,
        )
        merged = True
    advice = ivfpq_rebuild_advice(
        spark, name=name, nprobe=nprobe, growth_factor=growth_factor
    )
    out = {**advice, "merged": merged, "rebuilt": False,
           "centroids": coarse_centroids}
    if advice["action"] != "rebuild":
        return out
    meta = _ivfpq_layout(index_meta(spark, name, fresh=True), name)
    residual = meta["variant"] == "residual"
    if residual and residual_codebooks_fn is None:
        out["action"] = "rebuild_deferred"
        out["reason"] += (
            "; residual per-cell codebooks are trained against the "
            "coarse centroids — pass residual_codebooks_fn to retrain "
            "them with the new K (deferring: merged index keeps "
            "serving at the old K)"
        )
        return out
    idc = meta["id_col"]
    # the indexed corpus, materialized OFF the tables being rewritten
    # (Spark refuses to overwrite a table it is still reading from)
    corpus = (
        spark.table(f"{name}_by_id")
        .select(F.col(idc), F.col("v").alias(vec_col))
        .localCheckpoint(eager=True)
    )
    new_cents = train_ivf_centroids(
        corpus,
        id_col=idc,
        vec_col=vec_col,
        k=advice["k_target"],
        iters=retrain_iters,
    )
    new_books = (
        residual_codebooks_fn(corpus, new_cents) if residual else codebooks
    )
    build_ivfpq_index(
        corpus,
        id_col=idc,
        vec_col=vec_col,
        coarse_centroids=new_cents,
        codebooks=new_books,
        name=name,
        n_buckets=bucket_spec(spark, f"{name}_codes")[0],
        residual=residual,
    )
    corpus.unpersist()
    out.update(rebuilt=True, centroids=new_cents)
    if residual:
        out["codebooks"] = new_books
    return out


def ivf_route_committed(
    probes: DataFrame,
    centroids: list,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
) -> DataFrame:
    """Route each probe to its ``nprobe`` nearest committed coarse
    centroids (integer L2, ties toward the lower cluster id) — the
    standard IVF probe fan-out, replayable because the routing rule is
    pure integer arithmetic over committed literals. Returns
    (query_id, qv, cluster); per probe the fan-out is the first
    ``nprobe`` entries of a per-row ``array_sort`` over
    (distance, cluster) structs — identical to the previous
    row_number-over-(d asc, cluster asc) window (lexicographic struct
    order IS that rank), but computed entirely map-side: the old form
    exploded all K cells and paid an exchange + two-phase window just
    to keep nprobe of them (r12, guide §2.4). Routing cost stays
    O(K·dim + K log K) per probe, independent of corpus size.

    Grain note (ADVICE r12 #1): the fan-out is PER ROW. The old
    window partitioned by ``id_col``, so duplicated probe ids would
    have shared ONE nprobe fan-out across their rows; per-row routing
    gives each duplicate row its own nprobe cells. Equivalent only
    when probe ids are unique — which every caller here guarantees
    (probes are id-keyed index rows or distinct-projected corpus
    slices). Callers with possibly-duplicated probe rows must dedupe
    on ``id_col`` first."""
    staged = _with_centroid_dists(probes, centroids, vec_col)
    return staged.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(
            F.slice(
                F.array_sort(
                    F.expr(
                        "transform(__cdist, (d, i) -> struct(d AS d, i AS cluster))"
                    )
                ),
                1,
                nprobe,
            )
        ).alias("__s"),
    ).select("query_id", "qv", F.col("__s.cluster").alias("cluster"))


def ivf_knn_committed(
    corpus: DataFrame,
    probes: DataFrame,
    centroids: list,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF ANN over committed coarse centroids: corpus vectors assign
    to cells (:func:`centroid_assign`), probes route to their
    ``nprobe`` cells (:func:`ivf_route_committed`), and the exact
    cosine rerank runs ONLY inside routed cells — search cost ÷
    (K/nprobe) vs. the full scan, with every stage (assignment,
    routing, cosine at 6 dp) cross-engine replayable, which flips q47
    from a rows-only seeded-MLlib check to a hash-checked oracle. At
    100 TB the assigned corpus is written partitioned by cluster so
    the cell join becomes partition pruning; here it is one equi-join
    keyed on the (bounded, broadcast) routed probes."""
    dim = vectors.infer_dim(corpus, vec_col)
    assigned = centroid_assign(corpus, centroids, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        "cluster",
    )
    routed = ivf_route_committed(
        probes, centroids, id_col=id_col, vec_col=vec_col, nprobe=nprobe
    )
    sim = vectors.dot_expanded("qv", "nv", dim) / (
        F.sqrt(vectors.sq_norm_expanded("qv", dim))
        * F.sqrt(vectors.sq_norm_expanded("nv", dim))
    )
    cond = (
        F.col("neighbor_id") != F.col("query_id")
        if exclude_self
        else F.lit(True)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        assigned.join(F.broadcast(routed), "cluster")
        .filter(cond)
        .withColumn("sim", F.round(sim, 6))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "sim", "rnk")
    )


def ivf_knn(
    centroids_df: DataFrame,
    assigned: DataFrame,
    probes: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """ANN top-k: route each probe to its ``nprobe`` nearest centroids,
    then exact-search only those clusters. Search cost drops by
    ~n_centroids/nprobe vs. brute force."""
    dim = vectors.infer_dim(assigned, vec_col)
    p = probes.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("qn", F.sqrt(vectors.sq_norm_expanded("qv", dim)))
    cent = centroids_df.select(
        "cluster", F.col("centroid").alias("cv")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("cluster"))
    routed = (
        p.join(F.broadcast(cent))
        .withColumn("csim", vectors.cosine(F.col("qv"), F.col("cv")))
        .withColumn("crnk", F.row_number().over(w))
        .filter(F.col("crnk") <= nprobe)
        .select("query_id", "qv", "qn", "cluster")
    )
    c = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        "cluster",
    ).withColumn("nn", F.sqrt(vectors.sq_norm_expanded("nv", dim)))
    sim = vectors.dot_expanded("qv", "nv", dim) / (
        F.col("qn") * F.col("nn")
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        c.join(F.broadcast(routed), ["cluster"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", F.round(sim, 6))
        .withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "sim", "rnk")
    )


# ---------------------------------------------------------------------------
# Deterministic signed-random-projection LSH (expression-level — unlike
# MLlib's BucketedRandomProjectionLSH the hyperplanes derive from a
# cross-engine-reproducible hash, so the whole path is oracle-checkable)
# ---------------------------------------------------------------------------

#: fixed-point scale for projections: quantizing x to round(x·10^6)
#: BEFORE the sum makes the per-plane accumulation pure int64 —
#: associative, so Spark's partial aggregation order and the oracle's
#: single-threaded order produce bit-identical signs (a float sum
#: could flip sign near 0 across engines).
SRP_FIXED_POINT = 1_000_000


def srp_signatures(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 16,
) -> DataFrame:
    """Signed-random-projection (Charikar hyperplane LSH) bucket id per
    vector: ``planes`` pseudo-random ±1 hyperplanes, bucket = packed
    sign bits of the projections. Collision probability between two
    vectors is ``1 - theta/pi`` per bit, so same-bucket candidates are
    cosine-close with tunable precision (more planes = finer buckets).

    The hyperplane component for (plane p, dim d) is ``±1`` from a
    60-bit md5 hash of ``"p_d"`` — no RNG state, reproducible in ANY
    engine. Shape: posexplode (|v|·dim rows) → explode over planes
    (×planes) → two map-side-combinable groupBys. At 100 TB this is a
    sparse-free GEMM against a ``planes×dim`` matrix that never
    materializes; the only shuffles are keyed on the vector id.
    """
    from .dedup import hash60

    el = df.select(
        F.col(id_col), F.posexplode(vectors.as_double_array(vec_col)).alias("d", "x")
    ).withColumn("xq", F.round(F.col("x") * SRP_FIXED_POINT).cast("long"))
    per_plane = (
        el.withColumn("p", F.explode(F.sequence(F.lit(0), F.lit(planes - 1))))
        .withColumn(
            "sgn",
            F.when(
                hash60(F.concat_ws("_", F.col("p"), F.col("d"))) % 2 == 0, F.lit(1)
            ).otherwise(F.lit(-1)),
        )
        .groupBy(id_col, "p")
        .agg(F.sum(F.col("xq") * F.col("sgn")).alias("proj"))
    )
    # shiftleft() the builtin only takes a literal shift; the SQL form
    # accepts a column exponent
    bit = F.when(
        F.col("proj") >= 0, F.expr("shiftleft(CAST(1 AS BIGINT), p)")
    ).otherwise(F.lit(0).cast("long"))
    return per_plane.groupBy(id_col).agg(F.sum(bit).alias("bucket"))


def srp_knn(
    corpus: DataFrame,
    probes: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 16,
    k: int = 3,
    multiprobe: bool = False,
) -> DataFrame:
    """ANN top-k restricted to each probe's SRP bucket: candidates come
    from a bucket EQUI-join (the sub-linear step — at scale the corpus
    signatures are computed once and bucketed on disk), exact cosine
    re-ranks the candidates. Probes whose bucket holds no other member
    return no rows — the recall/latency trade every LSH makes; raise
    recall with fewer planes, or with ``multiprobe=True``, which also
    probes every Hamming-distance-1 bucket (each sign bit flipped —
    the Lv et al. VLDB'07 multi-probe idea in its deterministic
    all-flips form): candidate volume rises ×(planes+1) worst case
    while recall can only grow (the candidate set is a superset, and
    the exact re-rank keeps correctness — recall gates live in q165).
    """
    # probe and corpus branches below both read the signatures —
    # uncached, each branch re-runs the explode+double-groupBy pipeline
    # (plan audit: 4 Generates). One row per vector; at scale this IS
    # the LSH index you bucket to storage once.
    sigs = srp_signatures(corpus, id_col=id_col, vec_col=vec_col, planes=planes).cache()
    dim = vectors.infer_dim(corpus, vec_col)
    base = corpus.select(
        F.col(id_col), F.col(vec_col).alias("v")
    ).withColumn("n", F.sqrt(vectors.sq_norm_expanded("v", dim)))
    with_sig = base.join(sigs, id_col)
    p = with_sig.select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        F.col("n").alias("qn"),
        "bucket",
    ).join(probes.select(F.col(id_col).alias("query_id")), "query_id", "left_semi")
    if multiprobe:
        p = p.withColumn("bucket", F.explode(_hamming1_buckets(planes)))
    c = with_sig.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.col("n").alias("nn"),
        "bucket",
    )
    pairs = c.join(F.broadcast(p), "bucket").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _cosine_topk(pairs, dim, k)


def _hamming1_buckets(planes: int, col: str = "bucket") -> Column:
    """Array of the probe's own bucket plus every Hamming-1 flip —
    distinct values by construction (each flips a different bit), so
    the downstream bucket equi-join matches a candidate at most once
    (a corpus vector has exactly one bucket)."""
    return F.array(
        F.col(col),
        *[
            F.col(col).bitwiseXOR(F.lit(1 << i).cast("long"))
            for i in range(planes)
        ],
    )


def srp_knn_compare(
    corpus: DataFrame,
    probes: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 16,
    k: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """(single, multi) SRP ANN top-k from ONE shared subplan — the
    q168/q175 shared-arm discipline applied to the multi-probe recall
    gate (q165): the single-probe candidate set is by construction the
    ``bucket == own`` subset of the Hamming-1 multi-probe set, so the
    two :func:`srp_knn` calls the gate used to make (two signature
    pipelines, two corpus-norm passes, two bucket joins) collapse to
    one signature pass, one norm pass, and one bucket join whose rows
    carry an ``is-own-bucket`` flag; each arm is then just its own
    rank window over the shared (lazily checkpointed, candidate-grain)
    slice. Row-identical to the standalone calls — pinned by
    tests/test_srp_index.py::test_srp_knn_compare_matches_standalone."""
    sigs = srp_signatures(
        corpus, id_col=id_col, vec_col=vec_col, planes=planes
    ).localCheckpoint(eager=False)
    dim = vectors.infer_dim(corpus, vec_col)
    base = corpus.select(
        F.col(id_col), F.col(vec_col).alias("v")
    ).withColumn("n", F.sqrt(vectors.sq_norm_expanded("v", dim)))
    with_sig = base.join(sigs, id_col)
    p = (
        with_sig.select(
            F.col(id_col).alias("query_id"),
            F.col("v").alias("qv"),
            F.col("n").alias("qn"),
            F.col("bucket").alias("__own"),
        )
        .join(
            probes.select(F.col(id_col).alias("query_id")),
            "query_id",
            "left_semi",
        )
        .withColumn("bucket", F.explode(_hamming1_buckets(planes, "__own")))
    )
    c = with_sig.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.col("n").alias("nn"),
        "bucket",
    )
    sim = vectors.dot_expanded("qv", "nv", dim) / (F.col("qn") * F.col("nn"))
    # candidate grain (bucket-bounded, never the corpus) feeds BOTH
    # arms' rank windows — the two-consumer lazy-checkpoint rule
    cand = (
        c.join(F.broadcast(p), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(sim, 6).alias("sim"),
            (F.col("bucket") == F.col("__own")).alias("__single"),
        )
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )

    def _arm(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("query_id", "neighbor_id", "sim", "rnk")
        )

    return _arm(cand.filter(F.col("__single"))), _arm(cand)


def srp_hard_negatives(
    corpus: DataFrame,
    probes: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    planes: int = 6,
    k: int = 3,
) -> DataFrame:
    """Hard-negative mining for contrastive/metric training: for each
    probe (anchor), the top-``k`` most-cosine-similar corpus vectors
    with a DIFFERENT label — the near-but-wrong examples that carry
    the training signal (random negatives are trivially far).

    Same candidate machinery as :func:`srp_knn` (deterministic SRP
    bucket equi-join, exact cosine re-rank) plus the label-mismatch
    predicate applied BEFORE the rank window, so a bucket dominated by
    the anchor's own class still yields its hardest negatives from the
    rest. At scale the signatures are the same on-disk LSH index
    srp_knn uses — mining negatives and serving ANN share one layout.
    """
    # lazy localCheckpoint, not .cache(): the sibling operators'
    # lineage-cut discipline — no pinned executor blocks left behind
    # for library callers that never call release_query_state()
    sigs = srp_signatures(
        corpus, id_col=id_col, vec_col=vec_col, planes=planes
    ).localCheckpoint(eager=False)
    dim = vectors.infer_dim(corpus, vec_col)
    base = corpus.select(
        F.col(id_col), F.col(vec_col).alias("v"), F.col(label_col).alias("lbl")
    ).withColumn("n", F.sqrt(vectors.sq_norm_expanded("v", dim)))
    with_sig = base.join(sigs, id_col)
    p = with_sig.select(
        F.col(id_col).alias("anchor_id"),
        F.col("v").alias("qv"),
        F.col("n").alias("qn"),
        F.col("lbl").alias("anchor_label"),
        "bucket",
    ).join(probes.select(F.col(id_col).alias("anchor_id")), "anchor_id", "left_semi")
    c = with_sig.select(
        F.col(id_col).alias("negative_id"),
        F.col("v").alias("nv"),
        F.col("n").alias("nn"),
        F.col("lbl").alias("negative_label"),
        "bucket",
    )
    return _srp_negatives_rerank(c.join(F.broadcast(p), "bucket"), dim, k)


def _srp_negatives_rerank(pairs: DataFrame, dim: int, k: int) -> DataFrame:
    """Label-aware score+rank shared by :func:`srp_hard_negatives`
    (bucket-joined pairs) and :func:`srp_hard_negatives_indexed`
    (literal-bound pairs). ``pairs``: (anchor_id, qv, qn,
    anchor_label, negative_id, nv, nn, negative_label)."""
    sim = vectors.dot_expanded("qv", "nv", dim) / (F.col("qn") * F.col("nn"))
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("sim"), F.asc("negative_id")
    )
    return (
        pairs.filter(F.col("negative_label") != F.col("anchor_label"))
        .withColumn("sim", F.round(sim, 6))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "anchor_id", "anchor_label", "negative_id", "negative_label",
            "sim", "rnk",
        )
    )


def build_srp_index(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = None,
    planes: int = 16,
    name: str = "srp_idx",
    n_buckets: int = 8,
) -> dict[str, str]:
    """Persist the SRP-LSH layout ANN serving reads instead of
    re-hashing the corpus per query — the vector twin of
    :func:`~..operators.retrieval.build_bm25_index` (same nightly-
    precompute discipline; the reference recomputes its similarity
    matrix per request, ref ``src/training_service.py:622-623``):

    - ``{name}_by_bucket`` — ``(id, v, n, bucket[, lbl])`` BUCKETED and
      sorted by ``bucket``: an IN filter on the probes' buckets
      bucket-prunes the candidate scan, so per-query IO is the probed
      buckets' rows, not the corpus.
    - ``{name}_by_id`` — same rows bucketed by the id: the probe-row
      lookup (id → vector, norm, bucket) is itself bucket-pruned.
    - ``{name}_meta`` — 1 row ``(planes, dim, id_col, has_label)``.

    The stored vector is the RAW embedding column (no recoding) and
    ``n`` its precomputed L2 norm — the exact inputs the in-session
    re-rank uses, so indexed scores are bit-identical. Pass
    ``label_col`` to also serve :func:`srp_hard_negatives_indexed`
    from the same layout. Signature cost (the explode+groupBy GEMM)
    is paid ONCE here. Returns the table names.
    """
    spark = corpus.sparkSession
    dim = vectors.infer_dim(corpus, vec_col)
    sigs = srp_signatures(
        corpus, id_col=id_col, vec_col=vec_col, planes=planes
    )
    cols = [
        F.col(id_col),
        F.col(vec_col).alias("v"),
        F.sqrt(vectors.sq_norm_expanded(vec_col, dim)).alias("n"),
    ]
    if label_col is not None:
        cols.append(F.col(label_col).alias("lbl"))
    rows = corpus.select(*cols).join(sigs, id_col)
    tables = {
        "by_bucket": f"{name}_by_bucket",
        "by_id": f"{name}_by_id",
        "meta": f"{name}_meta",
    }
    write_bucketed(rows, tables["by_bucket"], "bucket", n_buckets=n_buckets)
    write_bucketed(rows, tables["by_id"], id_col, n_buckets=n_buckets)
    finish_index_build(
        spark, name, tables, op="build_srp_index",
        meta=((planes, dim, id_col, label_col is not None),
              "planes int, dim int, id_col string, has_label boolean"),
    )
    return tables


def merge_srp_index(
    delta: DataFrame,
    *,
    name: str = "srp_idx",
    vec_col: str = "embedding",
    label_col: str | None = None,
    check_new_ids: bool = True,
    idempotent: bool = False,
) -> None:
    """Fold a batch of NEW vectors into a persisted SRP serving layout
    (:func:`build_srp_index`) — insert-only incremental maintenance
    under the protocol of ``sources.bucketing.insert_only_delta``
    (``check_new_ids`` and ``idempotent`` are its steady-state and
    replay modes), so a daily embedding increment never re-hashes the
    corpus.

    Simpler than BM25 by construction: the BM25 scorer reads CORPUS
    aggregates (per-token df, totals) that a merge must re-aggregate
    and staging-swap, but every stored SRP row ``(id, v, n, bucket
    [, lbl])`` is a pure function of its OWN vector and the fixed
    deterministic hyperplanes (md5 signs keyed by the meta row's
    ``planes`` — no RNG state to carry forward). So the merge is just
    two bucketed APPENDs under the existing bucket specs: pruning is
    preserved (each bucket gains one file per merge; compact with
    ``sources.bucketing.compact_bucketed_table``), and merged ==
    rebuilt holds BIT-EXACTLY — test-pinned, not only argued. Delta
    ids are checked against ``{name}_by_id``, the table appended last
    (a re-ingested id would come back twice from the candidate read).
    """
    delta = insert_only_delta(
        delta, name, ("by_bucket", "by_id", "meta"), op="merge_srp_index",
        guard="by_id", check_new_ids=check_new_ids, idempotent=idempotent,
    )
    if delta is None:
        return
    meta = index_meta(delta.sparkSession, name)  # insert_only_delta read it fresh
    idc = meta["id_col"]
    dim = vectors.infer_dim(delta, vec_col)
    if dim != int(meta["dim"]):
        raise ValueError(
            f"merge_srp_index: delta dim {dim} != index dim {meta['dim']}"
        )
    if bool(meta["has_label"]) != (label_col is not None):
        raise ValueError(
            "merge_srp_index: label_col must match the built index "
            f"(has_label={bool(meta['has_label'])})"
        )
    sigs = srp_signatures(
        delta, id_col=idc, vec_col=vec_col, planes=int(meta["planes"])
    )
    cols = [
        F.col(idc),
        F.col(vec_col).alias("v"),
        F.sqrt(vectors.sq_norm_expanded(vec_col, dim)).alias("n"),
    ]
    if label_col is not None:
        cols.append(F.col(label_col).alias("lbl"))
    rows = delta.select(*cols).join(sigs, idc)
    append_bucketed(
        rows, f"{name}_by_bucket", reconcile_on=idc if idempotent else None
    )
    append_bucketed(rows, f"{name}_by_id")


def _sql_lit(v) -> str:
    """SQL text of a driver-held value (None, int, float, str, a list
    of them, or a dict as a named struct). A numeric list goes
    through one split string, so a dim-64 vector parses as three
    nodes, not 64; float text is ``repr`` (shortest round-trip, parsed
    back to the same bits)."""
    if v is None:
        return "NULL"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, dict):
        return "named_struct(" + ", ".join(
            f"'{k}', {_sql_lit(x)}" for k, x in v.items()
        ) + ")"
    v = list(v)
    if v and all(isinstance(x, int) for x in v):
        return f"CAST(split('{','.join(map(str, v))}', ',') AS ARRAY<BIGINT>)"
    if v and all(isinstance(x, float) for x in v):
        return f"CAST(split('{','.join(map(repr, v))}', ',') AS ARRAY<DOUBLE>)"
    return "array(" + ", ".join(map(_sql_lit, v)) + ")"


def _in_sql(col: str, values) -> Column:
    """``col IN (values)`` as ONE parsed expression (``isin`` costs a
    py4j call per value); the literal list still drives bucket pruning
    and the pushed parquet filter. No values: a false predicate."""
    values = list(values)
    if not values:
        return F.lit(False)
    return F.expr(f"`{col}` IN ({', '.join(map(_sql_lit, values))})")


def _bind(df: DataFrame, key: str, rows: dict, types: dict) -> DataFrame:
    """``df`` joined on ``key`` to rows the driver holds, as an
    expression instead of a join: ``rows`` maps each key value to a
    list of dicts over the columns of ``types`` (name → Spark SQL
    type). Catalyst folds the map into ONE literal that generated code
    reads by reference, so new values reuse compiled code, and no
    local relation is staged or broadcast (each broadcast is a job).
    When every key binds one row, each ``df`` row looks up one struct;
    otherwise it explodes into one row per bound dict. The explode is
    a Generate, and a single-probe SRP plan stays Generate-free
    (``test_indexed_plan_prunes_buckets_and_never_rehashes`` reads a
    Generate there as the signature recompute). Every ``key`` value of
    ``df`` must be bound: callers filter the read to the keys of
    ``rows`` first."""
    if not rows:
        return df.filter(F.lit(False)).select(
            "*", *[F.lit(None).cast(t).alias(c) for c, t in types.items()]
        )
    key_t = df.schema[key].dataType.simpleString()
    one = all(len(v) == 1 for v in rows.values())

    def struct(r) -> str:
        return "named_struct(" + ", ".join(
            f"'{c}', CAST({_sql_lit(r[c])} AS {t})" for c, t in types.items()
        ) + ")"

    entries = ", ".join(
        f"CAST({_sql_lit(k)} AS {key_t}), "
        + (struct(v[0]) if one else "array(" + ", ".join(map(struct, v)) + ")")
        for k, v in rows.items()
    )
    got = f"try_element_at(map({entries}), `{key}`)"
    return df.selectExpr(
        "*", f"{got} AS __b" if one else f"explode({got}) AS __b"
    ).selectExpr(
        *[f"`{c}`" for c in df.columns], *[f"__b.`{c}` AS `{c}`" for c in types]
    )


def _srp_probe_rows(spark, probe_ids: list, name: str):
    """A request's one build-time job: the probe rows ``(id, v, n,
    bucket[, lbl])`` of a persisted SRP index, read bucket-pruned by
    id and bounded by ``len(probe_ids)`` (the BM25 term-list grain).
    Returns ``(rows, by_id schema, meta)``; ids not in the index have
    no row."""
    if not probe_ids:
        raise ValueError("srp serving: probe_ids must be non-empty")
    meta = index_meta(spark, name)
    by_id = spark.table(f"{name}_by_id")
    rows = by_id.filter(_in_sql(meta["id_col"], probe_ids)).collect()
    return rows, by_id.schema, meta


def srp_knn_indexed(
    spark,
    probe_ids: list,
    *,
    name: str = "srp_idx",
    k: int = 3,
    multiprobe: bool = False,
) -> DataFrame:
    """Serve ANN top-``k`` from the persisted SRP layout
    (:func:`build_srp_index`). Same output contract, and identical
    neighbors/sims, as :func:`srp_knn` (shared :func:`_cosine_topk`
    over the stored raw vectors and norms), ``multiprobe`` included:
    the candidate read's IN-list widens to the Hamming-1 flips, still
    bucket-pruned.

    One lookup job (:func:`_srp_probe_rows`) plus one action: the
    probe vectors, norms and buckets are bound into the action as
    literals (:func:`_bind`), so the action is the bucket-pruned
    candidate read and the rank window, with no broadcast. Per-query
    work is the probed buckets' rows, independent of corpus size."""
    rows, schema, meta = _srp_probe_rows(spark, probe_ids, name)
    idc, planes = meta["id_col"], int(meta["planes"])
    flips = [0] + [1 << i for i in range(planes)] if multiprobe else [0]
    probes: dict = {}
    for r in rows:
        q = {"query_id": r[idc], "qv": r["v"], "qn": r["n"]}
        for f in flips:
            probes.setdefault(r["bucket"] ^ f, []).append(q)
    # one task per probed bucket (the bucketed scan has a partition for
    # every bucket, pruned or not). The coalesce also ends the code
    # stage that carries the bucket's IN value, which Spark inlines
    # into generated code: that small stage compiles per request, and
    # the unrolled dim-wide cosine after it once per session. And it
    # keeps the scan bucketed (pruned): with only projections and
    # filters below the rank window's exchange the planner would turn
    # bucketing off
    c = (
        spark.table(f"{name}_by_bucket")
        .filter(_in_sql("bucket", sorted(probes)))
        .coalesce(max(1, len(probes)))
        .select(
            F.col(idc).alias("neighbor_id"),
            F.col("v").alias("nv"),
            F.col("n").alias("nn"),
            "bucket",
        )
    )
    types = {
        "query_id": schema[idc].dataType.simpleString(),
        "qv": schema["v"].dataType.simpleString(),
        "qn": schema["n"].dataType.simpleString(),
    }
    pairs = _bind(c, "bucket", probes, types).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _cosine_topk(pairs, int(meta["dim"]), k)


def srp_hard_negatives_indexed(
    spark, probe_ids: list, *, name: str = "srp_idx", k: int = 3
) -> DataFrame:
    """Serve hard-negative mining from the persisted SRP layout built
    with ``label_col`` — identical rows to :func:`srp_hard_negatives`
    (shared :func:`_srp_negatives_rerank`); one lookup job, then one
    action over the bucket-pruned candidate read with the anchors
    bound as literals."""
    rows, schema, meta = _srp_probe_rows(spark, probe_ids, name)
    if not meta["has_label"]:
        raise ValueError(
            f"srp_hard_negatives_indexed: index {name!r} was built "
            "without label_col"
        )
    idc = meta["id_col"]
    anchors: dict = {}
    for r in rows:
        anchors.setdefault(r["bucket"], []).append(
            {"anchor_id": r[idc], "qv": r["v"], "qn": r["n"],
             "anchor_label": r["lbl"]}
        )
    c = (
        spark.table(f"{name}_by_bucket")
        .filter(_in_sql("bucket", sorted(anchors)))
        .coalesce(max(1, len(anchors)))  # as in srp_knn_indexed
        .select(
            F.col(idc).alias("negative_id"),
            F.col("v").alias("nv"),
            F.col("n").alias("nn"),
            F.col("lbl").alias("negative_label"),
            "bucket",
        )
    )
    types = {
        "anchor_id": schema[idc].dataType.simpleString(),
        "qv": schema["v"].dataType.simpleString(),
        "qn": schema["n"].dataType.simpleString(),
        "anchor_label": schema["lbl"].dataType.simpleString(),
    }
    return _srp_negatives_rerank(
        _bind(c, "bucket", anchors, types), int(meta["dim"]), k
    )


def _ivfpq_params(coarse_centroids, codebooks):
    """Resolve (centroids, books-tuple) — committed artifacts by
    default (ml/centroids.IVF_CENTROIDS, ml/pq_codebooks)."""
    if coarse_centroids is None:
        from ..ml.centroids import IVF_CENTROIDS

        coarse_centroids = IVF_CENTROIDS
    return coarse_centroids, codebooks


def _artifact_fp(coarse_centroids, books) -> str:
    import hashlib

    return hashlib.md5(
        (repr(coarse_centroids) + "|" + repr(books)).encode()
    ).hexdigest()


def _ivfpq_layout(meta, name: str):
    """``meta``, an IVF+PQ meta row (:func:`~..sources.bucketing.index_meta`),
    once it is known to carry the round-11 layout: pre-round-11 rows
    (no ``variant`` / ``n_at_build``) fail with a rebuild hint instead
    of a bare field error."""
    if "variant" not in meta.__fields__ or "n_at_build" not in meta.__fields__:
        raise ValueError(
            f"{name}_meta predates the round-11 layout (variant/"
            "n_at_build missing) — rebuild the index with "
            "build_ivfpq_index"
        )
    return meta


def _with_routing(df: DataFrame, centroids: list, vec_col: str) -> DataFrame:
    """Append ``routing`` — the vector's full coarse-cluster ranking
    (distance asc, cluster asc), i.e. the order
    :func:`ivf_route_committed` would emit — AND ``offsets``, the
    aligned per-cluster inner products ``⟨q, c⟩`` in micro² int64 (the
    residual-ADC constant term, :func:`_route_with_offsets`'s ``__qc``
    stored instead of recomputed per request). ``array_sort`` on
    (distance, cluster, qc) structs reproduces the row_number rule
    exactly (d then c — qc never reached, (d, c) is unique); computed
    once at index build with ONE xq binding."""
    k = len(centroids)
    dim = len(centroids[0])
    if vectors.infer_dim(df, vec_col) != dim:
        raise ValueError(
            f"routing: vectors are dim {vectors.infer_dim(df, vec_col)}, "
            f"centroids expect {dim}"
        )
    flat = [int(v) for c in centroids for v in c]
    inner = (
        f"transform(sequence(0, {k - 1}), c -> struct("
        f"aggregate(sequence(0, {dim - 1}), CAST(0 AS BIGINT), "
        f"(acc, j) -> acc + (xq[j] - __cb[c*{dim}+j]) "
        f"* (xq[j] - __cb[c*{dim}+j])) AS d, "
        f"c AS c, "
        f"aggregate(sequence(0, {dim - 1}), CAST(0 AS BIGINT), "
        f"(acc, j) -> acc + xq[j] * __cb[c*{dim}+j]) AS qc))"
    )
    staged = df.withColumn("__cb", _int_array_lit(flat)).withColumn(
        "__rt", _bind_xq(f"array_sort({inner})", vec_col)
    )
    return (
        staged.withColumn(
            "routing", F.expr("transform(__rt, s -> CAST(s.c AS INT))")
        )
        .withColumn("offsets", F.expr("transform(__rt, s -> s.qc)"))
        .drop("__cb", "__rt")
    )


def build_ivfpq_index(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_centroids: list | None = None,
    codebooks=None,
    name: str = "ivfpq_idx",
    n_buckets: int = 8,
    residual: bool = False,
) -> dict[str, str]:
    """Persist the IVF+PQ serving layout (:func:`ivf_pq_topk`'s
    storage form — the byte-compact ANN index a 10⁹-vector corpus
    actually serves from):

    - ``{name}_codes`` — ``(id, cluster, codes)`` BUCKETED and sorted
      by ``cluster``: the ADC candidate scan reads only the routed
      clusters' buckets, M small ints per vector instead of dim
      doubles (the ~64× compression axis), and the cluster IN-list
      bucket-prunes it (the sub-linear axis).
    - ``{name}_by_id`` — ``(id, v, n, routing, offsets)`` bucketed by
      id: probe-row lookups and the exact re-rank's point reads.
      ``routing`` is the vector's FULL coarse-cluster ranking
      (distance asc, cluster asc — the ivf_route_committed rule), so
      a serving call routes by slicing the stored prefix instead of
      re-running the K·dim distance expression and a routing job per
      request; ``offsets`` holds the aligned ``⟨q, c⟩`` micro² int64
      constants the residual variant's ADC adds. K is small, so the
      two columns are K ints + K longs.
    - ``{name}_meta`` — 1 row, including an md5 fingerprint of the
      coarse centroids + codebooks used at build time, so a serve
      call with DIFFERENT artifacts fails loudly instead of mixing
      incompatible code spaces.

    ``residual=True`` stores RESIDUAL codes (:func:`pq_residual_encode`
    against the committed per-cell residual codebooks —
    ml/pq_residual_codebooks.py) instead of raw-vector codes: q175
    measured residual PQ doubling recall at tight candidate budgets,
    so it is the layout a production index should carry (VERDICT r10
    #4). ``by_id`` additionally stores ``offsets`` — the aligned
    per-cluster ``⟨q, c⟩`` micro² int64 constants — so residual
    serving adds the ADC offset by slicing the stored prefix, not by
    recomputing K·dim dot products per request. The meta row records
    the ``variant``; serving and merge check it together with the
    artifact fingerprint, so raw probes against a residual index (or
    vice versa) fail loudly.

    Assignment/encode cost is paid once here; both are committed-
    artifact integer folds (:func:`centroid_assign`,
    :func:`pq_encode` / :func:`pq_residual_encode`), so rebuild ==
    merge == in-session bit-exactly.
    """
    spark = corpus.sparkSession
    coarse_centroids, codebooks = _ivfpq_params(coarse_centroids, codebooks)
    books, m_sub, k_cent, dim, d = (
        _rpq_params(codebooks) if residual else _pq_params(codebooks)
    )
    enc, by_id = _ivfpq_rows(
        corpus, id_col, vec_col, coarse_centroids, codebooks, dim, residual
    )
    tables = {
        "codes": f"{name}_codes",
        "by_id": f"{name}_by_id",
        "meta": f"{name}_meta",
    }
    write_bucketed(enc, tables["codes"], "cluster", n_buckets=n_buckets)
    write_bucketed(by_id, tables["by_id"], id_col, n_buckets=n_buckets)
    # corpus size at centroid-train time — what ivfpq_rebuild_advice
    # compares against to decide merge vs K ∝ √n retrain; the count
    # reads the just-written bucketed table (metadata-cheap)
    n_at_build = spark.table(tables["by_id"]).count()
    finish_index_build(
        spark, name, tables, op="build_ivfpq_index",
        meta=(
            (dim, id_col, len(coarse_centroids), m_sub, k_cent,
             _artifact_fp(coarse_centroids, books),
             "residual" if residual else "raw", n_at_build),
            "dim int, id_col string, n_centroids int, pq_m int, pq_k int,"
            " artifact_fp string, variant string, n_at_build bigint",
        ),
    )
    return tables


def _ivfpq_rows(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    coarse_centroids: list,
    codebooks,
    dim: int,
    residual: bool,
) -> tuple[DataFrame, DataFrame]:
    """The (codes, by_id) row sets of the persisted IVF+PQ layout —
    shared by :func:`build_ivfpq_index` and :func:`merge_ivfpq_index`
    so merged == rebuilt holds bit-exactly by construction (every row
    is a pure function of its own vector and the committed
    artifacts)."""
    assigned = centroid_assign(corpus, coarse_centroids, vec_col=vec_col)
    if residual:
        enc = pq_residual_encode(
            assigned,
            coarse_centroids,
            id_col=id_col,
            vec_col=vec_col,
            rcodebooks=codebooks,
        )
    else:
        enc = pq_encode(
            assigned.select(id_col, vec_col, "cluster"),
            id_col=id_col,
            vec_col=vec_col,
            codebooks=codebooks,
            keep=("cluster",),
        )
    # xq (the micro-quantized int vector) is stored so SERVING can
    # compute the probe's ADC lookup tables driver-side in EXACT int
    # arithmetic — no per-request quantization, no codebook literal
    # trees in the request plan (round 12, VERDICT r11 #4)
    by_id = _with_routing(
        corpus.select(
            F.col(id_col),
            vectors.as_double_array(vec_col).alias("v"),
            F.sqrt(vectors.sq_norm_expanded(vec_col, dim)).alias("n"),
            F.expr(_quantize_sql(vec_col)).alias("xq"),
        ),
        coarse_centroids,
        "v",
    ).select(id_col, "v", "n", "xq", "routing", "offsets")
    return enc, by_id


def merge_ivfpq_index(
    delta: DataFrame,
    *,
    name: str = "ivfpq_idx",
    vec_col: str = "embedding",
    coarse_centroids: list | None = None,
    codebooks=None,
    check_new_ids: bool = True,
    idempotent: bool = False,
) -> None:
    """Fold NEW vectors into a persisted IVF+PQ layout — insert-only
    incremental maintenance under the protocol of
    ``sources.bucketing.insert_only_delta`` (``check_new_ids`` and
    ``idempotent`` are its steady-state and replay modes): every
    stored row is a pure function of its own vector and the COMMITTED
    artifacts (integer argmin assignment, integer argmin codes), so
    the merge is two bucketed APPENDs and merged == rebuilt holds
    bit-exactly. The artifact fingerprint is checked against the meta
    row — merging with different centroids/codebooks would silently
    mix incompatible code spaces. Delta ids are checked against
    ``{name}_by_id``, the table appended last; a replay's codes append
    reconciles on its own ids, since duplicate code rows would pass
    the ADC/rerank windows as repeated neighbor_id entries."""
    delta = insert_only_delta(
        delta, name, ("codes", "by_id", "meta"), op="merge_ivfpq_index",
        guard="by_id", check_new_ids=check_new_ids, idempotent=idempotent,
    )
    if delta is None:
        return
    coarse_centroids, codebooks = _ivfpq_params(coarse_centroids, codebooks)
    # insert_only_delta read it fresh
    meta = _ivfpq_layout(index_meta(delta.sparkSession, name), name)
    residual = meta["variant"] == "residual"
    books, m_sub, k_cent, dim, d = (
        _rpq_params(codebooks) if residual else _pq_params(codebooks)
    )
    idc = meta["id_col"]
    if _artifact_fp(coarse_centroids, books) != meta["artifact_fp"]:
        raise ValueError(
            "merge_ivfpq_index: centroids/codebooks differ from the "
            "ones the index was built with — rebuild instead"
        )
    enc, by_id = _ivfpq_rows(
        delta, idc, vec_col, coarse_centroids, codebooks, dim, residual
    )
    append_bucketed(
        enc, f"{name}_codes", reconcile_on=idc if idempotent else None
    )
    append_bucketed(by_id, f"{name}_by_id")


def _fits_broadcast(df: DataFrame) -> bool:
    """Whether the planner's size estimate of ``df`` is within
    ``spark.sql.autoBroadcastJoinThreshold`` (never when it is -1)."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    limit = conf.autoBroadcastJoinThreshold()
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return 0 <= limit and size <= limit


def ivfpq_topk_indexed(
    spark,
    probe_ids: list,
    *,
    name: str = "ivfpq_idx",
    coarse_centroids: list | None = None,
    codebooks=None,
    k: int = 3,
    nprobe: int = 4,
    candidates: int = 20,
) -> DataFrame:
    """Serve IVF+PQ ANN top-``k`` from the persisted layout
    (:func:`build_ivfpq_index`) — identical rows to
    :func:`ivf_pq_topk` by construction (shared :func:`_ivfpq_adc_topk`
    and :func:`_cosine_topk`), and a BATCH form by nature:
    ``probe_ids`` is a list, so N probes amortize one job.

    One lookup job reads the probe rows by id (bucket-pruned, bounded
    by ``len(probe_ids)``), with each probe's stored cluster ranking,
    ADC offsets and micro-quantized vector. Everything probe-sided is
    then bound into the action as literals (:func:`_bind`): the routed
    clusters with their offsets, the M ADC lookup tables (computed
    driver-side in exact int arithmetic, the Σ xq·book fold
    :func:`_pq_probe_luts` expresses) and the probe vectors and norms.
    The action reads the routed clusters' code buckets (cluster
    IN-list, bucket-pruned) and joins ``{name}_by_id`` for the exact
    re-rank; that table is broadcast only when its size estimate is
    under ``spark.sql.autoBroadcastJoinThreshold``, as the planner
    decides, and joined by the planner's choice otherwise.
    Per-request IO is NOT independent of corpus size: the re-rank join
    reads every bucket of ``{name}_by_id`` (the candidate ids are only
    known inside the action), so it grows with the corpus.

    The meta row's ``variant`` decides the scoring form: a ``raw``
    index serves exactly :func:`ivf_pq_topk`; a ``residual`` index
    (built with ``residual=True``) serves exactly
    :func:`ivf_pq_residual_topk` — the ADC offsets ``⟨q, c⟩`` come
    from the STORED per-cluster prefix (by_id ``offsets``). Pre-round-12
    indexes without the stored ``xq`` fail with a rebuild hint."""
    if not probe_ids:
        raise ValueError("ivfpq serving: probe_ids must be non-empty")
    coarse_centroids, codebooks = _ivfpq_params(coarse_centroids, codebooks)
    meta = _ivfpq_layout(index_meta(spark, name), name)
    residual = meta["variant"] == "residual"
    books, m_sub, k_cent, dim, d = (
        _rpq_params(codebooks) if residual else _pq_params(codebooks)
    )
    idc = meta["id_col"]
    if _artifact_fp(coarse_centroids, books) != meta["artifact_fp"]:
        raise ValueError(
            "ivfpq_topk_indexed: centroids/codebooks differ from the "
            "ones the index was built with"
        )
    by_id = spark.table(f"{name}_by_id")
    if "xq" not in by_id.columns:
        raise ValueError(
            f"{name}_by_id predates the round-12 layout (no stored xq) — "
            "rebuild the index with build_ivfpq_index"
        )
    rows = by_id.filter(_in_sql(idc, probe_ids)).collect()
    missing = set(probe_ids) - {r[idc] for r in rows}
    if missing:
        # loud, like the artifact/dim checks above: a typo'd or
        # unmerged probe id must not silently serve an empty result
        raise ValueError(
            f"ivfpq_topk_indexed: probe ids not in {name}_by_id: "
            f"{sorted(missing)}"
        )
    id_t = by_id.schema[idc].dataType.simpleString()
    routed: dict = {}
    lut: dict = {}
    pv: dict = {}
    for r in rows:
        xq = r["xq"]
        luts = [
            [
                sum(
                    int(xq[m * d + j]) * int(books[m][c * d + j])
                    for j in range(d)
                )
                for c in range(k_cent)
            ]
            for m in range(m_sub)
        ]
        for cl, off in zip(r["routing"][:nprobe], r["offsets"][:nprobe]):
            routed.setdefault(cl, []).append({"query_id": r[idc], "__qc": off})
        # bound by query id: in the routed map it would be copied to
        # each of the probe's nprobe clusters
        lut[r[idc]] = [{"__luts": luts}]
        pv[r[idc]] = [{"qv": r["v"], "qn": r["n"]}]
    types = {"query_id": id_t}
    if residual:
        types["__qc"] = "bigint"
    enc = (
        spark.table(f"{name}_codes")
        .filter(_in_sql("cluster", sorted(routed)))
        .coalesce(max(1, len(routed)))  # as in srp_knn_indexed
        .select(F.col(idc).alias("neighbor_id"), "cluster", "codes")
    )
    pairs = _bind(
        _bind(enc, "cluster", routed, types).filter(
            F.col("neighbor_id") != F.col("query_id")
        ),
        "query_id",
        lut,
        {"__luts": "array<array<bigint>>"},
    )
    cand = _ivfpq_adc_topk(
        pairs, m_sub, candidates, "__qc" if residual else None
    )
    c = by_id.select(
        F.col(idc).alias("neighbor_id"),
        F.col("v").alias("nv"),
        F.col("n").alias("nn"),
    )
    # broadcast the re-rank side when it is under the threshold, as the
    # planner would; left to itself the planner broadcasts the smaller
    # candidate side instead, and the rank window then needs one more
    # exchange
    if _fits_broadcast(c):
        c = F.broadcast(c)
    return _cosine_topk(
        _bind(
            cand.join(c, "neighbor_id"),
            "query_id",
            pv,
            {
                "qv": by_id.schema["v"].dataType.simpleString(),
                "qn": by_id.schema["n"].dataType.simpleString(),
            },
        ),
        dim, k, "n_scanned",
    )


def edit_distance_pairs(
    df: DataFrame,
    col: str,
    *,
    max_dist: int = 2,
) -> DataFrame:
    """All DISTINCT value pairs of ``col`` within Levenshtein distance
    ``max_dist`` — the string-similarity join (catalog reconciliation,
    near-identical product names, typo clusters). Complements the
    containment-based fuzzy lookup join (operators/joins.py J4): this
    is symmetric edit distance with a provably complete filter, not a
    tiered substring heuristic.

    Plan: collapse to value grain FIRST (``groupBy(col)`` keeps the
    occurrence count — fact-grain strings never enter the pair space),
    then a length-band equi-join: each value explodes to the
    ``2·max_dist+1`` candidate lengths it could match (``|len(a) −
    len(b)| > d ⟹ dist > d``, so the band is lossless), joins values
    of exactly that length, and only those candidates pay the O(len²)
    ``levenshtein`` — which runs JVM-side in codegen. No cartesian at
    any scale; the fan-out is bounded by the band width times the
    per-length value count.

    Returns ``name_a < name_b`` pairs: ``(name_a, name_b, dist,
    n_a, n_b)`` with per-value occurrence counts.
    """
    d = int(max_dist)
    names = df.filter(F.col(col).isNotNull()).groupBy(col).agg(
        F.count("*").alias("n")
    )
    a = names.select(
        F.col(col).alias("name_a"),
        F.col("n").alias("n_a"),
        F.length(col).alias("__la"),
    )
    b = names.select(
        F.col(col).alias("name_b"),
        F.col("n").alias("n_b"),
        F.length(col).alias("__lb"),
    )
    cand = a.withColumn(
        "__lb",
        F.explode(
            F.sequence(F.col("__la") - d, F.col("__la") + d)
        ),
    ).drop("__la")
    return (
        cand.join(b, "__lb")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= d)
        .select("name_a", "name_b", "dist", "n_a", "n_b")
    )
