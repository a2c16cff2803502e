"""Full-text retrieval: BM25 scoring and top-k search.

The reference exposes TF-IDF features only (src/ml/content_features.py
— q42/q73 cover those); BM25 is the retrieval-grade extension a
training-data / RAG platform actually queries with: length-normalized
term saturation instead of raw tf, so a 10 000-token document can't
win on term-stuffing alone.

Cross-engine parity discipline (see plans/oracles.py): the BM25
denominator ``tf + k1·(1 − b + b·dl/avgdl)`` is a RATIONAL in the
corpus totals — with k1 = 1.2, b = 0.75 and avgdl = S/N (S = total
tokens, N = docs) it multiplies out to exact int64 arithmetic::

    score_t = idf_t · (22·tf·S) / (10·tf·S + 3·S + 9·dl·N)

so the only double is one ``ln`` and one division; per-term scores are
floored to int64 micro-units and SUMMED AS INTEGERS (doubles sums are
order-dependent across engines — the q131 discipline).

100 TB shape: ONE tokenize pass produces both tf and dl; df exists
only for the query's own terms (a ≤|q|-row broadcast); scoring touches
only the rows matching a query term (filter pushed below the tf
aggregate); the final top-k is a TakeOrdered, never a global sort.
int64 headroom: 10·tf·S stays below 2^63 while tf·S < 9·10^17 — at
corpus sizes beyond ~10^15 tokens pre-divide S by a power of ten or
lift the rational to decimal(38,0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text

K1_X10 = 12  # k1 = 1.2
B_X100 = 75  # b = 0.75
SCALE = 1_000_000  # micro-unit flooring for the integer score sum


def _s_int_expr() -> "F.Column":
    """The per-(doc, term) BM25 contribution in int64 micro-units —
    the ONE expression every serving form scores with (single-query
    scan, single-query index, batch index), so scores cannot drift
    across forms. Expects ``tf``, ``dl``, ``df``, ``s_tokens``,
    ``n_docs`` columns in scope."""
    num = 22 * F.col("tf") * F.col("s_tokens")
    den = (
        10 * F.col("tf") * F.col("s_tokens")
        + 3 * F.col("s_tokens")
        + 9 * F.col("dl") * F.col("n_docs")
    )
    # Lucene-style +1 smoothing: raw RSJ idf goes NEGATIVE for terms
    # in more than half the corpus (common-term queries would then
    # penalize matching docs, or degenerate to all-zero under a 0
    # floor); ln(1 + ·) keeps every term positive while preserving
    # the rare-beats-common ordering.
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    return F.floor(
        idf * num.cast("double") / den.cast("double") * F.lit(float(SCALE))
    ).cast("long")


def _score_topk(
    tf_dl: DataFrame,
    df_: DataFrame,
    totals: DataFrame,
    *,
    id_col: str,
    k: int,
) -> DataFrame:
    """Shared BM25 scoring tail: ``tf_dl`` at ``(id, tok, tf, dl)``
    grain joins the broadcast per-term ``df`` and 1-row corpus
    ``totals``, scores in the exact-rational/int64-micro-unit
    discipline, and TakeOrders the top ``k``. Both the scan form
    (:func:`bm25_topk`) and the postings-index form
    (:func:`bm25_topk_indexed`) end here, so the two are
    score-identical by construction."""
    scored = (
        tf_dl.join(F.broadcast(df_), "tok")
        .join(F.broadcast(totals))
        .withColumn("s_int", _s_int_expr())
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("s_int").alias("__s"),
            F.count("*").alias("n_terms_hit"),
        )
        # TakeOrdered (orderBy+limit fuses): no global sort at any scale
        .orderBy(F.col("__s").desc(), F.col(id_col).asc())
        .limit(int(k))
        .select(
            id_col,
            # the window sees only the k surviving rows (post-limit):
            # a single-partition rank over k rows, not a global one
            F.row_number()
            .over(Window.orderBy(F.col("__s").desc(), F.col(id_col).asc()))
            .alias("rank"),
            (F.col("__s") / F.lit(float(SCALE))).alias("score"),
            "n_terms_hit",
        )
    )


def _tokenized(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One tokenize pass at ``(id, tok)`` row grain (empties dropped —
    the functions/text.tokens contract)."""
    return docs.select(
        F.col(id_col),
        F.explode(text.tokens(text_col)).alias("tok"),
    ).filter(F.col("tok") != "")


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Top-``k`` documents for a bag-of-words query under BM25
    (Lucene +1-smoothed idf, k1=1.2, b=0.75), scanning the corpus.

    Returns ``id_col``, ``rank`` (1-based), ``score`` (micro-unit
    floored double), ``n_terms_hit``. Ties rank by ``id_col`` asc.
    For repeated queries over a static corpus, build the postings
    layout once (:func:`build_bm25_index`) and serve with
    :func:`bm25_topk_indexed` instead of re-tokenizing per query.
    """
    if not query_terms:
        raise ValueError("bm25_topk: query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})

    # MAP-SIDE tf/dl (r12): the token array never leaves its row — dl
    # is size(), per-term tf is an array filter, and only the ≤|q|
    # matched (id, tok, tf, dl) rows are ever emitted. The previous
    # shape exploded the corpus to token grain and shuffled ALL of it
    # just to count per-doc lengths (plan: two token-grain Exchanges);
    # at corpus scale that shuffle is ~200x the document bytes. Same
    # tf/dl/df/totals values, so scores are bit-identical.
    toks_arr = F.filter(
        text.tokens(text_col), lambda x: x != F.lit("")
    )
    per_doc = (
        docs.select(F.col(id_col), toks_arr.alias("__toks"))
        .withColumn("dl", F.size("__toks"))
        # docs with zero tokens never produced an exploded row in the
        # old shape, so they were absent from dl/totals — keep that
        .filter(F.col("dl") > 0)
    )
    tf_structs = F.array(
        *[
            F.struct(
                F.lit(t).alias("tok"),
                F.size(
                    F.filter("__toks", lambda x: x == F.lit(t))
                ).alias("tf"),
            )
            for t in terms
        ]
    )
    # One tokenize pass (r12): per_doc has three transitive consumers
    # (the scoring tf rows, the per-term df, the corpus totals), each
    # of which would re-run the scan+tokenize. Cut the SLIM per-doc
    # form — (id, dl, matched-term tf structs), a few bytes per row,
    # never the token array — with the roster's multi-consumer lazy
    # checkpoint. Same tf/dl/df/totals values by construction.
    slim = per_doc.select(
        F.col(id_col),
        "dl",
        F.filter(tf_structs, lambda s: s["tf"] > 0).alias("__tfs"),
    ).localCheckpoint(eager=False)
    tf_dl = slim.select(
        id_col, "dl", F.explode("__tfs").alias("__t")
    ).select(id_col, "__t.tok", "__t.tf", "dl")
    # df per query term (≤|q| rows) and the corpus totals (1 row):
    # both broadcast — scoring is map-side over the tf rows.
    df_ = tf_dl.groupBy("tok").agg(F.count("*").alias("df"))
    totals = slim.agg(
        F.sum("dl").alias("s_tokens"), F.count("*").alias("n_docs")
    )
    return _score_topk(tf_dl, df_, totals, id_col=id_col, k=k)


def build_bm25_index(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    name: str = "bm25_idx",
    n_buckets: int = 8,
) -> dict[str, str]:
    """Persist the inverted-index layout BM25 serving reads instead of
    re-tokenizing the corpus per query (the retrieval twin of the
    nightly precompute in scripts/serving_probe.py):

    - ``{name}_postings`` — ``(tok, id, tf, dl)``, BUCKETED and sorted
      by ``tok`` (sources/bucketing.write_bucketed): an equality/IN
      filter on ``tok`` bucket-prunes the scan to the query terms'
      buckets, and the in-bucket sort gives parquet row-group min/max
      stats that prune within the bucket — per-query IO is the terms'
      postings lists, not the corpus.
    - ``{name}_terms`` — ``(tok, df)``, the global document-frequency
      table (identical per-term values to the scan form's
      query-restricted df, so scores match exactly).
    - ``{name}_totals`` — 1 row ``(s_tokens, n_docs)``.

    Tokenization cost is paid ONCE here; at 100 TB the postings write
    is the same one corpus pass the scan form pays per query. Returns
    the table names."""
    from ..sources.bucketing import finish_index_build, write_bucketed

    toks = _tokenized(docs, id_col, text_col)
    dl = toks.groupBy(id_col).agg(F.count("*").alias("dl"))
    tf = toks.groupBy(id_col, "tok").agg(F.count("*").alias("tf"))
    postings = tf.join(dl, id_col).select("tok", id_col, "tf", "dl")
    tables = {
        "postings": f"{name}_postings",
        "terms": f"{name}_terms",
        "totals": f"{name}_totals",
    }
    write_bucketed(postings, tables["postings"], "tok", n_buckets=n_buckets)
    spark = docs.sparkSession
    tf.groupBy("tok").agg(F.count("*").alias("df")).write.format(
        "parquet"
    ).mode("overwrite").saveAsTable(tables["terms"])
    dl.agg(
        F.sum("dl").alias("s_tokens"), F.count("*").alias("n_docs")
    ).write.format("parquet").mode("overwrite").saveAsTable(
        tables["totals"]
    )
    finish_index_build(spark, name, tables, op="build_bm25_index")
    return tables


def bm25_topk_indexed(
    spark,
    query_terms: list[str],
    *,
    name: str = "bm25_idx",
    id_col: str = "doc_id",
    k: int = 10,
) -> DataFrame:
    """Serve a BM25 top-``k`` query from the persisted postings layout
    (:func:`build_bm25_index`). Same output contract — and exactly the
    same scores (shared :func:`_score_topk` tail, and the stored
    global df equals the scan form's per-query df) — as
    :func:`bm25_topk`, but per-query work is a bucket-pruned postings
    read plus two broadcast lookups: independent of corpus size."""
    if not query_terms:
        raise ValueError("bm25_topk_indexed: query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})
    tf_dl = spark.table(f"{name}_postings").filter(
        F.col("tok").isin(terms)
    )
    df_ = spark.table(f"{name}_terms").filter(F.col("tok").isin(terms))
    totals = spark.table(f"{name}_totals")
    return _score_topk(tf_dl, df_, totals, id_col=id_col, k=k)


def bm25_topk_indexed_many(
    spark,
    queries: dict[str, list[str]],
    *,
    name: str = "bm25_idx",
    id_col: str = "doc_id",
    k: int = 10,
) -> DataFrame:
    """BATCH serving from the postings layout: N queries scored in ONE
    job — one bucket-pruned postings read over the UNION of all query
    terms, a broadcast (query_id, tok) join to fan each posting to the
    queries that want it, one (query_id, doc) aggregate, one rank
    window per query. Per-query results are IDENTICAL to
    :func:`bm25_topk_indexed` (same :func:`_s_int_expr` contribution,
    same tie-break) — test-pinned.

    This is the real service shape: request batching amortizes the
    per-job scheduling floor across the batch, so p50-per-query drops
    well below the single-request path (serving-probe pinned). Output:
    ``query_id``, ``id_col``, ``rank``, ``score``, ``n_terms_hit``.
    100 TB shape: postings IO ∝ the batch's distinct terms; the
    (query, term) table is broadcast (bounded by the batch); the only
    shuffle is the (query, doc) aggregate over matched postings.
    """
    if not queries:
        raise ValueError("bm25_topk_indexed_many: queries must be non-empty")
    qt = []
    for qid, ts in queries.items():
        if not ts:
            raise ValueError(
                f"bm25_topk_indexed_many: query {qid!r} has no terms"
            )
        qt.extend((qid, t) for t in sorted({t.lower() for t in ts}))
    all_terms = sorted({t for _, t in qt})
    from ..sources.readers import local_frame

    qdf = local_frame(spark, qt, "query_id string, tok string")
    tf_dl = spark.table(f"{name}_postings").filter(F.col("tok").isin(all_terms))
    df_ = spark.table(f"{name}_terms").filter(F.col("tok").isin(all_terms))
    totals = spark.table(f"{name}_totals")
    scored = (
        tf_dl.join(F.broadcast(qdf), "tok")
        .join(F.broadcast(df_), "tok")
        .join(F.broadcast(totals))
        .withColumn("s_int", _s_int_expr())
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__s").desc(), F.col(id_col).asc()
    )
    return (
        scored.groupBy("query_id", id_col)
        .agg(
            F.sum("s_int").alias("__s"),
            F.count("*").alias("n_terms_hit"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select(
            "query_id",
            id_col,
            "rank",
            (F.col("__s") / F.lit(float(SCALE))).alias("score"),
            "n_terms_hit",
        )
    )


def merge_bm25_index(
    delta_docs: DataFrame,
    *,
    name: str = "bm25_idx",
    id_col: str = "doc_id",
    text_col: str = "text",
    check_new_ids: bool = True,
    idempotent: bool = False,
) -> None:
    """Fold a batch of NEW documents into a persisted BM25 index —
    insert-only incremental view maintenance under the protocol of
    ``sources.bucketing.insert_only_delta`` (``check_new_ids`` and
    ``idempotent`` are its steady-state and replay modes), so a daily
    crawl increment never re-tokenizes the corpus:

    - ``{name}_postings``: the delta's ``(tok, id, tf, dl)`` rows
      APPEND into the bucketed table with the EXISTING bucket spec
      (``sources.bucketing.append_bucketed``: bucket pruning is
      preserved, and the write adds at most ``n_buckets`` files — one
      write task per bucket — so each bucket gains one file per merge;
      compact with ``sources.bucketing.compact_bucketed_table`` on the
      usual cadence);
    - ``{name}_terms``: per-token df ADDS — union + re-aggregate at
      delta-vocabulary grain, written to a staging table and swapped
      in by a metadata-only rename (Spark refuses to overwrite a
      table its own plan reads);
    - ``{name}_totals``: one-row add, same staging swap.

    Post-merge scores are IDENTICAL to a full rebuild on the union
    corpus by construction: every quantity ``_score_topk`` reads
    (per-doc tf/dl, per-token df, corpus totals) is additive over
    disjoint document sets. The overlap check scans the postings id
    column (the table is bucketed by ``tok``, not id). Postings is the
    only table appended, so it is the replay guard — but a crash after
    its append and before the terms/totals swap would leave df/N/avgdl
    behind the postings with nothing left to append. So the replay
    path never trusts the additive merge: it ALWAYS rebuilds terms and
    totals FROM the postings table (both are pure aggregates of it:
    df = row count per tok, totals from the distinct per-doc dl),
    repairing any crash point at the cost of one postings scan — paid
    only on the suspicious-replay path. Updates/deletes are NOT
    expressible as negative postings here (rank windows are not
    retractable the way sums are): rebuild the affected docs instead.
    """
    from ..sources.bucketing import append_bucketed, insert_only_delta

    spark = delta_docs.sparkSession
    tables = {s: f"{name}_{s}" for s in ("postings", "terms", "totals")}
    delta_docs = insert_only_delta(
        delta_docs, name, tuple(tables), op="merge_bm25_index",
        guard="postings", id_col=id_col, check_new_ids=check_new_ids,
        idempotent=idempotent,
    )
    if delta_docs is not None:
        toks = _tokenized(delta_docs, id_col, text_col)
        dl = toks.groupBy(id_col).agg(F.count("*").alias("dl"))
        tf = toks.groupBy(id_col, "tok").agg(F.count("*").alias("tf"))
        postings_delta = tf.join(dl, id_col).select("tok", id_col, "tf", "dl")
        append_bucketed(postings_delta, tables["postings"])
    if idempotent:
        # the crash being reconciled may sit anywhere between the
        # postings append and the totals swap, so derive terms/totals
        # from the one source of truth (identical values: the additive
        # merge IS the incremental evaluation of these aggregates)
        _rebuild_bm25_aggregates(spark, tables, id_col)
        return
    delta_terms = tf.groupBy("tok").agg(F.count("*").alias("df"))
    merged_terms = (
        spark.table(tables["terms"])
        .unionByName(delta_terms)
        .groupBy("tok")
        .agg(F.sum("df").alias("df"))
    )
    delta_totals = dl.agg(
        F.sum("dl").alias("s_tokens"), F.count("*").alias("n_docs")
    )
    merged_totals = (
        spark.table(tables["totals"])
        .unionByName(delta_totals)
        .agg(
            F.sum("s_tokens").alias("s_tokens"),
            F.sum("n_docs").alias("n_docs"),
        )
    )
    for t, df_new in (("terms", merged_terms), ("totals", merged_totals)):
        stage = f"{tables[t]}_stage"
        df_new.write.format("parquet").mode("overwrite").saveAsTable(stage)
        spark.sql(f"DROP TABLE {tables[t]}")
        spark.sql(f"ALTER TABLE {stage} RENAME TO {tables[t]}")


def _rebuild_bm25_aggregates(spark, tables: dict, id_col: str) -> None:
    """Recompute ``{name}_terms`` and ``{name}_totals`` from
    ``{name}_postings`` (postings is the source of truth: df is the
    per-token row count, totals aggregate the distinct per-doc dl) and
    staging-swap them in. The idempotent-replay repair path of
    :func:`merge_bm25_index` — makes the three-table layout consistent
    regardless of where a crashed merge stopped."""
    postings = spark.table(tables["postings"])
    terms = postings.groupBy("tok").agg(F.count("*").alias("df"))
    totals = (
        postings.select(id_col, "dl")
        .distinct()
        .agg(F.sum("dl").alias("s_tokens"), F.count("*").alias("n_docs"))
    )
    for t, df_new in (("terms", terms), ("totals", totals)):
        stage = f"{tables[t]}_stage"
        df_new.write.format("parquet").mode("overwrite").saveAsTable(stage)
        spark.sql(f"DROP TABLE IF EXISTS {tables[t]}")
        spark.sql(f"ALTER TABLE {stage} RENAME TO {tables[t]}")


def rrf_fuse(
    rankings: list[tuple[str, DataFrame]],
    *,
    id_col: str,
    rank_col: str = "rank",
    k: int = 60,
    top: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09) of N
    rankings of the same id space — the standard hybrid-retrieval
    combiner (lexical BM25 + semantic ANN + priors) precisely because
    it needs no score calibration: only RANKS enter, so each
    retriever's score scale is irrelevant.

    Cross-engine parity: the 1/(k+rank) contributions are integer
    micro-units — ``1_000_000_000 div (k + rank)`` in exact JVM /
    DuckDB long division — summed as int64 (``rrf_micro``), so fusion
    involves no floating point at all.

    100 TB shape: each input ranking is already top-N (bounded);
    fusion unions bounded sets, one tiny aggregate, TakeOrdered. Each
    ranker's rank is exposed as ``<name>_rank`` (NULL where the doc
    appeared in only some rankings).
    """
    from pyspark.sql import Window

    contribs = None
    for _, df in rankings:
        c = df.select(
            F.col(id_col),
            F.call_function(
                "div",
                F.lit(1_000_000_000),
                F.lit(int(k)) + F.col(rank_col),
            ).alias("__c"),
        )
        contribs = c if contribs is None else contribs.unionByName(c)
    fused = (
        contribs.groupBy(id_col)
        .agg(F.sum("__c").alias("rrf_micro"))
        .orderBy(F.col("rrf_micro").desc(), F.col(id_col).asc())
        .limit(int(top))
        .withColumn(
            "fused_rank",
            F.row_number().over(
                Window.orderBy(F.col("rrf_micro").desc(), F.col(id_col).asc())
            ),
        )
    )
    for name, df in rankings:
        fused = fused.join(
            df.select(F.col(id_col), F.col(rank_col).alias(f"{name}_rank")),
            id_col,
            "left",
        )
    return fused.select(
        id_col,
        "fused_rank",
        "rrf_micro",
        *[f"{n}_rank" for n, _ in rankings],
    )
