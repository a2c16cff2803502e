"""The two workloads. Each has a ``setup`` (charged to ``setup_s``: table
handles, index builds, precompute, and the warm-up, whose first pass is
the untimed check pass) and an ``ops`` generator of timed operations. An
operation builds its plan and runs its action; it is released outside
the timed window. ``op`` returns an :class:`Op` with its latency and
whether its output passed the check.

- ``batch``: registered queries, each run ending in a noop write. A run
  times the shard of the registry its seed selects (``membership.json``;
  every shard holds light and build-job queries), in seeded orders.
- ``service``: set-up builds the indexes and ingests a micro-batch
  straight into ``CurationSink``, which merges the admitted documents into
  the BM25 and MinHash indexes; then one client sends rounds of the seven
  request types, each round in a seeded order, in a closed loop.
"""

from __future__ import annotations

import importlib
import json
import os
import random
import time
from collections import defaultdict

import check
import harness
import spans as sp

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "big_data_song_recommendation_spark"


def load_json(name: str) -> dict:
    with open(os.path.join(HERE, name)) as fh:
        return json.load(fh)


class Op:
    """One timed operation: latency, layer figures and check result."""

    __slots__ = ("name", "kind", "latency_s", "ok", "traced", "layers")

    def __init__(self, name: str, kind: str, traced: bool) -> None:
        self.name, self.kind, self.traced = name, kind, traced
        self.latency_s, self.ok, self.layers = 0.0, True, {}


class Telemetry:
    """The instruments of a traced operation."""

    def __init__(self, spark, tracer: sp.Tracer) -> None:
        self.tracer = tracer
        self.probe = sp.SparkProbe(spark)
        self.py4j = sp.Py4jCounter(spark)
        self.trace_id = 0

    def close(self) -> None:
        self.py4j.close()


class Workload:
    def __init__(self, spark, seed: int, data_dir: str, check_dir: str, work_dir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.rng = random.Random(seed)
        self.data_dir = data_dir
        self.check_dir = check_dir
        self.work_dir = work_dir
        self.setup_parts: dict[str, float] = {}
        self.check_failures: list[str] = []
        self.check_ops = 0
        #: persistent RDDs of the setup, kept across releases
        self.keep: set[int] = set()
        #: operations set-up ran that are reported like timed ones
        self.setup_ops: list[Op] = []

    def _timed_part(self, key: str, fn, *args, **kwargs):
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        self.setup_parts[key] = self.setup_parts.get(key, 0.0) + time.perf_counter() - t0
        return out

    def _check(self, name: str, ok: bool) -> None:
        self.check_ops += 1
        if not ok:
            self.check_failures.append(name)

    def _open(self, op: Op, tel: Telemetry | None, root: int | None) -> int | None:
        if tel is None:
            return None
        tel.trace_id += 1
        return tel.tracer.start(f"{op.kind}:{op.name}", root, tel.trace_id)

    def _release(self, op: Op, tel: Telemetry | None, opsid: int | None) -> None:
        """Free what the operation pinned, outside the timed window."""
        from big_data_song_recommendation_spark.session import release_query_state

        sid = tel.tracer.start("release", opsid, tel.trace_id) if tel else None
        t0 = time.perf_counter()
        n = release_query_state(self.spark, keep=self.keep or None)
        op.layers["session.release_ms"] = (time.perf_counter() - t0) * 1000.0
        op.layers["session.rdds_released"] = n
        if tel:
            tel.tracer.end(sid, rdds=n)
            tel.tracer.end(opsid)

    def _build_action(self, op: Op, build, action, tel: Telemetry | None, opsid: int | None):
        """Time ``build()`` then ``action(df)``. In a traced run, also
        record their spans, job groups, py4j calls and Catalyst phases."""
        if tel is None:
            t0 = time.perf_counter()
            out = action(build())
            op.latency_s = time.perf_counter() - t0
            return out
        tr, probe = tel.tracer, tel.probe
        gb = probe.group("build")
        bsid = tr.start("build", opsid, tel.trace_id)
        with tel.py4j.counting() as calls:
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
        tr.end(bsid, py4j_calls=calls["n"])
        ga = probe.group("action")
        asid = tr.start("action", opsid, tel.trace_id)
        t2 = time.perf_counter()
        out = action(df)
        t3 = time.perf_counter()
        tr.end(asid)
        probe.clear_group()
        op.latency_s = (t1 - t0) + (t3 - t2)
        with tr.span("telemetry", opsid, tel.trace_id):
            bjobs, ajobs = probe.jobs(gb), probe.jobs(ga)
            sp.add_jobs(tr, bjobs, bsid, tel.trace_id)
            sp.add_jobs(tr, ajobs, asid, tel.trace_id)
            try:
                cat = probe.catalyst_ms(df)
            except Exception:  # a plan the tracker cannot re-plan reports no phases
                cat = {}
        bt = sp.job_totals(bjobs)
        op.layers.update(
            {
                "build_s": t1 - t0,
                "action_s": t3 - t2,
                "py4j_calls": calls["n"],
                "build_jobs": bt["jobs"],
                "build_job_s": bt.get("job_s", 0.0),
                **{f"catalyst.{k}_ms": v for k, v in cat.items()},
                **{f"action.{k}": v for k, v in sp.job_totals(ajobs).items()},
            }
        )
        return out


median = harness.median


def by_name(ops: list[Op]) -> dict[str, float]:
    """Median latency of each operation name."""
    lat = defaultdict(list)
    for o in ops:
        lat[o.name].append(o.latency_s)
    return {k: median(v) for k, v in lat.items()}


# ---------------------------------------------------------------------------
# batch
# ---------------------------------------------------------------------------


class Batch(Workload):
    name = "batch"

    def __init__(self, *args) -> None:
        super().__init__(*args)
        spec = load_json("membership.json")
        self.shard_no = self.seed % len(spec["shards"])
        self.shard = list(spec["shards"][self.shard_no])
        self.n_registry = sum(len(v) for v in spec["classes"].values())
        self.class_of = {q: c for c, qs in spec["classes"].items() for q in qs}
        self.ref = {q: r["build_s"] + r["exec_s"] for q, r in spec["warm_trace"].items()}
        self.expected = load_json("expected.json")["hashes"]

    def setup(self, tel: Telemetry | None, root: int | None) -> None:
        from big_data_song_recommendation_spark.plans import QUERIES
        from big_data_song_recommendation_spark.session import release_query_state
        from big_data_song_recommendation_spark.sources.readers import (
            TESTDATA_TABLES,
            load_table,
        )

        self.queries = QUERIES
        for t in TESTDATA_TABLES:  # table handles of the timed inputs
            self._timed_part("tables_s", load_table, self.spark, self.data_dir, t)

        def check_pass():
            """Each query of the shard once on the check dataset, its
            result hash against expected.json."""
            for q in self.shard:
                try:
                    got = check.frame_hash(QUERIES[q](self.spark, self.check_dir).toPandas())
                    self._check(q, got == self.expected[q])
                except Exception as e:  # a raising query fails its check
                    print(f"check {q}: {type(e).__name__}: {e}", flush=True)
                    self._check(q, False)
                release_query_state(self.spark)

        self._timed_part("warmup_s", check_pass)
        # a second pass, on the timed inputs with the timed action: a fresh
        # JVM runs a query's second execution far slower than its later ones
        for q in self.shard:
            self._timed_part("warmup_s", self.op, q, None, None)

    def rounds(self):
        """Passes over the shard, each in a fresh seeded order."""
        while True:
            order = list(self.shard)
            self.rng.shuffle(order)
            yield order

    def op(self, q: str, tel: Telemetry | None, root: int | None) -> Op:
        op = Op(q, "query", tel is not None)
        fn = self.queries[q]
        opsid = self._open(op, tel, root)
        try:
            self._build_action(
                op,
                lambda: fn(self.spark, self.data_dir),
                lambda df: df.write.format("noop").mode("overwrite").save(),
                tel,
                opsid,
            )
        except Exception as e:
            print(f"op {q}: {type(e).__name__}: {e}", flush=True)
            op.ok = False
        self._release(op, tel, opsid)
        return op

    # The shard differs from seed to seed, so the end-to-end figures are
    # ratio estimates for the whole registry: the timed latencies over
    # their queries' frozen warm times (membership.json) say how fast this
    # run is, and the registry's warm times scale that back to seconds.
    def op_p50_s(self, ops: list[Op]) -> float:
        """The registry's median query latency: its median warm time
        times the median over the timed queries of latency / warm time."""
        return median(list(self.ref.values())) * median([o.latency_s / self.ref[o.name] for o in ops])

    def round_s(self, ops: list[Op]) -> float:
        """One pass over the registry: its summed warm times times the
        mean over the timed queries of latency / warm time, unweighted so
        that one slow query of the shard cannot swing it."""
        return sum(self.ref.values()) * harness.mean([o.latency_s / self.ref[o.name] for o in ops])

    def named(self, ops: list[Op]) -> dict:
        """The workload's own metrics: (value, unit[, percentile])."""
        lat = [o.latency_s for o in ops]
        pct, tail = harness.tail(lat)
        by_query = by_name(ops)
        out = {
            "suite_s": (self.round_s(ops), "s"),
            "shard_pass_s": (sum(by_query.values()), "s"),
            "query_p50_ms": (1000.0 * median(lat), "ms"),
            "query_tail_ms": (1000.0 * tail, "ms", pct),
            "queries_per_s": (len(lat) / sum(lat), "1/s"),
        }
        for c in ("batch_light", "batch_buildjobs"):
            xs = [o.latency_s for o in ops if self.class_of[o.name] == c]
            out[f"{c}.query_p50_ms"] = (1000.0 * median(xs), "ms")
        return out


# ---------------------------------------------------------------------------
# service: requests and ingest on shared indexes
# ---------------------------------------------------------------------------

REQUEST_TYPES = ("collab_pre", "content_pre", "hybrid_pre", "bm25", "srp", "ivfpq", "neardup")

#: filler of >= 50 stopword-rich tokens: a document built on it passes
#: the sink's quality gate, so the dedup stages decide its verdict
_FILLER = (
    "the quick brown fox jumps over the lazy dog and then it runs to "
    "the river where the water is cold and the stones are smooth and "
    "the evening light settles on the far bank while the birds call "
    "softly from the reeds and the wind moves through the tall grass"
).split()

#: planted documents of the micro-batch; it is the first, so the
#: fingerprint store holds nothing it could duplicate
BATCH_MIX = {"fresh": 24, "batch_dup": 8, "near_dup": 8, "low_quality": 8}
BATCH_SIZE = sum(BATCH_MIX.values())
#: indexed documents the near duplicates copy; ids above the documents table's
SEED_CORPUS = 200
SEED_CORPUS_ID0 = 900_000


def interleaved(marker: str) -> str:
    """The filler with ``marker`` after every second word: every 3-word
    shingle holds the marker, so texts with different markers share no
    shingle and only copies are near duplicates."""
    out = []
    for i, w in enumerate(_FILLER):
        out.append(w)
        if i % 2 == 1:
            out.append(marker)
    return " ".join(out)


def seed_corpus(seed: int) -> list[tuple[int, str]]:
    return [(SEED_CORPUS_ID0 + i, interleaved(f"s{seed}x{i}")) for i in range(SEED_CORPUS)]


def planted_batch(seed: int) -> tuple[list[tuple[int, str]], dict]:
    """The seeded micro-batch and the audit it must produce."""
    rng = random.Random(seed)
    fresh = [interleaved(f"u{seed}x{i}") for i in range(BATCH_MIX["fresh"])]
    docs = fresh + rng.sample(fresh, BATCH_MIX["batch_dup"])
    docs += [interleaved(f"s{seed}x{i}") for i in rng.sample(range(SEED_CORPUS), BATCH_MIX["near_dup"])]
    docs += [f"zz{rng.randrange(10**6)} qq ww vv kk" for _ in range(BATCH_MIX["low_quality"])]
    rng.shuffle(docs)
    planted = dict(n_in=len(docs), n_accepted=BATCH_MIX["fresh"], n_dup_batch=BATCH_MIX["batch_dup"],
                   n_dup_store=0, n_near_dup_index=BATCH_MIX["near_dup"],
                   n_quality_fail=BATCH_MIX["low_quality"])
    return [(1_000_000 + i, text) for i, text in enumerate(docs)], planted


#: sink collaborators a traced run times; ``CurationSink`` imports them
#: at call time, so wrapping the module attribute reaches its calls
SINK_PARTS = (
    ("operators.dedup", "dedup_against_store", "operators.dedup_against_store_ms"),
    ("operators.dedup", "near_dup_probe", "operators.near_dup_probe_ms"),
    ("operators.retrieval", "merge_bm25_index", "operators.merge_bm25_index_ms"),
    ("operators.dedup", "merge_minhash_index", "operators.merge_minhash_index_ms"),
    ("sources.sinks", "export_training_shards", "sources.export_training_shards_ms"),
)


def _tree(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            files += 1
            size += os.path.getsize(os.path.join(d, f))
    return files, size


def _key(row: dict) -> tuple:
    return tuple(sorted(row.items()))


class Service(Workload):
    name = "service"

    def setup(self, tel: Telemetry | None, root: int | None) -> None:
        import pandas as pd
        from pyspark.sql import functions as F

        from big_data_song_recommendation_spark.ml import recommend
        from big_data_song_recommendation_spark.operators import dedup, retrieval, similarity
        from big_data_song_recommendation_spark.session import snapshot_persistent_rdds
        from big_data_song_recommendation_spark.sources.readers import load_table
        from big_data_song_recommendation_spark.streaming.jobs import CurationSink

        spark, self.F, self.pd = self.spark, F, pd

        def tables():
            self.emb = load_table(spark, self.data_dir, "embeddings")
            self.docs = load_table(spark, self.data_dir, "documents")
            self.ratings = recommend.derive_ratings_from_events(
                load_table(spark, self.data_dir, "events")).cache()
            self.ratings.count()
            self.corpus = self.docs.select("doc_id", "text").unionByName(
                self._frame(seed_corpus(self.seed)))

        self._timed_part("tables_s", tables)
        model = self._timed_part(
            "ml.train_als_s",
            lambda: recommend.train_als(
                self.ratings, evaluate=False, rank=8, maxIter=5, implicitPrefs=False
            ).model,
        )
        pre = os.path.join(self.work_dir, "precomputed")

        def precompute():
            recommend.recommend_top_n(model, 10, bounded_users=False).write.mode(
                "overwrite").parquet(f"{pre}/collab")
            # content neighbours of a fifth of the items: the ones requests ask for
            probes = self.emb.filter(F.col("vec_id") % 5 == self.seed % 5)
            similarity.brute_force_knn(self.emb, probes, k=10, exclude_self=True).write.mode(
                "overwrite").parquet(f"{pre}/content")

        self._timed_part("ml.precompute_s", precompute)
        self.collab_pre = spark.read.parquet(f"{pre}/collab")
        self.content_pre = spark.read.parquet(f"{pre}/content")
        for key, fn, args, kw in (
            ("operators.bm25_index_build_s", retrieval.build_bm25_index, (self.corpus,),
             dict(name="pb_bm25", n_buckets=8)),
            ("operators.srp_index_build_s", similarity.build_srp_index, (self.emb,),
             dict(label_col="label", planes=6, name="pb_srp", n_buckets=8)),
            ("operators.ivfpq_index_build_s", similarity.build_ivfpq_index, (self.emb,),
             dict(name="pb_ivfpq", n_buckets=8)),
            ("operators.minhash_index_build_s", dedup.build_minhash_index, (self.corpus,),
             dict(name="pb_mh", n_buckets=8)),
        ):
            self._timed_part(key, fn, *args, **kw)
        self.out_dir = os.path.join(self.work_dir, "curated")
        self.warehouse = os.path.join(self.work_dir, "warehouse")
        self.sink = CurationSink(self.out_dir, n_shards=4, bm25_index="pb_bm25",
                                 minhash_index="pb_mh")
        self.accepted_total = 0

        # what the lookups must return, read once, untimed
        self.want_collab = defaultdict(list)
        for r in self.collab_pre.collect():
            self.want_collab[r["user_id"]].append(r.asDict())
        self.want_content = defaultdict(list)
        for r in self.content_pre.collect():
            self.want_content[r["query_id"]].append(r.asDict())
        best = {}
        for r in self.ratings.collect():
            u, key = r["user_id"], (-r["rating"], r["item_id"])
            if u not in best or key < best[u]:
                best[u] = key
        self.fav = {u: k[1] for u, k in best.items()}
        self.users = sorted(self.want_collab)
        self.vec_ids = sorted(self.want_content)
        self.doc_ids = sorted(r["doc_id"] for r in self.docs.select("doc_id").collect())
        self.vocab = sorted(r["tok"] for r in spark.table("pb_bm25_terms").select("tok").collect())
        self.keep = snapshot_persistent_rdds(spark)

        def ingest():
            self.setup_ops = [self._batch_op(tel, root)]
            self._check("batch", self.setup_ops[0].ok)

        self._timed_part("ingest_s", ingest)

        def warm():
            """One round of requests: the check pass."""
            for item in self._round():
                self._check(item, self.op(item, None, None).ok)

        self._timed_part("warmup_s", warm)

    def _frame(self, rows):
        pdf = self.pd.DataFrame(rows, columns=["doc_id", "text"])
        return self.spark.createDataFrame(pdf, "doc_id long, text string")

    def _round(self) -> list[str]:
        order = list(REQUEST_TYPES)
        self.rng.shuffle(order)
        return order

    def rounds(self):
        while True:
            yield self._round()

    # -- requests ----------------------------------------------------------
    def _request(self, t: str):
        """(build, check): ``build()`` returns the request's DataFrame and
        ``check(rows)`` tells whether its collected rows are right."""
        F, spark, rng = self.F, self.spark, self.rng
        if t == "collab_pre":
            u = rng.choice(self.users)
            want = sorted(map(_key, self.want_collab[u]))
            return (lambda: self.collab_pre.filter(F.col("user_id") == u).orderBy("rnk"),
                    lambda rows: sorted(_key(r.asDict()) for r in rows) == want)
        if t == "content_pre":
            v = rng.choice(self.vec_ids)
            want = sorted(map(_key, self.want_content[v]))
            return (lambda: self.content_pre.filter(F.col("query_id") == v).orderBy("rnk"),
                    lambda rows: sorted(_key(r.asDict()) for r in rows) == want)
        if t == "hybrid_pre":
            u = rng.choice(self.users)
            return (lambda: self._hybrid(u), lambda rows: self._hybrid_ok(u, rows))
        if t == "bm25":
            from big_data_song_recommendation_spark.operators.retrieval import bm25_topk_indexed

            terms = rng.sample(self.vocab, 3)
            return (lambda: bm25_topk_indexed(spark, terms, name="pb_bm25", k=10),
                    lambda rows: 0 < len(rows) <= 10)
        if t == "srp":
            from big_data_song_recommendation_spark.operators.similarity import srp_knn_indexed

            v = rng.choice(self.vec_ids)
            return (lambda: srp_knn_indexed(spark, [v], name="pb_srp", k=3),
                    lambda rows: len(rows) <= 3)
        if t == "ivfpq":
            from big_data_song_recommendation_spark.operators.similarity import ivfpq_topk_indexed

            v = rng.choice(self.vec_ids)
            return (lambda: ivfpq_topk_indexed(spark, [v], name="pb_ivfpq", k=3, nprobe=4),
                    lambda rows: 0 < len(rows) <= 3)
        if t == "neardup":
            from big_data_song_recommendation_spark.operators.dedup import near_dup_probe

            # a 20-document admission batch, mutated so no copy is exact
            i = rng.randrange(0, len(self.doc_ids) - 20)
            lo, hi = self.doc_ids[i], self.doc_ids[i + 19]
            ids = {50_000_000 + d for d in self.doc_ids[i:i + 20]}

            def build():
                batch = self.docs.filter(F.col("doc_id").between(lo, hi)).select(
                    (F.col("doc_id") + 50_000_000).alias("doc_id"),
                    F.concat(F.col("text"), F.lit(" probe tail")).alias("text"),
                )
                return near_dup_probe(batch, name="pb_mh")

            return build, lambda rows: all(r["probe_id"] in ids for r in rows)
        raise KeyError(t)

    def _hybrid(self, u):
        """serving_probe's hybrid endpoint: blend a user's precomputed
        collaborative recommendations with the content neighbours of the
        user's favourite item."""
        from pyspark.sql import Window

        F = self.F
        fav = (
            self.ratings.filter(F.col("user_id") == u)
            .orderBy(F.desc("rating"), F.asc("item_id"))
            .limit(1)
        )
        c = self.collab_pre.filter(F.col("user_id") == u).select(
            F.col("item_id").alias("rec_id"), (F.lit(0.7) / F.col("rnk")).alias("score")
        )
        t = self.content_pre.join(fav, self.content_pre["query_id"] == fav["item_id"]).select(
            F.col("neighbor_id").alias("rec_id"), (F.lit(0.3) * F.col("sim")).alias("score")
        )
        w = Window.orderBy(F.desc("total"), F.asc("rec_id"))
        return (
            c.unionByName(t)
            .groupBy("rec_id")
            .agg(F.sum("score").alias("total"))
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 10)
        )

    def _hybrid_ok(self, u, rows) -> bool:
        """The blend recomputed from the precomputed rows."""
        score = defaultdict(float)
        for r in self.want_collab[u]:
            score[r["item_id"]] += 0.7 / r["rnk"]
        for r in self.want_content.get(self.fav.get(u), []):
            score[r["neighbor_id"]] += 0.3 * r["sim"]
        want = sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        got = sorted(((r["rec_id"], r["total"]) for r in rows), key=lambda kv: (-kv[1], kv[0]))
        return len(got) == len(want) and all(
            g[0] == w[0] and abs(g[1] - w[1]) < 1e-9 for g, w in zip(got, want)
        )

    def op(self, t: str, tel: Telemetry | None, root: int | None) -> Op:
        op = Op(t, "request", tel is not None)
        opsid = self._open(op, tel, root)
        try:
            build, ok = self._request(t)
            rows = self._build_action(op, build, lambda df: df.collect(), tel, opsid)
            op.ok = bool(ok(rows))
            if not op.ok:
                print(f"op {t}: output check failed", flush=True)
        except Exception as e:
            print(f"op {t}: {type(e).__name__}: {e}", flush=True)
            op.ok = False
        self._release(op, tel, opsid)
        return op

    # -- ingest ------------------------------------------------------------
    def _batch_op(self, tel: Telemetry | None, root: int | None) -> Op:
        op = Op("batch", "batch", tel is not None)
        rows, planted = planted_batch(self.seed)
        df = self._frame(rows)  # the producer's side, outside the timing
        epoch = 0
        opsid = self._open(op, tel, root)
        before = (_tree(self.out_dir), _tree(self.warehouse)) if tel else None
        wrapped = self._wrap(op, tel, opsid) if tel else []
        try:
            g = tel.probe.group("batch") if tel else None
            t0 = time.perf_counter()
            self.sink(df, epoch)
            op.latency_s = time.perf_counter() - t0
            if tel:
                tel.probe.clear_group()
                with tel.tracer.span("telemetry", opsid, tel.trace_id):
                    jobs = tel.probe.jobs(g)
                    sp.add_jobs(tel.tracer, jobs, opsid, tel.trace_id)
                op.layers.update({f"action.{k}": v for k, v in sp.job_totals(jobs).items()})
                op.layers["action_s"] = op.latency_s
            # the sink must leave no persistent RDD of its own behind
            pinned = self.spark.sparkContext._jsc.getPersistentRDDs().keySet()
            left = {int(i) for i in pinned} - self.keep
            op.ok = self._audit_ok(epoch, planted) and not left
            if left:
                print(f"op batch {epoch}: {len(left)} persistent RDDs left", flush=True)
        except Exception as e:
            print(f"op batch {epoch}: {type(e).__name__}: {e}", flush=True)
            op.ok = False
        finally:
            for mod, attr, orig in wrapped:
                setattr(mod, attr, orig)
        if tel:
            after = (_tree(self.out_dir), _tree(self.warehouse))
            op.layers["streaming.files_per_batch"] = sum(a[0] - b[0] for a, b in zip(after, before))
            op.layers["streaming.bytes_written_per_input_byte"] = sum(
                a[1] - b[1] for a, b in zip(after, before)) / sum(len(t.encode()) for _, t in rows)
            op.layers["streaming.jobs_per_batch"] = op.layers.get("action.jobs", 0)
        self._release(op, tel, opsid)
        return op

    def _wrap(self, op: Op, tel: Telemetry, opsid: int) -> list:
        out = []
        for modname, attr, key in SINK_PARTS:
            mod = importlib.import_module(f"{PKG}.{modname}")
            orig = getattr(mod, attr)

            def timed(*a, _orig=orig, _key=key, _attr=attr, **kw):
                sid = tel.tracer.start(f"sink:{_attr}", opsid, tel.trace_id)
                t0 = time.perf_counter()
                try:
                    return _orig(*a, **kw)
                finally:
                    op.layers[_key] = op.layers.get(_key, 0.0) + (time.perf_counter() - t0) * 1000.0
                    tel.tracer.end(sid)

            setattr(mod, attr, timed)
            out.append((mod, attr, orig))
        return out

    def _audit_ok(self, epoch: int, planted: dict) -> bool:
        """The batch audit accounts for every input row and matches the
        verdicts the generator planted."""
        with open(os.path.join(self.out_dir, "audit", f"batch_{epoch:06d}.json")) as fh:
            audit = json.load(fh)
        self.accepted_total += audit["n_accepted"]
        accounted = sum(audit[k] for k in ("n_quality_fail", "n_dup_store", "n_dup_batch",
                                           "n_near_dup_index", "n_accepted"))
        ok = accounted == audit["n_in"] and all(audit[k] == v for k, v in planted.items())
        if not ok:
            print(f"audit {epoch}: {audit} planted {planted}", flush=True)
        return ok

    def final_check(self) -> None:
        """The store holds exactly as many distinct fingerprints as were
        accepted, each once."""
        store = self.spark.read.parquet(os.path.join(self.out_dir, "store"))
        distinct = store.select("fp").distinct().count()
        self._check("store", distinct == store.count() == self.accepted_total)

    def index_files(self) -> dict:
        out = {}
        for key, prefix in (("index.bm25_files", "pb_bm25_"), ("index.minhash_files", "pb_mh_")):
            out[key] = sum(
                1
                for d in os.listdir(self.warehouse) if d.startswith(prefix)
                for _, _, fs in os.walk(os.path.join(self.warehouse, d))
                for f in fs if f.endswith(".parquet")
            )
        return out

    def op_p50_s(self, ops: list[Op]) -> float:
        """The median over the seven request types of each one's median
        latency."""
        return median(list(by_name(ops).values()))

    def round_s(self, ops: list[Op]) -> float:
        """One round: the sum of the request types' median latencies."""
        return sum(by_name(ops).values())

    def named(self, ops: list[Op]) -> dict:
        """The workload's own metrics: (value, unit[, percentile])."""
        req = [o.latency_s for o in ops]
        bat = [o.latency_s for o in self.setup_ops]
        rp, rt = harness.tail(req) if req else (0.5, 0.0)
        bp, bt = harness.tail(bat) if bat else (0.5, 0.0)
        return {
            "req_p50_ms": (1000.0 * median(req), "ms"),
            "req_tail_ms": (1000.0 * rt, "ms", rp),
            "req_per_s": (len(req) / sum(req) if req else 0.0, "1/s"),
            "docs_per_s": (BATCH_SIZE * len(bat) / sum(bat) if bat else 0.0, "1/s"),
            "batch_p50_ms": (1000.0 * median(bat), "ms"),
            "batch_tail_ms": (1000.0 * bt, "ms", bp),
        }


WORKLOADS = {"batch": Batch, "service": Service}
