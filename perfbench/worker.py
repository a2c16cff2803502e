"""One benchmark run of one workload, in this process. ``run.py`` starts
it in its own process group with the log captured, and reads the result
file it writes.

Usage: worker.py --workload W --seed N --seconds S --trace 0|1
                 --work DIR --out FILE [--spans FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import harness  # noqa: E402

#: per-layer metrics and their units; a workload that does not reach a
#: layer reports 0 for it
PER_LAYER = {
    "session.start_s": "s",
    "session.release_ms": "ms",
    "session.rdds_released": "count",
    "session.persistent_rdds_end": "count",
    "log.error_lines": "count",
    "host.control_p50_ms": "ms",
    "plans.build_s": "s",
    "plans.py4j_calls": "count",
    "plans.build_jobs": "count",
    "plans.build_job_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.occupancy": "ratio",
    "sources.input_mb": "MB",
    "sources.input_rows": "count",
    **{f"serving.{t}.p50_ms": "ms" for t in (
        "collab_pre", "content_pre", "hybrid_pre", "bm25", "srp", "ivfpq", "neardup")},
    "serving.build_ms": "ms",
    "serving.exec_ms": "ms",
    "serving.py4j_calls": "count",
    "serving.jobs": "count",
    "ml.train_als_s": "s",
    "ml.precompute_s": "s",
    "operators.bm25_index_build_s": "s",
    "operators.srp_index_build_s": "s",
    "operators.ivfpq_index_build_s": "s",
    "operators.minhash_index_build_s": "s",
    "operators.dedup_against_store_ms": "ms",
    "operators.near_dup_probe_ms": "ms",
    "operators.merge_bm25_index_ms": "ms",
    "operators.merge_minhash_index_ms": "ms",
    "sources.export_training_shards_ms": "ms",
    "streaming.jobs_per_batch": "count",
    "streaming.bytes_written_per_input_byte": "ratio",
    "streaming.files_per_batch": "count",
    "index.bm25_files": "count",
    "index.minhash_files": "count",
    "trace.overhead_ms": "ms",
    **{f"trace.self_{k}_ms": "ms" for k in (
        "op", "build", "action", "job", "stage", "release", "sink", "telemetry")},
}

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "round_s": "s",
    "retained_heap_mb": "MB",
}


def _mean(ops, key: str, scale: float = 1.0) -> float:
    vals = [o.layers.get(key, 0.0) for o in ops]
    return scale * sum(vals) / len(vals) if vals else 0.0


def per_layer(wl, ops: list, extra: dict, self_times: dict) -> dict:
    """Per-layer metrics of a traced run: setup parts as measured, and
    the mean per traced operation of each layer's figures."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update({k: v for k, v in wl.setup_parts.items() if k in m})
    m.update({k: v for k, v in extra.items() if k in m})
    traced = [o for o in ops if o.traced]
    planned = [o for o in traced if o.kind in ("query", "request")]
    queries = [o for o in traced if o.kind == "query"]
    requests = [o for o in traced if o.kind == "request"]
    batches = [o for o in traced if o.kind == "batch"]
    m["session.release_ms"] = _mean(traced, "session.release_ms")
    m["session.rdds_released"] = _mean(traced, "session.rdds_released")
    m["plans.build_s"] = _mean(queries, "build_s")
    m["plans.py4j_calls"] = _mean(queries, "py4j_calls")
    m["plans.build_jobs"] = _mean(queries, "build_jobs")
    m["plans.build_job_s"] = _mean(queries, "build_job_s")
    for k in ("analysis", "optimization", "planning"):
        m[f"catalyst.{k}_ms"] = _mean(planned, f"catalyst.{k}_ms")
    m["exec.s"] = _mean(traced, "action_s")
    for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s"):
        m[f"exec.{k}"] = _mean(traced, f"action.{k}")
    for k in ("shuffle_write", "shuffle_read", "spill"):
        m[f"exec.{k}_mb"] = _mean(traced, f"action.{k}_bytes", 1e-6)
    wall = sum(o.layers.get("action_s", 0.0) for o in traced)
    run = sum(o.layers.get("action.run_s", 0.0) for o in traced)
    m["exec.occupancy"] = run / (wall * harness.cpus()) if wall else 0.0
    m["sources.input_mb"] = _mean(traced, "action.input_bytes", 1e-6)
    m["sources.input_rows"] = _mean(traced, "action.input_rows")
    m["serving.build_ms"] = _mean(requests, "build_s", 1000.0)
    m["serving.exec_ms"] = _mean(requests, "action_s", 1000.0)
    m["serving.py4j_calls"] = _mean(requests, "py4j_calls")
    m["serving.jobs"] = _mean(requests, "build_jobs") + _mean(requests, "action.jobs")
    for k in ("operators.dedup_against_store_ms", "operators.near_dup_probe_ms",
              "operators.merge_bm25_index_ms", "operators.merge_minhash_index_ms",
              "sources.export_training_shards_ms", "streaming.jobs_per_batch",
              "streaming.bytes_written_per_input_byte", "streaming.files_per_batch"):
        m[k] = _mean(batches, k)
    for k, v in self_times.items():
        key = f"trace.self_{'op' if k in ('query', 'request', 'batch') else k}_ms"
        if key in m and traced:
            m[key] += 1000.0 * v / len(traced)
    return m


def timed_window(wl, seconds: float, tel, root) -> list:
    """The timed operations: the workload's rounds until ``seconds`` have
    passed. The first round always completes, so every operation of the
    mix is measured at least once."""
    ops = []
    deadline = time.perf_counter() + seconds
    for rnd, items in enumerate(wl.rounds()):
        for item in items:
            if rnd and time.perf_counter() >= deadline:
                return ops
            # a traced run alternates traced and untraced operations so
            # the difference between them is the tracing overhead
            traced = tel is not None and len(ops) % 2 == 1
            ops.append(wl.op(item, tel if traced else None, root))
    return ops


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans")
    args = ap.parse_args()

    harness.configure_env(ROOT, args.work)
    sys.path.insert(0, ROOT)
    import spans as sp
    import workloads

    host = {"nproc": harness.cpus(), "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "loadavg_start": harness.loadavg()}
    data_dir = os.path.join(args.work, "data")
    check_dir = os.path.join(args.work, "check")
    datagen.generate(data_dir, args.seed)
    datagen.generate(check_dir, harness.CHECK_SEED)

    t0 = time.perf_counter()
    spark = harness.start_session(args.work)
    start_s = time.perf_counter() - t0
    try:
        tracer = sp.Tracer() if args.trace else None
        tel = workloads.Telemetry(spark, tracer) if tracer else None
        root = tracer.start(f"run:{args.workload}") if tracer else None
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, data_dir, check_dir, args.work)
        wl.setup(tel, root)
        setup_s = start_s + sum(wl.setup_parts.values())
        control = harness.control_ms(spark)
        ops = timed_window(wl, args.seconds, tel, root)
        if tracer:
            tracer.end(root)
            tel.close()
        if args.workload == "service":
            wl.final_check()
            index_files = wl.index_files()
        else:
            index_files = {}
        control += harness.control_ms(spark)
        heap = harness.retained_heap_mb(spark)
        persistent_end = harness.persistent_rdds(spark)
    finally:
        spark.stop()
    host["loadavg_end"] = harness.loadavg()
    host["control_p50_ms"] = harness.median(control)
    host["comparable_with"] = f"nproc={host['nproc']}"

    lat = [o.latency_s for o in ops]
    pct, tail_s = harness.tail(lat)
    failed = [o.name for o in ops if not o.ok] + wl.check_failures
    attempted = len(ops) + wl.check_ops
    # timings are host-scaled: operations here are short driver-bound jobs
    # like the control request, and a shared host's load moves both alike
    scale = harness.CONTROL_REF_MS / host["control_p50_ms"]
    named = {"setup_s": (setup_s, "s"), "failed_frac": (len(failed) / attempted, "ratio"),
             "retained_heap_mb": (heap, "MB"), "op_tail_ms": (1000.0 * tail_s, "ms", pct),
             **wl.named(ops)}
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "attempted": attempted,
        "failed": len(failed),
        "failed_ops": sorted(set(failed)),
        "host": host,
        "samples": len(lat),
        "ops_ms": [[o.name, round(1000.0 * o.latency_s, 3)] for o in ops],
        "tail_percentile": pct,
        "setup_parts_s": wl.setup_parts,
        "shard": getattr(wl, "shard_no", None),
        "host_scale": scale,
        "named": {k: dict(zip(("value", "unit", "percentile"), v)) for k, v in named.items()},
        "end_to_end": {
            "setup_s": setup_s,
            "op_p50_ms": 1000.0 * wl.op_p50_s(ops) * scale,
            "round_s": wl.round_s(ops) * scale,
            "retained_heap_mb": heap,
        },
    }
    if tracer:
        traced = [o.latency_s for o in ops if o.traced]
        plain = [o.latency_s for o in ops if not o.traced]
        extra = {
            "session.start_s": start_s,
            "session.persistent_rdds_end": persistent_end,
            "host.control_p50_ms": host["control_p50_ms"],
            "trace.overhead_ms": 1000.0 * (harness.median(traced) - harness.median(plain)),
            **index_files,
        }
        for t in workloads.REQUEST_TYPES:
            xs = [o.latency_s for o in ops if o.kind == "request" and o.name == t]
            extra[f"serving.{t}.p50_ms"] = 1000.0 * harness.median(xs)
        result["per_layer"] = per_layer(wl, wl.setup_ops + ops, extra, tracer.self_times())
        if args.spans:
            with open(args.spans, "w") as fh:
                json.dump(tracer.spans, fh)
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
