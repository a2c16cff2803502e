"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Runs from the root of a checkout, or from anywhere. It generates the
inputs for ``--seed`` under ``.perfbench_work/``, runs the workload in a
child process (``worker.py``) in a session of its own, counts the log4j
``ERROR`` lines that process logged, and prints two lines: a detail
record with the workload's own metric names, ``failed_frac`` and the
host, then the result line. With ``--trace 0`` the result carries the
end-to-end metrics, with ``--trace 1`` the per-layer ones. The detail
record, and the spans of a traced run, are also written to
``.perfbench_out/``. Workloads: see ``README.md`` beside this file.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "big_data_song_recommendation_spark"
WORKLOADS = ("batch", "service")
#: the worker must be done well inside the 180 s a run may take
WORKER_TIMEOUT_S = 165.0
_LOG_ERROR = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR ")


def _session_pids(sid: int) -> list[int]:
    """Processes of session ``sid``: the worker, its JVM and the JVM's
    Python daemon, which moves to a process group of its own."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended meanwhile
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def _stop_session(sid: int) -> None:
    """Kill what is left of the worker's session and wait until it is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in _session_pids(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        for _ in range(50):
            if not _session_pids(sid):
                return
            time.sleep(0.1)


def _terminate(signum, frame):
    # unwinds through main's finally blocks, which stop the worker's session
    raise SystemExit(128 + signum)


def main() -> int:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    result_path = os.path.join(work, "result.json")
    spans_path = os.path.join(out_dir, f"{tag}.spans.json")
    log_path = os.path.join(work, "worker.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", result_path, "--spans", spans_path,
    ]
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    cwd=work, start_new_session=True)
            try:
                rc = proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                _stop_session(proc.pid)
                proc.wait()
        with open(log_path, errors="replace") as fh:
            lines = fh.readlines()
        if rc != 0 or not os.path.exists(result_path):
            sys.stderr.writelines(lines[-60:])
            why = "timed out" if rc is None else f"exited with {rc}"
            print(f"perfbench: worker {why}", file=sys.stderr)
            return 1
        with open(result_path) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    errors = sum(1 for line in lines if _LOG_ERROR.match(line))
    detail = {k: v for k, v in res.items() if k not in ("end_to_end", "per_layer")}
    detail["log_error_lines"] = errors
    if args.trace:
        res["per_layer"]["log.error_lines"] = errors
        units = _units("per_layer")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in res["per_layer"].items()}
    else:
        units = _units("end_to_end")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in res["end_to_end"].items()}
    detail["metrics"] = metrics
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    print(json.dumps({"detail": detail}, sort_keys=True))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


def _units(kind: str) -> dict[str, str]:
    sys.path.insert(0, HERE)
    import worker

    return worker.PER_LAYER if kind == "per_layer" else worker.END_TO_END


if __name__ == "__main__":
    sys.exit(main())
