"""Spans kept in memory, and the Spark telemetry a traced run reads from
outside the package: py4j calls counted at the gateway client, jobs and
stages per job group from the status tracker and the status store, and
Catalyst phase times from a ``QueryExecution`` tracker. All of it works
with the Spark UI off.

Span tree: run -> operation (query, request or batch) -> build | action |
release | telemetry; Spark jobs sit under the build or action that
launched them, and stages under their job. Times are epoch seconds.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []

    def start(self, name: str, parent: int | None = None, trace: int | None = None, **attrs) -> int:
        sid = len(self.spans) + 1
        self.spans.append(
            {"id": sid, "name": name, "parent": parent, "trace": trace,
             "start": time.time(), "end": None, **attrs}
        )
        return sid

    def end(self, sid: int, **attrs) -> None:
        span = self.spans[sid - 1]
        span["end"] = time.time()
        span.update(attrs)

    def add(self, name: str, start: float, end: float, parent: int, trace: int | None, **attrs) -> int:
        sid = len(self.spans) + 1
        self.spans.append(
            {"id": sid, "name": name, "parent": parent, "trace": trace,
             "start": start, "end": end, **attrs}
        )
        return sid

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, trace: int | None = None, **attrs):
        sid = self.start(name, parent, trace, **attrs)
        try:
            yield sid
        finally:
            self.end(sid)

    def self_times(self) -> dict[str, float]:
        """Seconds per span kind (the name up to the first ':') not
        covered by the span's children, summed over the run."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is None:
                continue
            lo, hi = s["start"], s["end"]
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(children[s["id"]], key=lambda c: c["start"]):
                a, b = max(lo, c["start"]), min(hi, c["end"] or hi)
                if b <= a:
                    continue
                if cur_hi is None or a > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = a, b
                else:
                    cur_hi = max(cur_hi, b)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["name"].split(":")[0]] += max(0.0, (hi - lo) - covered)
        return dict(out)


class Py4jCounter:
    """Counts py4j round trips by wrapping the gateway client's
    ``send_command``; counting is on only inside ``counting()``."""

    def __init__(self, spark) -> None:
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command
        self.n = 0
        self._on = False

        def send_command(*args, **kwargs):
            if self._on:
                self.n += 1
            return self._orig(*args, **kwargs)

        self._client.send_command = send_command

    @contextlib.contextmanager
    def counting(self):
        n0, self._on = self.n, True
        box = {"n": 0}
        try:
            yield box
        finally:
            self._on = False
            box["n"] = self.n - n0

    def close(self) -> None:
        self._client.send_command = self._orig


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkProbe:
    """Job, stage and Catalyst telemetry for one traced operation."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._seq = 0

    def group(self, label: str) -> str:
        self._seq += 1
        g = f"perfbench-{self._seq}-{label}"
        self.sc.setJobGroup(g, label)
        return g

    def clear_group(self) -> None:
        self.sc._jsc.clearJobGroup()

    def jobs(self, group: str) -> list[dict]:
        """Jobs of ``group`` with status-store times and the metrics of the
        stages each one ran. A job also lists the stages whose shuffle
        output it reused; those ran before it started, and are left out."""
        out = []
        seen: set[int] = set()
        tracker = self.sc.statusTracker()
        for jid in sorted(tracker.getJobIdsForGroup(group)):
            jd = self.store.job(jid)
            job = {
                "id": jid,
                "start": _opt_ms(jd.submissionTime()),
                "end": _opt_ms(jd.completionTime()),
                "stages": [],
            }
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                try:
                    st = self.store.lastStageAttempt(int(sid))
                except Exception:  # a stage skipped everywhere has no attempt
                    continue
                start = _opt_ms(st.submissionTime())
                if sid in seen or start is None or job["start"] is None or start < job["start"]:
                    continue
                seen.add(sid)
                job["stages"].append(
                    {
                        "id": int(sid),
                        "start": start,
                        "end": _opt_ms(st.completionTime()),
                        "tasks": int(st.numTasks()),
                        "run_s": st.executorRunTime() / 1000.0,
                        "cpu_s": st.executorCpuTime() / 1e9,
                        "gc_s": st.jvmGcTime() / 1000.0,
                        "input_bytes": int(st.inputBytes()),
                        "input_rows": int(st.inputRecords()),
                        "shuffle_read_bytes": int(st.shuffleReadBytes()),
                        "shuffle_write_bytes": int(st.shuffleWriteBytes()),
                        "spill_bytes": int(st.memoryBytesSpilled())
                        + int(st.diskBytesSpilled()),
                    }
                )
            out.append(job)
        return out

    @staticmethod
    def catalyst_ms(df) -> dict[str, float]:
        """Analysis, optimization and planning time of ``df``'s own
        ``QueryExecution``, planning it first if no action has."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            p = phases.get(phase)
            out[phase] = float(p.get().durationMs()) if p.isDefined() else 0.0
        return out


def add_jobs(tracer: Tracer, jobs: list[dict], parent: int, trace: int) -> None:
    """Job spans under ``parent`` and stage spans under each job."""
    for j in jobs:
        if j["start"] is None:
            continue
        jid = tracer.add(f"job:{j['id']}", j["start"], j["end"] or j["start"], parent, trace)
        for s in j["stages"]:
            if s["start"] is None:
                continue
            tracer.add(
                f"stage:{s['id']}", s["start"], s["end"] or s["start"], jid, trace,
                tasks=s["tasks"], run_s=s["run_s"],
            )


def job_totals(jobs: list[dict]) -> dict[str, float]:
    """Sums over the jobs' stages, plus job count and job wall."""
    t = defaultdict(float)
    t["jobs"] = len(jobs)
    for j in jobs:
        if j["start"] is not None and j["end"] is not None:
            t["job_s"] += j["end"] - j["start"]
        for s in j["stages"]:
            t["stages"] += 1
            for k in ("tasks", "run_s", "cpu_s", "gc_s", "input_bytes", "input_rows",
                      "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
                t[k] += s[k]
    return dict(t)
