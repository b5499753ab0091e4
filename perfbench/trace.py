"""Spans recorded around the benchmark's calls into each layer, and
Spark's event log attributed to them.

A span is (id, name, start, end, parent, trace): ``trace`` is the index
of the measured operation it belongs to.  Spans are kept in memory and
written out when the benchmark ends.  With ``describe`` on, entering a
span also sets the Spark job description on the calling thread, so the
event log names the span.  Jobs that ``run.py`` submits from its own
thread pool carry no description, so every job is attributed to the
innermost span open at its submission time instead; the benchmark runs
one operation at a time, so that span is unambiguous.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    trace: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self.trace_id: int | None = None

    def describe_jobs(self, sc) -> None:
        """Tag Spark jobs with the open span's name from now on."""
        self._sc = sc

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, time.time(), None, parent,
                 self.trace_id, attrs)
        self.spans.append(s)
        self._stack.append(s)
        if self._sc is not None:
            self._sc.setJobDescription(name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._sc is not None:
                self._sc.setJobDescription(
                    self._stack[-1].name if self._stack else None)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end is not None]

    def walls(self, name: str) -> list[float]:
        return [s.wall for s in self.named(name)]

    def self_time(self, s: Span) -> float:
        """Span wall minus the part of its interval its children cover."""
        kids = sorted((c.start, c.end) for c in self.spans
                      if c.parent == s.id and c.end is not None)
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in kids:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return s.wall - covered

    def dump(self, path: str, jobs: list[dict] | None = None) -> None:
        rows = []
        for s in self.spans:
            d = asdict(s)
            d["self_s"] = self.self_time(s) if s.end is not None else None
            rows.append(d)
        with open(path, "w") as f:
            json.dump({"spans": rows, "jobs": jobs or []}, f, indent=1)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

#: stage accumulables of the Python/Arrow boundary (SQL metrics of the
#: ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas operators)
_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_BACK = "data returned from Python workers"

COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
            "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
            "python_worker_s", "to_python_mb", "from_python_mb")


def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """The uncompressed event log of ``app_id``: a single file, or the
    ``events_*`` parts of a rolling ``eventlog_v2_*`` directory."""
    rolled = sorted(glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}*",
                                           "events_*")),
                    key=lambda p: int(os.path.basename(p).split("_")[1]))
    if rolled:
        return rolled
    single = glob.glob(os.path.join(log_dir, f"{app_id}*"))
    if not single:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return single


def read_jobs(paths: list[str]) -> list[dict]:
    """One dict per job: submission/completion time (epoch s),
    description, and the counters summed over its stages and tasks."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = dict(
                        {c: 0.0 for c in COUNTERS}, id=jid,
                        submit=ev["Submission Time"] / 1000.0, end=None,
                        description=props.get("spark.job.description"),
                        jobs=1)
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = (
                            ev["Completion Time"] / 1000.0)
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["tasks"] += 1
                    job["executor_run_s"] += m["Executor Run Time"] / 1e3
                    job["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                    job["gc_s"] += m["JVM GC Time"] / 1e3
                    r = m.get("Shuffle Read Metrics", {})
                    job["shuffle_read_mb"] += (
                        r.get("Remote Bytes Read", 0)
                        + r.get("Local Bytes Read", 0)) / 2**20
                    w = m.get("Shuffle Write Metrics", {})
                    job["shuffle_write_mb"] += (
                        w.get("Shuffle Bytes Written", 0) / 2**20)
                    job["spill_mb"] += (m.get("Disk Bytes Spilled", 0)
                                        / 2**20)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    job = jobs.get(stage_job.get(info["Stage ID"]))
                    if job is None:
                        continue
                    job["stages"] += 1
                    for acc in info.get("Accumulables", []):
                        name, val = acc.get("Name"), acc.get("Value")
                        if val is None:
                            continue
                        if name == _PY_TIME:
                            job["python_worker_s"] += float(val) / 1e3
                        elif name == _PY_SENT:
                            job["to_python_mb"] += float(val) / 2**20
                        elif name == _PY_BACK:
                            job["from_python_mb"] += float(val) / 2**20
    return sorted(jobs.values(), key=lambda j: j["submit"])


def attribute(tracer: Tracer, jobs: list[dict]) -> None:
    """Set ``job["span"]`` to the id of the innermost span that was open
    when the job was submitted (None when it ran outside every span)."""
    closed = [s for s in tracer.spans if s.end is not None]
    for job in jobs:
        t = job["submit"]
        best = None
        for s in closed:
            if s.start <= t <= s.end and (best is None
                                          or s.start >= best.start):
                best = s
        job["span"] = best.id if best is not None else None


def subtree(tracer: Tracer, span_id: int) -> set[int]:
    ids, todo = set(), [span_id]
    while todo:
        sid = todo.pop()
        ids.add(sid)
        todo.extend(s.id for s in tracer.spans if s.parent == sid)
    return ids


def counters(tracer: Tracer, jobs: list[dict], span: Span) -> dict:
    """Counters summed over the jobs attributed to ``span`` or any span
    below it."""
    ids = subtree(tracer, span.id)
    out = {c: 0.0 for c in COUNTERS}
    for job in jobs:
        if job.get("span") in ids:
            for c in COUNTERS:
                out[c] += job[c]
    return out
