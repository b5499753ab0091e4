"""Metric names, and the per-layer metrics of a traced run.

``END_TO_END`` and ``PER_LAYER`` are the metric lists of
``BENCHMARK.json``.  Per-layer values are medians over the spans of one
run: the Spark counters over each measured operation (the jobs
attributed to its span tree), and for each layer span its wall time
and the counters of the jobs submitted while it was the innermost open
span.  A layer the workload does not exercise reads 0.
"""

from __future__ import annotations

import statistics

from .trace import COUNTERS, Tracer, attribute, counters, event_log_files, read_jobs

END_TO_END = ("setup_s", "op_s", "cpu_s_per_mrow", "live_mem_mb")

_COUNTER_UNITS = {"jobs": "count", "stages": "count", "tasks": "count"}

_DATASET = ("uniqueness", "referential", "ordering", "profile_drift")

PER_LAYER: tuple[tuple[str, str, str], ...] = (
    *((c, _COUNTER_UNITS.get(c, "s" if c.endswith("_s") else "MB"), "lower")
      for c in COUNTERS),
    ("dsl.expand_validate_s", "s", "lower"),
    ("engine.construct_s", "s", "lower"),
    ("engine.annotate_plan_s", "s", "lower"),
    ("engine.project_s", "s", "lower"),
    ("engine.project_cpu_s", "s", "lower"),
    ("sources.scan_s", "s", "lower"),
    *((f"operators.dataset.{d}_{k}", u, "lower") for d in _DATASET
      for k, u in (("s", "s"), ("shuffle_mb", "MB"), ("cpu_s", "s"))),
    ("run.execute_s", "s", "lower"),
    ("run.jobs", "count", "lower"),
    ("run.output_files", "count", "lower"),
    ("run.overlap_ratio", "ratio", "higher"),
    ("plans.checkpoint.done_partitions_s", "s", "lower"),
    ("plans.checkpoint.commit_rows_s", "s", "lower"),
    ("plans.checkpoint.read_local_rows_s", "s", "lower"),
    ("plans.checkpoint.files", "count", "lower"),
    ("streaming.runner_s", "s", "lower"),
    ("streaming.dataset_checks_s", "s", "lower"),
    ("streaming.drift_s", "s", "lower"),
    ("streaming.jobs_per_epoch", "count", "lower"),
    ("streaming.state_mb", "MB", "lower"),
    ("operators.pipeline.pack_s", "s", "lower"),
    ("operators.pipeline.pack_python_worker_s", "s", "lower"),
    ("operators.pipeline.pack_shuffle_mb", "MB", "lower"),
    *((f"functions.dedup.{p}_{k}", u, "lower") for p in ("build", "probe")
      for k, u in (("s", "s"), ("jobs", "count"),
                   ("python_worker_s", "s"))),
    ("functions.dedup.store_mb", "MB", "lower"),
)


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(tracer: Tracer, log_dir: str, app_id: str) -> tuple[dict, list]:
    """(metrics by name, attributed jobs) of a traced run whose event log
    is under ``log_dir``."""
    jobs = read_jobs(event_log_files(log_dir, app_id))
    attribute(tracer, jobs)
    v: dict[str, float] = {}

    ops = tracer.named("op")
    per_op = [counters(tracer, jobs, s) for s in ops]
    for c in COUNTERS:
        v[c] = _med(p[c] for p in per_op)

    def spans(name):
        return tracer.named(name)

    def wall(name):
        return _med(s.wall for s in spans(name))

    def counter(name, c):
        return _med(counters(tracer, jobs, s)[c] for s in spans(name))

    def attr(name, key):
        return _med(s.attrs[key] for s in spans(name) if key in s.attrs)

    for layer in ("dsl.expand_validate", "engine.construct",
                  "engine.annotate_plan", "engine.project", "sources.scan"):
        v[f"{layer}_s"] = wall(layer)
    v["engine.project_cpu_s"] = counter("engine.project", "executor_cpu_s")
    for d in _DATASET:
        name = f"operators.dataset.{d}"
        v[f"{name}_s"] = wall(name)
        v[f"{name}_shuffle_mb"] = counter(name, "shuffle_write_mb")
        v[f"{name}_cpu_s"] = counter(name, "executor_cpu_s")

    # run: per operation, summed over its execute calls
    execs = spans("run.execute")
    by_op: dict[int, list] = {}
    for s in execs:
        by_op.setdefault(s.trace, []).append(s)
    v["run.execute_s"] = _med(sum(s.wall for s in ss) for ss in by_op.values())
    v["run.jobs"] = _med(sum(counters(tracer, jobs, s)["jobs"] for s in ss)
                         for ss in by_op.values())
    v["run.output_files"] = attr("run.execute", "output_files")
    decomposed = spans("decomposed")
    first_exec = [ss[0].wall for ss in by_op.values()]
    if decomposed and first_exec:
        kids = [s for s in tracer.spans if s.parent == decomposed[0].id]
        v["run.overlap_ratio"] = sum(s.wall for s in kids) / _med(first_exec)
    else:
        v["run.overlap_ratio"] = 0.0
    for f in ("done_partitions", "commit_rows", "read_local_rows"):
        v[f"plans.checkpoint.{f}_s"] = wall(f"plans.checkpoint.{f}")
    v["plans.checkpoint.files"] = attr("run.execute", "checkpoint_files")

    for cb in ("runner", "dataset_checks", "drift"):
        v[f"streaming.{cb}_s"] = wall(f"streaming.{cb}")
    v["streaming.jobs_per_epoch"] = counter("streaming.epoch", "jobs")
    state = [s.attrs["state_mb"] for s in spans("streaming.epoch")
             if "state_mb" in s.attrs]
    v["streaming.state_mb"] = max(state) if state else 0.0

    v["operators.pipeline.pack_s"] = wall("operators.pipeline.pack")
    v["operators.pipeline.pack_python_worker_s"] = counter(
        "operators.pipeline.pack", "python_worker_s")
    v["operators.pipeline.pack_shuffle_mb"] = counter(
        "operators.pipeline.pack", "shuffle_write_mb")
    for p in ("build", "probe"):
        name = f"functions.dedup.{p}"
        v[f"{name}_s"] = wall(name)
        v[f"{name}_jobs"] = counter(name, "jobs")
        v[f"{name}_python_worker_s"] = counter(name, "python_worker_s")
    v["functions.dedup.store_mb"] = attr("functions.dedup.build", "store_mb")

    units = {n: u for n, u, _ in PER_LAYER}
    if set(v) != set(units):
        raise RuntimeError(f"per-layer names out of sync: {set(v) ^ set(units)}")
    return {n: {"value": v[n], "unit": units[n]} for n, _, _ in PER_LAYER}, jobs
