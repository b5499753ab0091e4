"""cerberus_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload NAME [--seed 42] [--seconds 18]
                             [--trace 0|1]

Run from the root of a checkout.  Each run generates its inputs from
the seed, sets up a host-fitted Spark session several times, primes the
program with one operation on small inputs (``setup_s`` is the median
set-up plus the priming operation), computes the expected outputs with
DuckDB, then runs the workload's operation back to back for
``--seconds`` seconds and checks every result after the last one.  ``--trace 1`` turns on Spark's
uncompressed event log, tags jobs with span names, runs the
decomposed per-layer calls after the measured operations, and reports
the per-layer metrics instead of the end-to-end ones; spans and
attributed jobs are written under ``perfbench/.work/trace/``.

The line before the last is ``REPORT {...}``: the run environment,
every end-to-end figure of the workload by name and unit, and sample
counts.  The last line is the result object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if __name__ == "__main__":
    # the checkout root, not this script's directory, heads the path:
    # perfbench's module names must not shadow top-level modules
    sys.path[0] = str(ROOT)

from perfbench import layers, procstat, session  # noqa: E402
from perfbench.procstat import Sampler  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SETUP_REPS = 3
#: an operation during which the hypervisor stole more than this share
#: of the CPU time is not timed (see ``_run``)
STEAL_MAX = 0.05


def _fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _import_program():
    """Import cerberus_spark from this checkout, never from elsewhere."""
    if not (ROOT / "cerberus_spark" / "__init__.py").is_file():
        _fail(f"no cerberus_spark package under {ROOT}")
    import cerberus_spark

    if Path(cerberus_spark.__file__).resolve().parent != ROOT / "cerberus_spark":
        _fail(f"cerberus_spark imported from {cerberus_spark.__file__}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _import_program()
    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; "
              f"one of {', '.join(WORKLOADS)}")
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    trace = bool(args.trace)
    work = str(ROOT / "perfbench" / ".work" / f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        return _run(args, work, trace)
    finally:
        try:
            session.shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, trace: bool) -> int:
    wl = WORKLOADS[args.workload](args.seed, work)
    tracer = Tracer()

    # -- set-up: a new session that opens the inputs and plans the
    # program's calls, several times (the first also launches the JVM and
    # generates the inputs; the median leaves that out), then one priming
    # operation, the program's first in this JVM.  setup_s is their sum.
    setups = []
    for rep in range(SETUP_REPS):
        session.stop()
        t0 = time.perf_counter()
        if rep == 0:
            wl.prepare()
        spark = session.start(work, trace)
        wl.load(spark)
        setups.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.prime(spark)
    prime_s = time.perf_counter() - t0
    wl.expect()
    env = session.environment(spark, args.seed)
    env["session"] = session.settings(work, trace)

    # -- operations, back to back; each op span holds only the program's
    # calls, and the checks run after the last one.  A workload's warm-up
    # operations come first, checked but not timed.
    checks = []

    def one_op(tr: Tracer, sampler: Sampler | None = None) -> None:
        session.collect_garbage(spark)
        if sampler is not None:
            sampler.begin_op()
        s0 = procstat.steal_ticks()
        try:
            with tr.span("op") as s:
                checks.append(wl.op(spark, tr))
        except Exception as e:  # an operation that raises is failed
            checks.append(_raised(e))
        s.attrs["steal"] = procstat.steal_share(s0, procstat.steal_ticks())
        if sampler is not None:
            sampler.end_op()

    for _ in range(wl.warmup_ops):
        one_op(Tracer())
    if trace:
        tracer.describe_jobs(spark.sparkContext)
    with Sampler(session.jvm_pid(spark)) as sampler:
        cpu0, steal0 = sampler.cpu_s(), procstat.steal_ticks()
        t_start = time.perf_counter()
        while True:
            tracer.trace_id = len(tracer.named("op"))
            one_op(tracer, sampler)
            if (time.perf_counter() - t_start >= args.seconds
                    or wl.exhausted):
                break
        cpu_s = sampler.cpu_s() - cpu0
        steal = procstat.steal_share(steal0, procstat.steal_ticks())
        workers_mb = sampler.workers_mb()
    tracer.trace_id = None
    jvm_mb = session.jvm_live_mb(spark)
    wl.outputs(tracer)

    failures: list[str] = []
    attempted, failed = len(checks), 0
    for i, check in enumerate(checks):
        try:
            bad = check()
        except Exception as e:
            bad = [f"check raised {type(e).__name__}: {e}"]
        if bad:
            failed += 1
            failures.extend(f"op {i}: {b}" for b in bad)
    if trace:
        wl.decomposed(spark, tracer)
    app_id = spark.sparkContext.applicationId
    spark.stop()

    ops = tracer.named("op")
    measured = len(ops)
    # operations during which the hypervisor took the CPUs away for a
    # noticeable share of the time are left out of op_s, unless too few
    # are left
    clean = [o for o in ops if o.attrs["steal"] <= STEAL_MAX]
    timed = clean if len(clean) >= (len(ops) + 1) // 2 else ops
    op_walls = [o.wall for o in ops]
    e2e = {
        "setup_s": (statistics.median(setups) + prime_s, "s"),
        "op_s": (statistics.median(o.wall for o in timed), "s"),
        "rows_per_s": (wl.rows_per_op * len(op_walls) / sum(op_walls),
                       "rows/s"),
        "cpu_s_per_mrow": (cpu_s / (wl.rows_per_op * measured / 1e6), "s"),
        "live_mem_mb": (jvm_mb + workers_mb, "MB"),
        "ops_failed_frac": (failed / attempted, "1"),
    }
    e2e.update(wl.report(tracer))
    report = {
        "workload": wl.name, "env": env,
        "samples": {"setup": len(setups), "warmup_ops": wl.warmup_ops,
                    "ops": measured, "ops_timed": len(timed)},
        "setup_runs_s": setups,
        "prime_s": prime_s,
        "op_walls_s": op_walls,
        "op_steal": [o.attrs["steal"] for o in ops],
        "steal": steal,
        "jvm_live_mb": jvm_mb,
        "workers_op_peak_mb": [b / 2**20 for b in sampler.op_peaks],
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "failures": failures[:20],
    }
    if trace:
        per_layer, jobs = layers.per_layer(
            tracer, os.path.join(work, "eventlog"), app_id)
        report["per_layer"] = per_layer
        out = ROOT / "perfbench" / ".work" / "trace"
        out.mkdir(parents=True, exist_ok=True)
        stem = out / f"{wl.name}-seed{args.seed}"
        tracer.dump(f"{stem}.spans.json", jobs)
        with open(f"{stem}.report.json", "w") as f:
            json.dump(report, f, indent=1)
        metrics = per_layer
    else:
        metrics = {k: report["end_to_end"][k] for k in layers.END_TO_END}
    print("REPORT " + json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def _raised(e: Exception):
    def check() -> list[str]:
        return [f"{type(e).__name__}: {e}"]
    return check


if __name__ == "__main__":
    sys.exit(main())
