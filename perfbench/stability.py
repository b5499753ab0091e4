"""Run-to-run spread of the benchmark's end-to-end metrics.

    python3 perfbench/stability.py [--workloads a,b] [--seeds 1,2,...]
                                   [--seconds N] [--out FILE]

Runs ``perfbench/run.py`` once per (workload, seed), one run at a time,
and prints for every end-to-end metric the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread, the distance
between the quartiles as a share of the median.  ``--out`` also writes
the figures as JSON.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_once(workload: str, seed: int, seconds: float, trace: int = 0) -> dict:
    """Run the benchmark once; returns the result object plus the
    REPORT object under ``"report"``."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if not lines or not lines[-1].startswith("{"):
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}"
                           f" without a result:\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    reports = [ln for ln in lines if ln.startswith("REPORT ")]
    result["report"] = json.loads(reports[-1][len("REPORT "):])
    result["exit"] = proc.returncode
    return result


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values),
            "n": len(values)}


def main() -> None:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1,2,3,4,5,6,7,8,9,10")
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--out")
    args = ap.parse_args()

    names = [m["name"] for m in bench["end_to_end"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out: dict = {"run_seconds": args.seconds, "env": None, "workloads": {}}
    for wl in args.workloads.split(","):
        values: dict[str, list[float]] = {n: [] for n in names}
        walls, runs, correct = [], [], True
        for seed in (int(s) for s in args.seeds.split(",")):
            t0 = time.time()
            r = run_once(wl, seed, args.seconds)
            walls.append(time.time() - t0)
            if out["env"] is None:
                out["env"] = {k: v for k, v in r["report"]["env"].items()
                              if k not in ("seed", "session")}
            correct &= r["correct"] and r["exit"] == 0
            runs.append({"seed": seed, "wall_s": walls[-1],
                         **{k: r["report"][k] for k in
                            ("op_walls_s", "op_steal", "steal", "setup_runs_s")}})
            for n in names:
                values[n].append(r["metrics"][n]["value"])
            print(f"{wl} seed {seed}: {time.time() - t0:.1f}s "
                  + " ".join(f"{n}={values[n][-1]:.4g}" for n in names),
                  flush=True)
        out["workloads"][wl] = {
            "correct": correct, "seeds": args.seeds,
            "run_wall_s": summarize(walls),
            "metrics": {n: summarize(values[n]) for n in names},
            "values": values, "runs": runs}
        for n in names:
            s = out["workloads"][wl]["metrics"][n]
            flag = "" if s["spread"] < bounds[n] / 3 else "  <-- above bound/3"
            print(f"  {n:16s} median {s['median']:.4g}  q1 {s['q1']:.4g}  "
                  f"q3 {s['q3']:.4g}  spread {s['spread']:.3f}"
                  f" (bound {bounds[n]}){flag}", flush=True)
    if args.out:
        Path(args.out).write_text(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
