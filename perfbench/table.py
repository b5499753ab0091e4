"""The per-layer table of every workload, with the tracing overhead.

    python3 perfbench/table.py [--seeds 1,2,3] [--out perfbench/LAYERS.md]

For each workload and seed, runs the benchmark untraced and then traced
(``--trace 1``), one run at a time.  Writes a markdown table of the
per-layer metrics (median over the traced runs, layers the workload
does not exercise left out) and of the end-to-end figures of both
modes; the tracing overhead is the traced median minus the untraced
median.
"""

from __future__ import annotations

import argparse
import json
import statistics
from pathlib import Path

from stability import ROOT, run_once


def _fmt(x: float) -> str:
    return f"{x:.4g}"


def main() -> None:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--out", default=str(ROOT / "perfbench" / "LAYERS.md"))
    args = ap.parse_args()
    seeds = [int(s) for s in args.seeds.split(",")]

    lines = ["# Per-layer table", "",
             f"Generated by `python3 perfbench/table.py --seeds {args.seeds}`"
             f" ({args.seconds:g} s per run).  Medians over the seeds; each "
             "seed ran untraced, then traced.", ""]
    env = None
    for wl in (w["name"] for w in bench["workloads"]):
        plain, traced = [], []
        for seed in seeds:
            plain.append(run_once(wl, seed, args.seconds, trace=0))
            traced.append(run_once(wl, seed, args.seconds, trace=1))
        env = env or traced[0]["report"]["env"]
        lines += [f"## {wl}", "",
                  "| end-to-end | unit | untraced | traced | overhead |",
                  "|---|---|---:|---:|---:|"]
        for name, m in plain[0]["report"]["end_to_end"].items():
            a = statistics.median(r["report"]["end_to_end"][name]["value"]
                                  for r in plain)
            b = statistics.median(r["report"]["end_to_end"][name]["value"]
                                  for r in traced)
            share = f" ({100 * (b - a) / a:+.1f}%)" if a else ""
            lines.append(f"| {name} | {m['unit']} | {_fmt(a)} | {_fmt(b)} "
                         f"| {_fmt(b - a)}{share} |")
        lines += ["", "| per-layer (traced) | unit | median | min | max |",
                  "|---|---|---:|---:|---:|"]
        for name, m in traced[0]["metrics"].items():
            vals = [r["metrics"][name]["value"] for r in traced]
            if not any(vals):
                continue
            lines.append(f"| {name} | {m['unit']} | "
                         f"{_fmt(statistics.median(vals))} | "
                         f"{_fmt(min(vals))} | {_fmt(max(vals))} |")
        correct = all(r["correct"] for r in plain + traced)
        ops = [r["attempted"] for r in traced]
        lines += ["", f"Operations per traced run: {ops}; all correct: "
                  f"{correct}.", ""]
        print(f"{wl} done", flush=True)
    lines += ["## Environment", "", "```", json.dumps(
        {k: v for k, v in env.items() if k != "session"}, indent=1), "```",
        ""]
    Path(args.out).write_text("\n".join(lines))


if __name__ == "__main__":
    main()
