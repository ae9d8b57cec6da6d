#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each end-to-end metric's
median, quartiles and spread (interquartile distance ÷ median) against the
bound in BENCHMARK.json.

    python3 perfbench/steady.py --seeds 1-10 [--workload crawl-toy] [--out FILE]

A spread below a third of the bound prints "ok", one within the bound
"within-bound", a wider one "WIDE".

Runs are sequential, one process at a time. The summary is printed and, with
``--out``, written as JSON (the baseline records under perfbench/baseline/
were made this way).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in text.split(",")]


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3, "spread": (q3 - q1) / q2}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    metrics = spec["end_to_end"]
    summary: dict = {"seconds": spec["run_seconds"], "seeds": args.seeds, "workloads": {}}
    for wl in workloads:
        runs = []
        for seed in args.seeds:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl, "--seed",
                   str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            t0 = time.perf_counter()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            wall = time.perf_counter() - t0
            if p.returncode != 0:
                raise SystemExit(f"{wl} seed {seed} exited {p.returncode}:\n{p.stderr[-3000:]}")
            out = json.loads(p.stdout.strip().splitlines()[-1])
            runs.append({"seed": seed, "wall_s": wall, **out})
            print(f"{wl} seed={seed} wall={wall:.1f}s correct={out['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()),
                  flush=True)
        stats = {}
        for m in metrics:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            stats[m["name"]] = {**spread(vals), "bound": m["bound"]}
        summary["workloads"][wl] = {
            "runs": runs,
            "stats": stats,
            "all_correct": all(r["correct"] for r in runs),
            "wall_s_total": sum(r["wall_s"] for r in runs),
        }
        for name, st in stats.items():
            bound = st["bound"]
            flag = (" ok" if st["spread"] < bound / 3 else
                    " within-bound" if st["spread"] <= bound else " WIDE")
            print(f"  {wl} {name}: median {st['median']:.4g} spread {st['spread']:.3f}"
                  f" bound {bound}{flag}", flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
