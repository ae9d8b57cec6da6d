#!/usr/bin/env python3
"""Self-checks of the benchmark itself.

    python3 perfbench/selfcheck.py            # arithmetic + smoke runs (~10 min)
    python3 perfbench/selfcheck.py --no-spark # arithmetic only (seconds)

* self-time arithmetic on a synthetic span tree;
* the tracer's parent and trace-id bookkeeping;
* a smoke run of each workload, untraced and traced: every metric named in
  BENCHMARK.json is emitted with its unit, and the outputs check correct;
* a smoke run with one expected value corrupted: it must count a failure.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from common import Span, Tracer, covered_length, self_times  # noqa: E402


def check_arithmetic() -> None:
    # root [0,10] with children [1,4] and [3,6] (overlapping) and [8,9];
    # the first child has its own child [2,3]
    spans = [
        Span("root", 0.0, 10.0, "t", 1),
        Span("a", 1.0, 4.0, "t", 2, parent=1),
        Span("b", 3.0, 6.0, "t", 3, parent=1),
        Span("c", 8.0, 9.0, "t", 4, parent=1),
        Span("a1", 2.0, 3.0, "t", 5, parent=2),
    ]
    st = self_times(spans)
    want = {1: 10.0 - 5.0 - 1.0, 2: 3.0 - 1.0, 3: 3.0, 4: 1.0, 5: 1.0}
    for sid, v in want.items():
        if abs(st[sid] - v) > 1e-12:
            raise SystemExit(f"self time of span {sid}: {st[sid]} != {v}")
    if covered_length([(0, 1), (0.5, 2), (3, 4)]) != 3.0:
        raise SystemExit("covered_length of overlapping intervals is wrong")
    tracer = Tracer(enabled=True)
    with tracer.span("wave", trace_id="w0"):
        with tracer.span("dedup"):
            pass
    spans = tracer.to_json()
    if [s["name"] for s in spans] != ["wave", "dedup"] or spans[1]["parent"] != 1 \
            or {s["trace_id"] for s in spans} != {"w0"}:
        raise SystemExit(f"tracer spans malformed: {spans}")
    if Tracer(enabled=False).span("x").__enter__() is not None:
        raise SystemExit("a disabled tracer recorded a span")
    print("arithmetic: ok")


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--smoke", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_smoke(spec: dict) -> None:
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = run(wl, trace)
            if set(out) != {"correct", "attempted", "failed", "metrics"}:
                raise SystemExit(f"{wl}: result keys {sorted(out)}")
            for m in spec[key]:
                got = out["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"] or not isinstance(got["value"], float):
                    raise SystemExit(f"{wl} trace={trace}: metric {m['name']} missing or wrong")
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                raise SystemExit(f"{wl} trace={trace}: smoke run not correct: {out}")
            print(f"smoke {wl} trace={trace}: ok ({out['attempted']} ops)")
        out = run(wl, 0, "--expect-wrong")
        if out["correct"] or out["failed"] < 1:
            raise SystemExit(f"{wl}: a corrupted expected value went unnoticed: {out}")
        print(f"corrupted expectation {wl}: error_rate {out['failed'] / out['attempted']:.3f} > 0")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--no-spark", action="store_true")
    args = ap.parse_args()
    check_arithmetic()
    if not args.no_spark:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            check_smoke(json.load(f))


if __name__ == "__main__":
    main()
