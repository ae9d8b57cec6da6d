#!/usr/bin/env python3
"""Benchmark of warc_bench_spark: one workload per process, one closed-loop
client issuing one op (crawl wave or registry query) at a time on
``local[nproc]``.

    python3 perfbench/run.py --workload crawl-toy --seed 1 --seconds 30 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A full record (host context, Spark conf, per-op times, spans) is written
to ``perfbench/.work/records/``. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("crawl-toy", "registry")


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _isolate_env() -> None:
    """Keep every file the run writes inside the checkout, and measure the
    program's shipped defaults whatever the caller's environment holds."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("PYSPARK_DRIVER_PYTHON", None)
    sys.path.insert(0, ROOT)


def start_session(cores: int):
    """The program's session as shipped: only ``cores`` is passed."""
    from warc_bench_spark.session import get_spark

    spark = get_spark("perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="smallest inputs, one short pass (self-checks)")
    ap.add_argument("--expect-wrong", action="store_true",
                    help="corrupt one expected value; the run must count a failure")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "warc_bench_spark", "__init__.py")):
        print("perfbench: warc_bench_spark/ is missing from this checkout", file=sys.stderr)
        return 2
    _isolate_env()

    import common
    from common import InputCache, PeakRss, Tracer

    spec = _load_spec()
    if args.seconds is None:
        args.seconds = float(spec["run_seconds"])
    cores = len(os.sched_getaffinity(0))
    cache = InputCache(os.path.join(WORK, "cache"))
    tracer = Tracer(enabled=bool(args.trace))
    record: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "smoke": args.smoke,
                    "loadavg_start": common.loadavg(), "memcpy_gbps_start": common.memcpy_gbps()}
    cpu_start = common.cpu_times()
    if args.workload == "crawl-toy":
        import crawl_toy as mod

        params = mod.SMOKE_PARAMS if args.smoke else mod.PARAMS
    else:
        import registry as mod

    with PeakRss() as rss:
        # set-up: session, inputs (generate or validate), golden/oracle load;
        # the workload's warm-up follows inside measure(). setup_s runs from
        # process start to the start of the first timed op.
        ts = time.perf_counter()
        spark = start_session(cores)
        session_s = time.perf_counter() - ts
        work = os.path.join(WORK, "run")
        if args.workload == "crawl-toy":
            corpus_dir, golden = mod.prepare(spark, cache, params, args.seed)
            res = mod.measure(spark, corpus_dir, golden, params, args.seed, args.seconds,
                              work, tracer, expect_wrong=args.expect_wrong)
        else:
            reg, sql = mod.load_registry()
            names = mod.subset(reg)
            mod.validate_data()
            want = mod.expected(cache, names, sql)
            res = mod.measure(spark, names, want, args.seconds, tracer,
                              expect_wrong=args.expect_wrong)
        record["spark_conf"] = dict(spark.sparkContext.getConf().getAll())
        common.stop_jvm(spark)
    peak_mb = rss.peak_mb
    e2e = {"setup_s": res["t_first_op"] - T_PROCESS, **res["e2e"]}
    if args.trace:
        layer = dict(res["layers"])
        layer["session.start_s"] = session_s
        layer["session.peak_rss_mb"] = peak_mb
        unexercised = set(mod.UNEXERCISED)
        both = unexercised & set(layer)
        if both:
            raise RuntimeError(f"{args.workload}: metrics both measured and unexercised: {both}")
        # a layer the workload does not exercise reports 0; any other
        # metric missing from the layer results is an error
        metrics = {m["name"]: {"value": 0.0 if m["name"] in unexercised
                               else float(layer[m["name"]]), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    record.update({
        "host": common.host_context(ROOT),
        "loadavg_end": common.loadavg(),
        "cpu_steal_share": common.steal_share(cpu_start, common.cpu_times()),
        "memcpy_gbps_end": common.memcpy_gbps(),
        "session_start_s": session_s,
        "end_to_end": e2e,
        "peak_rss_mb": peak_mb,
        "error_rate": res["failed"] / res["attempted"],
        "detail": res["detail"],
        "layers": res.get("layers"),
        "spans": tracer.to_json(),
        "metrics": metrics,
    })
    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(
        rec_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"record: {os.path.relpath(rec_path, ROOT)}", flush=True)

    out = {"correct": res["failed"] == 0, "attempted": res["attempted"],
           "failed": res["failed"], "metrics": metrics}
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
