"""registry: short plans from every ``warc_bench_spark.plans`` module on the
committed sf0.001 tables, each checked against its DuckDB ``oracle_sql()``.

The session layer is shared with the crawl but used for many short plans,
so a session default that helps the crawl but hurts cheap queries shows
here. One op is one query (plan build + collect). The input tables are
fixed, so the seed does not change them.
"""

from __future__ import annotations

import math
import os
import pickle
import time
from collections import defaultdict

import layers
from common import InputCache, Tracer, cache_key, median, sha256_file, tree_digest

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings")
PER_MODULE = 1  # first oracle-checked query of each plans module, in registry order
# timed runs of every query per run, however short the window: the median
# of one run per query read too noisy under co-tenant steal
MIN_TIMED_PASSES = 2
# per-layer metrics of layers this workload does not exercise (they report 0)
UNEXERCISED = layers.CRAWL_METRICS


def subset(registry: dict) -> list[str]:
    taken: dict[str, int] = defaultdict(int)
    names = []
    for name, q in registry.items():
        module = q.fn.__module__.rsplit(".", 1)[-1]
        if q.sql is not None and taken[module] < PER_MODULE:
            taken[module] += 1
            names.append(name)
    return names


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    return v


def multiset(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Order-insensitive form of a result: columns sorted by name, floats
    rounded to 9 digits, rows sorted (the repo's oracle comparison)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in idx], sorted(tuple(_norm(r[i]) for i in idx) for r in rows)


def validate_data() -> None:
    """The committed tables must match their committed manifest."""
    import json

    from common import parquet_rows

    with open(os.path.join(DATA, "MANIFEST.json")) as f:
        manifest = json.load(f)
    if tree_digest(DATA) != manifest["files"]:
        raise RuntimeError("registry input tables differ from data/sf0.001/MANIFEST.json")
    for t, rows in manifest["rows"].items():
        if parquet_rows(os.path.join(DATA, f"{t}.parquet")) != rows:
            raise RuntimeError(f"registry table {t}: row count differs from its manifest")


def expected(cache: InputCache, names: list[str], sql: dict[str, str]) -> dict:
    """DuckDB oracle results per query, keyed by (query SQL, input data)."""
    import duckdb

    key = cache_key("duckdb.oracle_sql", {n: sql[n] for n in names}, 0,
                    sha256_file(os.path.join(DATA, "MANIFEST.json"))[:16])
    path = os.path.join(cache.path(key), "expected.pkl")
    if cache.validate(key) is None:
        d = cache.reset(key)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(DATA, t)}.parquet'")
        out = {}
        for n in names:
            res = con.execute(sql[n])
            out[n] = multiset([c[0] for c in res.description], [tuple(r) for r in res.fetchall()])
        con.close()
        with open(os.path.join(d, "expected.pkl"), "wb") as f:
            pickle.dump(out, f)
        cache.seal(key, [])
    with open(path, "rb") as f:  # written by this benchmark, validated above
        return pickle.load(f)


def load_registry():
    import __spark_entry__ as entry

    return entry.REGISTRY, entry.oracle_sql()


def _run(spark, registry: dict, name: str) -> tuple[list[str], list[tuple]]:
    df = registry[name].fn(spark, DATA)
    return df.columns, [tuple(r) for r in df.collect()]


def measure(spark, names: list[str], want: dict, seconds: float, tracer: Tracer,
            expect_wrong: bool = False) -> dict:
    """Closed loop: one query at a time, round-robin over ``names``, until
    ``seconds`` have passed and every query has ``MIN_TIMED_PASSES`` timed
    runs (so the query mix never depends on how far the window reached).

    The warm-up comes first: one untimed run of every query, issued from
    one thread per query at once, and checked like every other run. A
    query's first run in a process pays code generation and Python-worker
    start (measured 1.5-10 s against 1-2 s later), which would otherwise
    swamp the samples; run one after another those first runs took 24-39 s
    here."""
    from concurrent.futures import ThreadPoolExecutor

    registry, _ = load_registry()
    if expect_wrong:  # self-check: a corrupted expected value must fail
        cols, rows = want[names[0]]
        want = {**want, names[0]: (cols, rows[1:] if rows else [("corrupt",)])}
    attempted = failed = 0

    def check(name: str, cols: list[str], rows: list[tuple]) -> None:
        nonlocal failed
        if multiset(cols, rows) != want[name]:
            failed += 1
            print(f"[registry] {name}: result differs from the DuckDB oracle", flush=True)

    t_warm = time.perf_counter()
    with ThreadPoolExecutor(max_workers=len(names)) as pool:
        warm = {n: pool.submit(_run, spark, registry, n) for n in names}
    for name, fut in warm.items():
        attempted += 1
        try:
            check(name, *fut.result())
        except Exception as e:  # a failed query is an op failure, not a crash
            print(f"[registry] {name} raised {type(e).__name__}: {e}", flush=True)
            failed += 1
    warm_s = time.perf_counter() - t_warm

    samples: list[tuple[str, float]] = []
    t_loop = time.perf_counter()
    t_end = t_loop + seconds
    i = 0
    while i < MIN_TIMED_PASSES * len(names) or time.perf_counter() < t_end:
        name = names[i % len(names)]
        module = registry[name].fn.__module__.rsplit(".", 1)[-1]
        attempted += 1
        trace_id = f"op{i}.{name}"
        try:
            with tracer.span("query", trace_id=trace_id):
                layers.set_group(spark, trace_id if tracer.enabled else None)
                t0 = time.perf_counter()
                with tracer.span(f"plans.{module}"):
                    cols, rows = _run(spark, registry, name)
                dt = time.perf_counter() - t0
            samples.append((name, dt))
            check(name, cols, rows)
        except Exception as e:  # a failed query is an op failure, not a crash
            print(f"[registry] {name} raised {type(e).__name__}: {e}", flush=True)
            failed += 1
        i += 1
    loop_s = time.perf_counter() - t_loop
    layers.set_group(spark, None)
    if not samples:
        raise SystemExit("registry: no timed query completed; nothing to report")
    per_query: dict[str, list[float]] = defaultdict(list)
    for n, dt in samples:
        per_query[n].append(dt)
    # each query weighs once, however many times the loop reached it
    med = {n: median(v) for n, v in per_query.items()}
    op_s = [dt for _, dt in samples]
    result = {
        "attempted": attempted,
        "failed": failed,
        "t_first_op": t_loop,
        "e2e": {"op_s_p50": median(list(med.values())),
                "items_per_s": len(med) / sum(med.values())},
        "detail": {"warmup_s": warm_s, "samples": samples, "loop_s": loop_s},
    }
    if tracer.enabled:
        by_module: dict[str, float] = {}
        for n, v in med.items():
            m = registry[n].fn.__module__.rsplit(".", 1)[-1]
            by_module[m] = by_module.get(m, 0.0) + v
        result["layers"] = {f"plans.{m}.busy_s": by_module[m] for m in layers.PLAN_MODULES}
        result["layers"]["trace.overhead_s"] = (loop_s - sum(op_s)) / max(len(op_s), 1)
    return result
