"""crawl-toy: the wave loop on the synth.py corpus, where fixed per-wave
costs (job scheduling, a 32-partition commit of four tables, manifest
publish, the Bloom update) dominate and per-URL work is small.

One op is one wave, run as one public ``CrawlEngine.run(max_waves=w+1)``
call, which resumes from the committed snapshot. Every wave is checked
against the pure-Python simulator: its crawl_log rows and its url_seen
multiset must equal the golden ones exactly.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import Counter, defaultdict

import layers
from common import InputCache, Tracer, cache_key, median, source_digest

# ≈30k URLs, 400 Zipf hosts; a small per-wave budget, so fixed per-wave
# costs dominate. Engine fields (shuffle_partitions, Bloom sizes, compact_every)
# stay at their CrawlConfig defaults.
PARAMS = dict(n_hosts=400, n_urls=30_000, n_seeds=500, budget_per_wave=1000,
              hot_host_threshold=2000, default_delay_ms=100, window_limit=100)
SMOKE_PARAMS = dict(n_hosts=15, n_urls=800, n_seeds=20, budget_per_wave=120,
                    hot_host_threshold=2000, default_delay_ms=100, window_limit=100)
# waves simulated at set-up; a crawl that reaches it starts over
GOLDEN_WAVES = 10
# timed waves per run, however short the window: a median over one wave
# read too noisy under co-tenant steal of up to 20 %. op_s_p50 leaves out
# wave 0, whose run call also bootstraps the crawl (it took 11-19 s against
# 8-15 s for waves 1-2 of the same runs); items_per_s counts it.
MIN_TIMED_WAVES = 3
LOG_COLS = ("seq", "wave", "canonical_url", "host", "vt", "priority")
# per-layer metrics of layers this workload does not exercise (they report 0)
UNEXERCISED = layers.PLAN_METRICS


def _config(params: dict, seed: int):
    from warc_bench_spark.config import CrawlConfig

    return CrawlConfig(seed=seed, max_waves=GOLDEN_WAVES, **params)


def _key(params: dict, seed: int) -> str:
    from warc_bench_spark import config, simulator, synth
    from warc_bench_spark.functions import urls

    return cache_key("synth.generate_corpus", {**params, "golden_waves": GOLDEN_WAVES}, seed,
                     source_digest(synth, simulator, config, urls))


def _generate(spark, cache: InputCache, key: str, params: dict, seed: int) -> None:
    """Corpus, its parquet tables and the simulator golden, written and
    sealed into the cache entry ``key``. The tables are written by the
    measuring session: a second JVM for them cost more set-up time on this
    VM than the writes themselves."""
    from warc_bench_spark import simulator, synth

    d = cache.reset(key)
    cfg = _config(params, seed)
    corpus = synth.generate_corpus(cfg)
    synth.write_corpus(spark, corpus, d)
    sim = simulator.simulate_crawl(corpus, cfg)
    with open(os.path.join(d, "golden.json"), "w") as f:
        json.dump({"crawl_log": sim.crawl_log, "url_seen": sorted(sim.url_seen.items())}, f)
    cache.seal(key, ["documents", "pages", "seeds", "robots"])


def prepare(spark, cache: InputCache, params: dict, seed: int) -> tuple[str, dict]:
    """Corpus + golden for (params, seed), validated from the cache and
    generated on a miss. Returns (corpus_dir, golden)."""
    key = _key(params, seed)
    if cache.validate(key) is None:
        _generate(spark, cache, key, params, seed)
        if cache.validate(key) is None:
            raise RuntimeError(f"crawl-toy: generating input {key} failed")
    d = cache.path(key)
    with open(os.path.join(d, "golden.json")) as f:
        raw = json.load(f)
    log_by_wave: dict[int, list[tuple]] = defaultdict(list)
    for row in raw["crawl_log"]:
        log_by_wave[row[1]].append(tuple(row))
    seen_by_wave: dict[int, Counter] = defaultdict(Counter)
    for h, w in raw["url_seen"]:
        seen_by_wave[w][h] += 1
    return d, {"log": dict(log_by_wave), "seen": dict(seen_by_wave)}


def check_crawl(eng, waves: list[int], golden: dict) -> dict[int, bool]:
    """wave -> whether its crawl_log rows and url_seen multiset equal the
    golden ones."""
    log: dict[int, list[tuple]] = defaultdict(list)
    for r in eng.crawl_log().collect():
        log[r["wave"]].append(tuple(r[c] for c in LOG_COLS))
    seen: dict[int, Counter] = defaultdict(Counter)
    for r in eng.url_seen().collect():
        seen[r["wave"]][r["url_hash"]] += 1
    return {
        w: bool(golden["log"].get(w)) and log.get(w) == golden["log"][w]
        and seen.get(w) == golden["seen"].get(w)
        for w in waves
    }


def measure(spark, corpus_dir: str, golden: dict, params: dict, seed: int, seconds: float,
            work: str, tracer: Tracer, expect_wrong: bool = False) -> dict:
    """Closed loop: one wave at a time until ``seconds`` have passed and
    at least ``MIN_TIMED_WAVES`` waves are timed; a crawl that drains or
    reaches the golden horizon starts over.

    The warm-up is wave 0 of a crawl of its own: it is checked like every
    wave but not timed. The first wave of a process pays JIT and code
    generation (17-38 s against 7-13 s for later waves), and how much
    depends on what the JVM ran before it: after the corpus writes of a
    cache miss it took 17-21 s, after a hit 25-29 s. The timed crawl then
    starts fresh, so ``items_per_s`` (every admitted URL over the wall time
    from its first ``run`` call to the last return) counts its bootstrap
    and wave 0, on a JVM as warm after a hit as after a miss."""
    from warc_bench_spark.operators.crawl import CrawlEngine

    cfg = _config(params, seed)
    if expect_wrong:  # self-check: a corrupted expected value must fail
        w0 = min(golden["log"])
        golden = {**golden, "log": {**golden["log"], w0: golden["log"][w0][1:]}}
    horizon = min(GOLDEN_WAVES, max(golden["log"]) + 1)
    waves: list[dict] = []
    attempted = failed = admitted = 0
    layer_rows: list[dict] = []
    bootstrap_s: list[float] = []
    t_end = float("inf")  # set when the first timed wave starts
    t_first_op = t_last_return = None
    warm_s = None
    crawl_idx = 0
    broken = False
    while not broken and (time.perf_counter() < t_end or len(waves) < MIN_TIMED_WAVES):
        state = os.path.join(work, "state", f"crawl{crawl_idx}")
        shutil.rmtree(state, ignore_errors=True)
        eng = CrawlEngine(spark, cfg, corpus_dir, state)
        timed = warm_s is not None
        if tracer.enabled and timed:  # run() would bootstrap inside wave 0; time it alone
            group = f"crawl{crawl_idx}:crawl.bootstrap"
            layers.set_group(spark, group)
            with tracer.span("crawl.bootstrap", trace_id=group) as span:
                eng.bootstrap()
            layers.set_group(spark, None)
            bootstrap_s.append(span.duration)
        done: list[int] = []
        for w in range(horizon if timed else 1):
            if time.perf_counter() >= t_end and len(waves) >= MIN_TIMED_WAVES:
                break
            trace_id = f"crawl{crawl_idx}.wave{w}"
            traced = tracer.enabled and timed
            with tracer.span("wave", trace_id=trace_id):
                if traced:
                    td = time.perf_counter()
                    layer_rows.append(layers.decompose_wave(spark, eng, cfg, state, w, work,
                                                            tracer, trace_id))
                    layer_rows[-1]["trace.overhead_s"] = time.perf_counter() - td
                attempted += 1
                t0 = time.perf_counter()
                if timed and t_first_op is None:
                    t_first_op = t0
                    t_end = t0 + seconds
                run_group = f"{trace_id}:crawl.run" if traced else None
                if traced:
                    layer_rows[-1]["groups"][run_group] = "crawl.run"
                try:
                    with tracer.span("crawl.run"):
                        layers.set_group(spark, run_group)
                        stats = eng.run(max_waves=w + 1)
                except Exception as e:  # a failed wave is an op failure, not a crash
                    layers.set_group(spark, None)
                    print(f"[crawl-toy] wave {w} raised {type(e).__name__}: {e}", flush=True)
                    failed += 1
                    broken = True
                    break
                t_return = time.perf_counter()
                layers.set_group(spark, None)
                dt = t_return - t0
            if not stats:  # frontier drained
                attempted -= 1
                if traced:
                    layer_rows.pop()
                break
            done.append(w)
            s = stats[-1]
            if not timed:
                warm_s = dt
                continue
            t_last_return = t_return
            admitted += s.admitted
            waves.append({"crawl": crawl_idx, "wave": w, "s": dt, "admitted": s.admitted,
                          "phases": dict(s.phases)})
            if traced:
                layer_rows[-1]["crawl.run_s"] = dt
                layer_rows[-1]["phases"] = dict(s.phases)
        ok = check_crawl(eng, done, golden)
        for w in done:
            if not ok[w]:
                failed += 1
                print(f"[crawl-toy] crawl {crawl_idx} wave {w}: output differs from golden",
                      flush=True)
        shutil.rmtree(state, ignore_errors=True)
        crawl_idx += 1
    if not waves:
        raise SystemExit("crawl-toy: no wave completed; nothing to report")
    crawl_wall_s = t_last_return - t_first_op
    result = {
        "attempted": attempted,
        "failed": failed,
        "t_first_op": t_first_op,
        "e2e": {
            "op_s_p50": median([w["s"] for w in waves if w["wave"] > 0]),
            "items_per_s": admitted / crawl_wall_s,
        },
        "detail": {"warmup_wave_s": warm_s, "waves": waves, "crawls": crawl_idx,
                   "admitted": admitted, "crawl_wall_s": crawl_wall_s},
    }
    if tracer.enabled:
        result["layers"] = layers.summarize_crawl(spark, layer_rows)
        result["layers"]["crawl.bootstrap_s"] = median(bootstrap_s)
    return result
