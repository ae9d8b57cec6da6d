"""Per-layer decomposition for traced runs.

Spark is lazy: calling a layer function only builds a plan. So before each
traced wave this module reads the wave's committed inputs through
``SnapshotStore.read_table``, materializes them, and forces each layer
call's output on its own, each tagged with its own Spark job group and
wrapped in a span. Outputs are cached and counted rather than sent to the
``noop`` sink, so that the next layer reads its input materialized and its
time stays its own. The job groups'
task metrics are read from the SparkContext status store after the run.

Layers are the package modules:
  functions.urls        canonicalize_udf, host_from_canonical_col, url_hash_col
  operators.dedup       not_seen_exact, not_seen_bloom, BloomStore.update
  operators.politeness  schedule_wave
  operators.extract     extract_outlinks (with the fetch joins that feed it)
  state                 SnapshotStore.write_table / write_local_table / publish
  crawl                 the engine's own wave minus the isolated layers above
"""

from __future__ import annotations

import os
import shutil

from common import group_python_bytes, group_task_metrics, median

PLAN_MODULES = ("relational", "relational2", "similarity_text", "evalmetrics", "archives",
                "domtree", "scheduling", "media")
PHASES = ("schedule_seen_write", "expand_frontier_write", "log_write",
          "metrics_publish", "filter_update")
PLAN_METRICS = tuple(f"plans.{m}.busy_s" for m in PLAN_MODULES)
# the per-layer metrics of a traced crawl (the session and trace metrics aside)
CRAWL_METRICS = (
    "urls.busy_s", "urls.rows_in", "urls.rows_out", "urls.py_bytes",
    "dedup.busy_s", "dedup.rows_in", "dedup.rows_out", "dedup.shuffle_bytes",
    "dedup.bloom_maybe", "dedup.bloom_fp_rate", "dedup.filter_update_s", "dedup.filter_bytes",
    "politeness.busy_s", "politeness.rows", "politeness.hot_hosts",
    "politeness.shuffle_bytes", "politeness.spill_bytes",
    "extract.busy_s", "extract.links_out",
    "state.write_s", "state.publish_s", "state.bytes_written", "state.files_written",
    "crawl.bootstrap_s", "crawl.frontier_rows", "crawl.spark_jobs_per_wave", "crawl.self_s",
    "crawl.phase.schedule_seen_write_s", "crawl.phase.expand_frontier_write_s",
    "crawl.phase.log_write_s", "crawl.phase.metrics_publish_s", "crawl.phase.filter_update_s",
)


def set_group(spark, group: str | None) -> None:
    sc = spark.sparkContext
    if group is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    else:
        sc.setJobGroup(group, group)


def _timed(spark, tracer, trace_id: str, layer: str, fn, groups: dict):
    group = f"{trace_id}:{layer}"
    groups[group] = layer
    set_group(spark, group)
    with tracer.span(layer) as span:
        out = fn()
    set_group(spark, None)
    return out, span.duration


def _dir_bytes_files(root: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for d, _dirs, files in os.walk(root):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(d, f))
            n_files += 1
    return n_bytes, n_files


def decompose_wave(spark, eng, cfg, state_dir: str, wave: int, work: str, tracer,
                   trace_id: str) -> dict:
    """Force each layer of wave ``wave`` alone on the wave's committed
    inputs; returns that wave's per-layer row."""
    import pyarrow as pa
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from warc_bench_spark.functions.urls import (
        canonicalize_udf,
        host_from_canonical_col,
        url_hash_col,
    )
    from warc_bench_spark.operators.dedup import (
        BloomStore,
        bloom_maybe_udf,
        is_binary_key,
        not_seen_bloom,
        not_seen_exact,
    )
    from warc_bench_spark.operators.extract import extract_outlinks
    from warc_bench_spark.operators.politeness import schedule_wave
    from warc_bench_spark.state import SnapshotStore

    row: dict = {"groups": {}}
    groups = row["groups"]
    eng.bootstrap()  # wave 0's input is the bootstrap snapshot
    store = eng.store
    set_group(spark, f"{trace_id}:inputs")
    frontier = store.read_table(spark, "frontier").persist()
    seen = store.read_table(spark, "url_seen")
    if seen is None:
        key_t = "binary" if cfg.binary_url_hash else "string"
        seen = spark.createDataFrame([], f"url_hash {key_t}, canonical_url string, wave int")
    seen = seen.persist()
    n_frontier = frontier.count()
    seen.count()
    set_group(spark, None)
    shards, _stamp = BloomStore(state_dir, cfg).load(up_to_wave=wave)

    # dedup: the engine's prefilter + exact residue (exact alone at wave 0)
    def dedup():
        if shards:
            c = not_seen_bloom(spark, frontier, seen, cfg, shards=shards)
        else:
            c = not_seen_exact(frontier, seen)
        c = c.persist()
        return c, c.count()

    (cand, n_cand), t = _timed(spark, tracer, trace_id, "dedup", dedup, groups)
    row.update({"crawl.frontier_rows": n_frontier, "dedup.busy_s": t,
                "dedup.rows_in": n_frontier, "dedup.rows_out": n_cand})

    # measured Bloom false-positive rate (untimed): maybe-flags among
    # probed candidates that are not in the seen set
    maybe_n = fp_n = unseen_n = 0
    if shards:
        set_group(spark, f"{trace_id}:probe")
        maybe = bloom_maybe_udf(spark, shards, cfg, binary=is_binary_key(frontier))
        marks = seen.select("url_hash").distinct().withColumn("_in_seen", F.lit(True))
        r = (
            frontier.withColumn("_maybe", maybe(F.col("url_hash")))
            .join(marks, "url_hash", "left")
            .agg(
                F.sum(F.col("_maybe").cast("long")).alias("maybe"),
                F.sum((F.col("_maybe") & F.col("_in_seen").isNull()).cast("long")).alias("fp"),
                F.sum(F.col("_in_seen").isNull().cast("long")).alias("unseen"),
            )
            .collect()[0]
        )
        maybe_n, fp_n, unseen_n = (int(r[k] or 0) for k in ("maybe", "fp", "unseen"))
        set_group(spark, None)
    row.update({"dedup.bloom_maybe": maybe_n,
                "dedup.bloom_fp_rate": fp_n / unseen_n if unseen_n else 0.0})

    # politeness: per-host virtual-time schedule (engine's hot-host rule)
    def politeness():
        hot = (frontier.groupBy("host").agg(F.count(F.lit(1)).alias("_pending"))
               .filter(F.col("_pending") > cfg.hot_host_threshold).select("host"))
        s = schedule_wave(cand, eng.robots, cfg, force=eng.force_rank, hot_hosts=hot).persist()
        return s, s.count(), hot.count()

    (sched, n_sched, n_hot), t = _timed(spark, tracer, trace_id, "politeness", politeness,
                                        groups)
    row.update({"politeness.busy_s": t, "politeness.rows": n_sched,
                "politeness.hot_hosts": n_hot})

    # admission belongs to the engine (crawl layer): top budget, seq order
    set_group(spark, f"{trace_id}:admit")
    order = [F.col("vt").asc(), F.col("priority").asc(), F.col("url_hash").asc()]
    admitted = (sched.orderBy(*order).limit(cfg.budget_per_wave)
                .withColumn("seq", F.row_number().over(Window.orderBy(*order))).persist())
    admitted.count()
    set_group(spark, None)

    # extract: fetch joins + span explode + URL regexp
    def extract():
        fetched = F.broadcast(admitted.select("canonical_url", "priority")).join(
            eng.pages.select("canonical_url", "doc_id"), "canonical_url")
        docs = fetched.join(eng.documents, "doc_id")
        links = extract_outlinks(docs.select("doc_id", "priority", "spans")).persist()
        return links, links.count()

    (links, n_links), t = _timed(spark, tracer, trace_id, "extract", extract, groups)
    row.update({"extract.busy_s": t, "extract.links_out": n_links})

    # urls: canonicalize UDF (the Python boundary) + JVM host and hash
    def urls():
        ident = (links.withColumn("canonical_url", canonicalize_udf(F.col("raw_url")))
                 .filter(F.col("canonical_url").isNotNull())
                 .withColumn("host", host_from_canonical_col(F.col("canonical_url")))
                 .withColumn("url_hash", url_hash_col(F.col("canonical_url"),
                                                      binary=cfg.binary_url_hash)))
        return ident.select(F.count(F.lit(1))).collect()[0][0]

    n_canon, t = _timed(spark, tracer, trace_id, "urls", urls, groups)
    row.update({"urls.busy_s": t, "urls.rows_in": n_links, "urls.rows_out": n_canon})

    # state: this wave's deltas committed into a scratch snapshot store
    scratch = os.path.join(work, "trace_state")
    shutil.rmtree(scratch, ignore_errors=True)
    sstore = SnapshotStore(scratch)
    log_delta = admitted.select(F.col("seq").cast("long"), F.lit(wave).alias("wave"),
                                "canonical_url", "host", F.col("vt").cast("long"),
                                F.col("priority").cast("int"))
    seen_delta = admitted.select("url_hash", "canonical_url", F.lit(wave).alias("wave"))

    def write():
        rels = {"url_seen": sstore.write_table("url_seen", seen_delta, wave + 1),
                "crawl_log": sstore.write_table("crawl_log", log_delta, wave + 1)}
        tbl = pa.table({"wave": pa.array([wave], pa.int32()), "metric": ["admitted"],
                        "key": pa.array([None], pa.string()),
                        "value": pa.array([n_sched], pa.int64())})
        rels["metrics"] = sstore.write_local_table("metrics", tbl, wave + 1)
        return rels

    rels, t_write = _timed(spark, tracer, trace_id, "state.write", write, groups)
    _, t_pub = _timed(spark, tracer, trace_id, "state.publish",
                      lambda: sstore.publish(wave + 1, {}, rels, {"next_wave": wave + 1}),
                      groups)
    n_bytes, n_files = _dir_bytes_files(scratch)
    row.update({"state.write_s": t_write, "state.publish_s": t_pub,
                "state.bytes_written": n_bytes, "state.files_written": n_files})

    # dedup filter update: OR this wave's delta into a scratch shard store
    bdir = os.path.join(work, "trace_bloom")
    shutil.rmtree(bdir, ignore_errors=True)
    bstore = BloomStore(bdir, cfg)
    _, t = _timed(spark, tracer, trace_id, "dedup.filter_update",
                  lambda: bstore.update(shards, seen_delta, wave), groups)
    row.update({"dedup.filter_update_s": t, "dedup.filter_bytes": _dir_bytes_files(bdir)[0]})

    for df in (frontier, seen, cand, sched, admitted, links):
        df.unpersist()
    shutil.rmtree(scratch, ignore_errors=True)
    shutil.rmtree(bdir, ignore_errors=True)
    return row


def _group_sums(spark, rows: list[dict]) -> list[dict]:
    """Per wave row, per layer: task CPU time, shuffle bytes, spill bytes,
    Python bytes."""
    all_groups = {g for r in rows for g in r["groups"]}
    if not all_groups:
        return [{} for _ in rows]
    task = group_task_metrics(spark, all_groups)
    try:
        py = group_python_bytes(spark, all_groups)
    except Exception as e:  # the SQL store layout is version-specific
        print(f"[trace] python-bytes metrics unavailable: {type(e).__name__}: {e}", flush=True)
        py = {g: 0 for g in all_groups}
    out = []
    for r in rows:
        per: dict[str, dict] = {}
        for g, layer in r["groups"].items():
            m = per.setdefault(layer, {"jobs": 0, "cpu_s": 0.0, "shuffle": 0, "spill": 0,
                                       "py": 0})
            m["jobs"] += task[g]["jobs"]
            m["cpu_s"] += task[g]["cpu_s"]
            m["shuffle"] += task[g]["shuffle_read_bytes"] + task[g]["shuffle_write_bytes"]
            m["spill"] += task[g]["spill_bytes"]
            m["py"] += py[g]
        out.append(per)
    return out


def summarize_crawl(spark, rows: list[dict]) -> dict:
    """Per-layer metrics of a traced crawl run: medians over traced waves."""
    sums = _group_sums(spark, rows)
    for r, per in zip(rows, sums):
        r["urls.py_bytes"] = per["urls"]["py"]
        r["dedup.shuffle_bytes"] = per["dedup"]["shuffle"]
        r["politeness.shuffle_bytes"] = per["politeness"]["shuffle"]
        r["politeness.spill_bytes"] = per["politeness"]["spill"]
        r["crawl.spark_jobs_per_wave"] = per["crawl.run"]["jobs"]
        for layer in ("urls", "dedup", "politeness", "extract"):
            # task CPU time: in the record only (BENCHMARK.json does not list it)
            r[f"{layer}.cpu_s"] = per[layer]["cpu_s"]
        isolated = (r["urls.busy_s"] + r["dedup.busy_s"] + r["politeness.busy_s"]
                    + r["extract.busy_s"] + r["state.write_s"] + r["state.publish_s"]
                    + r["dedup.filter_update_s"])
        r["crawl.self_s"] = r["crawl.run_s"] - isolated
        for p in PHASES:
            # a phase the engine no longer has took no time
            r[f"crawl.phase.{p}_s"] = r["phases"].get(p, 0.0)
    keys = [k for k in rows[0] if k not in ("groups", "phases", "crawl.run_s")]
    return {k: median([r[k] for r in rows]) for k in keys}
