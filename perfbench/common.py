"""Shared pieces of the benchmark: statistics, spans, the RSS sampler,
the keyed input cache, host context and Spark status-store readers.

Nothing here imports pyspark at module level, so the self-checks can run
the span and statistics arithmetic without a JVM.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import re
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass

# ----------------------------------------------------------------- statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values))


# ---------------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    trace_id: str
    span_id: int
    parent: int | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans (name, start, end, parent, trace id), written out
    when the run ends. A disabled tracer hands out no-op contexts."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 1

    def span(self, name: str, trace_id: str | None = None):
        return _SpanContext(self, name, trace_id)

    def _open(self, name: str, trace_id: str | None) -> Span:
        parent = self._stack[-1] if self._stack else None
        tid = trace_id or (parent.trace_id if parent else name)
        s = Span(name, time.perf_counter(), 0.0, tid, self._next_id,
                 parent.span_id if parent else None)
        self._next_id += 1
        self._stack.append(s)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.pop()
        self.spans.append(s)

    def to_json(self) -> list[dict]:
        own = self_times(self.spans)
        return [
            {"name": s.name, "start": s.start, "end": s.end, "trace_id": s.trace_id,
             "span_id": s.span_id, "parent": s.parent, "self_s": own[s.span_id]}
            for s in sorted(self.spans, key=lambda s: s.span_id)
        ]


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str, trace_id: str | None):
        self.tracer, self.name, self.trace_id = tracer, name, trace_id
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        if self.tracer.enabled:
            self.span = self.tracer._open(self.name, self.trace_id)
        return self.span

    def __exit__(self, *exc) -> None:
        if self.span is not None:
            self.tracer._close(self.span)


def covered_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        kids = [(max(a, s.start), min(b, s.end)) for a, b in children.get(s.span_id, [])]
        out[s.span_id] = s.duration - covered_length([k for k in kids if k[1] > k[0]])
    return out


# --------------------------------------------------------------- process RSS


def _tree_rss_bytes(root_pid: int) -> int:
    """RSS of ``root_pid`` and all its descendants (JVM, Python workers)."""
    parent_of: dict[int, int] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        pid = int(name)
        parent_of[pid] = int(fields[1])
        rss[pid] = int(fields[21]) * page
    tree, frontier = {root_pid}, [root_pid]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent_of.items():
        children.setdefault(ppid, []).append(pid)
    while frontier:
        for c in children.get(frontier.pop(), []):
            if c not in tree:
                tree.add(c)
                frontier.append(c)
    return sum(rss.get(p, 0) for p in tree)


class PeakRss:
    """Samples the process tree's RSS on a thread; ``peak_mb`` is the max."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


# ------------------------------------------------------------ keyed cache


def sha256_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def tree_digest(root: str) -> dict[str, str]:
    """relative path -> sha256 for every data file under ``root`` (the
    manifest itself, Spark's ``_SUCCESS`` markers and ``.crc`` side files
    excluded)."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")) or f == "MANIFEST.json":
                continue
            full = os.path.join(d, f)
            out[os.path.relpath(full, root)] = sha256_file(full)
    return dict(sorted(out.items()))


def parquet_rows(root: str) -> int:
    import pyarrow.parquet as pq

    if os.path.isfile(root):
        return pq.read_metadata(root).num_rows
    n = 0
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                n += pq.read_metadata(os.path.join(d, f)).num_rows
    return n


def source_digest(*modules) -> str:
    """Digest of the generator's own source, so a changed generator never
    reuses inputs made by the old one."""
    h = hashlib.sha256()
    for m in modules:
        with open(m.__file__, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def cache_key(generator: str, params: dict, seed: int, code: str) -> str:
    blob = json.dumps({"generator": generator, "params": params, "seed": seed, "code": code},
                      sort_keys=True)
    return f"{generator}-s{seed}-{hashlib.sha256(blob.encode()).hexdigest()[:16]}"


class InputCache:
    """Inputs keyed by (generator, parameters, seed, generator source).

    An entry is a directory with a ``MANIFEST.json`` written last, listing
    each data file's sha256 and each table's row count. On reuse every file
    is re-hashed and every row count re-read; any mismatch (or a missing
    manifest) discards the entry and the caller regenerates it."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, key: str) -> str:
        return os.path.join(self.root, key)

    def validate(self, key: str) -> dict | None:
        d = self.path(key)
        try:
            with open(os.path.join(d, "MANIFEST.json")) as f:
                manifest = json.load(f)
        except (OSError, json.JSONDecodeError):
            return None
        if tree_digest(d) != manifest["files"]:
            return None
        for table, rows in manifest["rows"].items():
            if parquet_rows(os.path.join(d, table)) != rows:
                return None
        return manifest

    def reset(self, key: str) -> str:
        import shutil

        d = self.path(key)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    def seal(self, key: str, tables: list[str]) -> None:
        d = self.path(key)
        manifest = {
            "key": key,
            "files": tree_digest(d),
            "rows": {t: parquet_rows(os.path.join(d, t)) for t in tables},
        }
        tmp = os.path.join(d, ".MANIFEST.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.rename(tmp, os.path.join(d, "MANIFEST.json"))


# ------------------------------------------------------------ host context


def memcpy_gbps() -> float:
    import numpy as np

    src = np.ones(32 * 1024 * 1024 // 8)
    dst = np.empty_like(src)
    dst.fill(0.0)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        np.copyto(dst, src)
        best = min(best, time.perf_counter() - t0)
    return round(2 * src.nbytes / best / 1e9, 2)


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(start, end)]
    return d[7] / sum(d) if sum(d) else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def host_context(root: str) -> dict:
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    try:
        java = subprocess.run(["java", "-version"], capture_output=True, text=True,
                              timeout=30).stderr.splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        java = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": java,
        "commit": _commit(root),
    }


def _commit(root: str) -> str | None:
    """HEAD of the checkout, read from .git without running git; None when
    the checkout is not a git repository."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


# ------------------------------------------------------------------- Spark


def stop_jvm(spark) -> None:
    """Stop the session, then end the gateway JVM (and with it the Python
    workers) and wait for it: the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


# ------------------------------------------------ Spark status-store readers


_SIZE_RE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_SIZE_MULT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_size(text: str) -> int:
    """First size in a Spark SQL metric string ('total (min, med, max)\\n
    1.2 MiB (...)' or '1.2 MiB') as bytes; 0 if there is none."""
    m = _SIZE_RE.search(text.split("\n", 1)[-1])
    if not m:
        return 0
    return int(float(m.group(1).replace(",", "")) * _SIZE_MULT[m.group(2)])


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def group_task_metrics(spark, groups: set[str]) -> dict[str, dict[str, float]]:
    """Per job group: the number of Spark jobs, and task CPU time, shuffle
    read/write and spill bytes summed over every stage of every job in the
    group, read from the SparkContext's status store."""
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    out = {g: {"jobs": 0, "cpu_s": 0.0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0} for g in groups}
    stage_group: dict[int, str] = {}
    for job in _seq(store.jobsList(None)):
        g = job.jobGroup()
        if g.isDefined() and g.get() in groups:
            out[g.get()]["jobs"] += 1
            for sid in _seq(job.stageIds()):
                stage_group[int(sid)] = g.get()
    for sid, g in stage_group.items():
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a skipped stage has no attempt data
            continue
        m = out[g]
        m["cpu_s"] += st.executorCpuTime() / 1e9
        m["shuffle_read_bytes"] += st.shuffleReadBytes()
        m["shuffle_write_bytes"] += st.shuffleWriteBytes()
        m["spill_bytes"] += st.diskBytesSpilled()
    return out


def group_python_bytes(spark, groups: set[str]) -> dict[str, int]:
    """Per job group: bytes sent to plus returned from Python workers, from
    the SQL status store's plan metrics."""
    sql_store = spark._jsparkSession.sharedState().statusStore()
    job_group: dict[int, str] = {}
    store = spark.sparkContext._jsc.sc().statusStore()
    for job in _seq(store.jobsList(None)):
        g = job.jobGroup()
        if g.isDefined() and g.get() in groups:
            job_group[int(job.jobId())] = g.get()
    out = {g: 0 for g in groups}
    for ex in _seq(sql_store.executionsList()):
        jobs = [int(j) for j in _seq(ex.jobs().keys())]
        g = next((job_group[j] for j in jobs if j in job_group), None)
        if g is None:
            continue
        values = {int(t._1()): t._2()
                  for t in _seq(sql_store.executionMetrics(ex.executionId()).toSeq())}
        ids = set()
        for node in _seq(sql_store.planGraph(ex.executionId()).allNodes()):
            for metric in _seq(node.metrics()):
                if "Python workers" in metric.name():
                    ids.add(int(metric.accumulatorId()))
        out[g] += sum(parse_size(values[a]) for a in ids if a in values)
    return out
