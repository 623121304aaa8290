"""Per-layer tracing, built from outside the program.

* ``Tracer.span`` times one call and, while tracing is on, runs it under
  a job group of its own; ``job_counts`` reads each group's jobs, stages
  and tasks through ``statusTracker``. A child span's groups are also
  counted for its parent (an upsert apply inside a query).
* ``install`` wraps public functions of the program's modules so calls
  into ``sources``, ``operators.mapping`` and the parquet upsert sink
  are timed and counted, and each apply's manifest diff is read.
* ``StreamListener`` sums micro-batch ``durationMs`` phases.
* ``read_event_log`` aggregates executor, shuffle, spill, input, SQL and
  Python-worker metrics of the tasks launched inside given time windows
  from Spark's uncompressed event log.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from collections import Counter
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

GROUP_KEY = "spark.jobGroup.id"


def _dir_files(path: str) -> list[tuple[str, int]]:
    out = []
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(dirpath, f)
                out.append((p, os.path.getsize(p)))
    return out


def read_manifest(root: str) -> dict | None:
    """The committed manifest of an upsert table, read from disk."""
    try:
        with open(os.path.join(root, "_CURRENT")) as f:
            gen = f.read().strip()
        with open(os.path.join(root, gen, "_MANIFEST.json")) as f:
            return dict(json.load(f), generation=gen)
    except (FileNotFoundError, NotADirectoryError):
        return None


def live_bytes(root: str, manifest: dict | None) -> int:
    if not manifest:
        return 0
    return sum(
        s for p in manifest["buckets"].values() for _, s in _dir_files(os.path.join(root, p))
    )


class Span:
    __slots__ = ("name", "kind", "t0", "dt", "construct", "groups", "eager_groups")

    def __init__(self, name: str, kind: str):
        self.name, self.kind = name, kind
        self.t0 = self.dt = self.construct = 0.0
        self.groups: list[str] = []
        self.eager_groups: list[str] = []


class Tracer:
    """Spans and counters of one benchmark process. ``traced`` switches
    job groups and the layer wrappers on; timings are always taken."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.traced = False
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self.tables: dict[str, list[str]] = {}  # upsert root -> key columns
        self._stack: list[Span] = []
        self._ids = itertools.count()

    def reset(self) -> None:
        self.spans, self.counts, self.tables = [], Counter(), {}

    @contextmanager
    def group(self, span: Span, eager: bool = False):
        """Run the body under a fresh job group recorded on ``span``."""
        if not self.traced:
            yield
            return
        gid = f"perfbench-{next(self._ids)}"
        (span.eager_groups if eager else span.groups).append(gid)
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, gid)
        try:
            yield
        finally:
            self.sc.setLocalProperty(GROUP_KEY, prev)

    @contextmanager
    def span(self, name: str, kind: str):
        s = Span(name, kind)
        self._stack.append(s)
        s.t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.dt = time.perf_counter() - s.t0
            self._stack.pop()
            if self._stack:
                self._stack[-1].groups += s.groups + s.eager_groups
            self.spans.append(s)

    def drain(self) -> None:
        """Wait until Spark's listener bus has delivered every event, so
        statusTracker and stream listeners are up to date."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def job_counts(self, groups: list[str]) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for g in groups:
            for jid in st.getJobIdsForGroup(g):
                jobs += 1
                info = st.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    if si and si.numCompletedTasks:
                        stages += 1
                        tasks += si.numCompletedTasks
        return jobs, stages, tasks

    def cache_residency(self) -> tuple[int, int]:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        cached = [i for i in infos if i.numCachedPartitions() > 0]
        return len(cached), sum(i.memSize() + i.diskSize() for i in cached)


def install(tracer: Tracer) -> None:
    """Wrap the program's public entry points with tracer hooks."""
    from airflow_jira_etl_spark import pipeline
    from airflow_jira_etl_spark.sinks.parquet_upsert import ParquetUpsertTable

    apply = ParquetUpsertTable.apply

    def traced_apply(self, *args, **kwargs):
        with tracer.span(os.path.basename(self.root), "apply") as s:
            if not tracer.traced:
                return apply(self, *args, **kwargs)
            before = read_manifest(self.root)
            with tracer.group(s):
                out = apply(self, *args, **kwargs)
            after = read_manifest(self.root)
        tracer.tables[self.root] = list(self.keys)
        if after and (not before or after["generation"] != before["generation"]):
            old = before["buckets"] if before else {}
            rewritten = [b for b, p in after["buckets"].items() if old.get(b) != p]
            files = _dir_files(os.path.join(self.root, after["generation"]))
            tracer.counts["upsert.buckets_rewritten"] += len(rewritten)
            tracer.counts["upsert.files_written"] += len(files)
            tracer.counts["upsert.bytes_written"] += sum(sz for _, sz in files)
        return out

    ParquetUpsertTable.apply = traced_apply

    def timed(fn, kind: str):
        def wrapper(*args, **kwargs):
            if not tracer.traced:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.counts[f"{kind}.s"] += time.perf_counter() - t0
                tracer.counts[f"{kind}.calls"] += 1

        wrapper.__wrapped__ = fn
        return wrapper

    def traced_cursor_scan(fetcher, initial_url, *args, **kwargs):
        pages = pipeline_cursor_scan(fetcher, initial_url, *args, **kwargs)
        while True:
            t0 = time.perf_counter()
            try:
                page = next(pages)
            except StopIteration:
                return
            finally:
                if tracer.traced:
                    tracer.counts["sources.s"] += time.perf_counter() - t0
            if tracer.traced:
                tracer.counts["sources.pages"] += 1
                tracer.counts["sources.records"] += len(page)
            yield page

    def traced_single_page(fetcher, url, *args, **kwargs):
        page = single_page(fetcher, url, *args, **kwargs)
        if tracer.traced:
            tracer.counts["sources.pages"] += 1
            tracer.counts["sources.records"] += len(page)
        return page

    pipeline_cursor_scan = pipeline.cursor_scan
    single_page = pipeline.single_page_scan
    pipeline.cursor_scan = traced_cursor_scan
    offset_scan = pipeline.offset_scan_parallel

    def traced_offset_scan(spark, fetcher, url, *args, **kwargs):
        """Pages fan out to executors, so count them from page 0's
        ``total`` and stride as seen by the driver. Untraced, the scan
        gets the caller's fetcher unchanged."""
        if not tracer.traced:
            return offset_scan(spark, fetcher, url, *args, **kwargs)
        seen = {}

        def first_page(u, params=None):
            page = fetcher(u, params)
            seen.setdefault("total", int(page.get("total") or 0))
            seen.setdefault("stride", int(page.get("maxResults") or 1))
            return page

        out = offset_scan(spark, first_page, url, *args, **kwargs)
        if seen:
            tracer.counts["sources.pages"] += max(1, -(-seen["total"] // seen["stride"]))
            tracer.counts["sources.records"] += seen["total"]
        return out

    pipeline.single_page_scan = timed(traced_single_page, "sources")
    pipeline.offset_scan_parallel = timed(traced_offset_scan, "sources")
    pipeline.records_to_flat_df = timed(pipeline.records_to_flat_df, "mapping")
    pipeline.raw_json_to_flat = timed(pipeline.raw_json_to_flat, "mapping")


class StreamListener(StreamingQueryListener):
    """Sums the ``durationMs`` phases of micro-batches while ``active``."""

    PHASES = ("triggerExecution", "addBatch", "walCommit", "commitOffsets",
              "latestOffset", "queryPlanning")

    def __init__(self):
        self.active = False
        self.batches = 0
        self.ms: Counter = Counter()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        if not self.active:
            return
        self.batches += 1
        d = event.progress.durationMs or {}
        for k in self.PHASES:
            self.ms[k] += d.get(k, 0)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _plan_metric_types(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = m["metricType"]
    for c in plan.get("children", ()):
        _plan_metric_types(c, out)


PY_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}


def read_event_log(log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Sum the metrics of tasks launched inside ``windows`` (epoch
    seconds) across every event log file under ``log_dir``."""
    lo_hi = [(a * 1000.0, b * 1000.0) for a, b in windows]

    def inside(ms) -> bool:
        return any(a <= ms <= b for a, b in lo_hi)

    acc_types: dict[int, str] = {}
    tot: Counter = Counter()
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith("SparkListenerSQLExecutionStart"):
                    _plan_metric_types(ev.get("sparkPlanInfo", {}), acc_types)
                    if inside(ev.get("time", 0)):
                        tot["sql.executions"] += 1
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_metric_types(ev.get("sparkPlanInfo", {}), acc_types)
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    if not inside(info.get("Launch Time", 0)):
                        continue
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    tot["executor.run_s"] += m.get("Executor Run Time", 0) / 1e3
                    tot["executor.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    tot["executor.gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    tot["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    tot["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                    tot["shuffle.write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    tot["spill.bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    tot["input.bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    tot["executor.tasks"] += 1
                    for a in info.get("Accumulables", ()):
                        key = PY_METRICS.get(a.get("Name"))
                        if key is None:
                            continue
                        v = float(a.get("Update") or 0)
                        if key.endswith("_s"):
                            # SQL timing metrics: "timing" in ms, "nsTiming" in ns
                            v /= 1e9 if acc_types.get(a["ID"]) == "nsTiming" else 1e3
                        tot[key] += v
    return dict(tot)

