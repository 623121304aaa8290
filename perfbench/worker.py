"""One benchmark run in one process; started by ``run.py``.

Set-up: start the session, generate the seeded inputs, load the catalog
and run one warm pass of the workload (for ``etl_upsert`` a smaller one,
``workloads.WARM_SIZES``). The set-up is timed once per run: repeating
its cold pass would not fit the benchmark's time budget. Measurement:
``PASSES`` passes; no pass starts once ``--seconds`` have elapsed, after
the first two. The count is fixed rather than set by a deadline because
the JVM keeps getting faster pass after pass: a run that squeezed in one
pass more would also read lower. ``--seconds`` cuts a run short only
when a busy host slows its passes well past their usual time (an
etl_upsert pass by two thirds), which keeps such runs within the
benchmark's time budget. Untraced passes feed the end-to-end metrics.
``pass_s`` sums each part's best time across the passes, as ``bench.py``
does, so that one slow part does not move the whole figure. The parts
are the queries, or each upsert apply and the rest of each pipeline. The
percentiles are taken over every operation of every measured pass (each
query, or each upsert apply). Traced, passes alternate untraced and
traced, so the traced run also reports ``trace.overhead_ratio``: the
traced passes against the untraced passes of the same run. Both run with
the event log on, so the ratio leaves out the event log's cost;
``compare.py`` also divides ``trace.pass_s`` by the untraced run's
``pass_s``, which includes it. The result is written as JSON to
``--result``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import time
from collections import Counter

from perfbench import tracing, workloads
from perfbench.run import cpu_times, steal_share

# Measured passes per run. On a quiet 4-core host an etl_upsert pass
# takes 7-8 s and a query_mix pass 4.5-5.5 s, so four passes fit in the
# 40 s the benchmark allows even when a busy host slows them by a half.
# An even count runs each query_mix order forwards and backwards equally
# often (``workloads.query_order``).
PASSES = {"etl_upsert": 4, "query_mix": 4}


def best_total(passes: list[dict]) -> float:
    """Sum over a pass's parts of each part's best time across passes."""
    return sum(min(p["parts"][k] for p in passes) for k in passes[0]["parts"])


def pct(values: list[float], q: int) -> float:
    """The q-th percentile, linearly interpolated between samples."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def retained_heap_mb(spark) -> float:
    """JVM heap still in use after a full collection: what the session
    keeps once the workload is done (caches, plans, state)."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    rt = jvm.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM plus the driver Python's ru_maxrss."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


class Run:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.errors: list[str] = []
        self.attempted = 0

    # ------------------------------------------------------------ set-up

    def start(self) -> None:
        from airflow_jira_etl_spark import registry
        from airflow_jira_etl_spark.session import get_spark

        from perfbench import datagen

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.range(1).count()
        self.session_s = time.perf_counter() - t0
        registry.load_all_queries()
        self.tracer = tracing.Tracer(self.spark)
        tracing.install(self.tracer)
        self.listener = None
        if self.args.trace:
            self.listener = tracing.StreamListener()
            self.spark.streams.addListener(self.listener)

        self.cat_dir = os.path.join(self.args.run_dir, "catalog")
        if self.workload == "etl_upsert":
            self.etl = workloads.EtlRun(
                self.spark, self.args.seed, os.path.join(self.args.run_dir, "tables")
            )
            self.warm_etl = workloads.EtlRun(
                self.spark, self.args.seed, os.path.join(self.args.run_dir, "warm"),
                workloads.WARM_SIZES,
            )
        else:
            datagen.make_catalog(self.cat_dir, datagen.CATALOG_SEED)
            self.expected = workloads.oracle_counts(
                self.cat_dir, workloads.QUERY_SETS[self.workload]
            )

    def one_pass(self, pass_no: int, etl=None) -> tuple[dict[str, float], dict[str, float]]:
        """Run one pass; returns ({part: seconds}, {operation: latency}).
        The parts add up to the pass: each query, or each upsert apply
        plus the rest of its pipeline (fetch, mapping, table set-up), as
        ``<pipeline>.apply<i>`` and ``<pipeline>.rest``."""
        if self.workload == "etl_upsert":
            n0 = len(self.tracer.spans)
            steps = (etl or self.etl).run_pass()
            applies = [s for s in self.tracer.spans[n0:] if s.kind == "apply"]
            lat = {f"{s.name}.apply{i}": s.dt for i, s in enumerate(applies)}
            parts = dict(lat)
            for step, dt in steps.items():
                parts[f"{step}.rest"] = dt - sum(s.dt for s in applies if s.name == step)
        else:
            names = workloads.query_order(self.workload, self.args.seed, pass_no)
            lat = dict(zip(names, workloads.run_query_pass(
                self.spark, self.tracer, names, self.cat_dir, self.expected, self.errors,
            )))
            parts = lat
        self.attempted += len(lat)
        return parts, lat

    def setup(self) -> None:
        from airflow_jira_etl_spark import catalog

        t0 = time.perf_counter()
        if self.workload != "etl_upsert":  # the pipelines read no catalog
            for t in catalog.TABLES:
                catalog.load(self.spark, self.cat_dir, t)
        t1 = time.perf_counter()
        self.one_pass(-1, getattr(self, "warm_etl", None))
        self.load_s, self.warm_s = t1 - t0, time.perf_counter() - t1
        print(f"set-up: load {self.load_s:.2f}s warm {self.warm_s:.2f}s", file=sys.stderr)
        self.tracer.reset()

    # ------------------------------------------------------- measurement

    def measure(self) -> None:
        self.passes: list[dict] = []
        t_end = time.perf_counter() + self.args.seconds
        # traced: as many traced as untraced passes, and at least two each
        n, step = PASSES[self.workload], 1
        if self.args.trace:
            n, step = max(4, n), 2
        for i in range(n):
            if i >= 2 and i % step == 0 and time.perf_counter() >= t_end:
                break
            traced = bool(self.args.trace) and i % 2 == 1
            self.tracer.reset()
            self.tracer.traced = traced
            if self.listener:
                self.listener.active = traced
                self.listener.batches, self.listener.ms = 0, Counter()
            w0, ticks0 = time.time(), cpu_times()
            parts, lat = self.one_pass(i)
            w1, steal = time.time(), steal_share(ticks0, cpu_times())
            self.tracer.traced = False
            # as in bench.py: take the full collection between passes, not
            # inside whichever operation of the next pass allocates first
            self.spark.sparkContext._jvm.System.gc()
            rec = {"traced": traced, "parts": parts, "lat": lat, "window": (w0, w1)}
            if traced:
                rec["layers"] = self.layer_metrics(parts)
            self.passes.append(rec)
            print(f"pass {i} traced={traced} steal={steal:.3f} {sum(parts.values()):.3f}s "
                  f"{ {k: round(v, 2) for k, v in parts.items()} }", file=sys.stderr)
        if self.workload == "etl_upsert":
            self.replay_s = self.etl.check(self.errors)
            self.attempted += 1

    def layer_metrics(self, parts: dict[str, float]) -> dict[str, float]:
        """Per-layer values of the traced pass just run."""
        from airflow_jira_etl_spark.sinks.parquet_upsert import ParquetUpsertTable

        tr = self.tracer
        tr.drain()
        c = tr.counts
        m: dict[str, float] = {
            "sources.pages": c["sources.pages"],
            "sources.records": c["sources.records"],
            "sources.fetch_s": c["sources.s"],
            "mapping.calls": c["mapping.calls"],
            "mapping.flatten_s": c["mapping.s"],
            "cache.rdds_resident": c["cache.rdds_resident"],
            "cache.bytes_resident": c["cache.bytes_resident"],
        }
        if self.workload == "etl_upsert":
            for part, s in parts.items():
                key = f"pipeline.{part.split('.')[0]}_s"
                m[key] = m.get(key, 0.0) + s
            m["pipeline.ingest_rows_per_s"] = self.etl.rows() / sum(parts.values())

        applies = [s for s in tr.spans if s.kind == "apply"]
        m["upsert.applies"] = len(applies)
        if applies:
            counts = [tr.job_counts(s.groups) for s in applies]
            lat = [s.dt for s in applies]
            m["upsert.apply_s"] = sum(lat)
            m["upsert.apply_p50_s"] = statistics.median(lat)
            m["upsert.apply_p90_s"] = pct(lat, 90)
            for j, k in enumerate(("jobs", "stages", "tasks")):
                m[f"upsert.{k}_per_apply"] = sum(x[j] for x in counts) / len(applies)
            m["upsert.buckets_rewritten_per_apply"] = c["upsert.buckets_rewritten"] / len(applies)
            m["upsert.files_written"] = c["upsert.files_written"]
            m["upsert.bytes_written"] = c["upsert.bytes_written"]
            live = rows = 0
            t0 = time.perf_counter()
            for root, keys in tr.tables.items():
                if os.path.isdir(root):
                    rows += ParquetUpsertTable(self.spark, root, key=keys).read().count()
                    live += tracing.live_bytes(root, tracing.read_manifest(root))
            m["upsert.read_s"] = time.perf_counter() - t0
            m["upsert.write_amp"] = c["upsert.bytes_written"] / live if live else 0.0
            m["upsert.table_bytes_per_row"] = live / rows if rows else 0.0

        queries = [s for s in tr.spans if s.kind == "query"]
        if queries:
            tot = Counter()
            for s in queries:
                jobs, stages, tasks = tr.job_counts(s.groups + s.eager_groups)
                eager = tr.job_counts(s.eager_groups)[0]
                fam = s.name.split("_")[0]
                tot["jobs"] += jobs
                tot["stages"] += stages
                tot["tasks"] += tasks
                tot["eager_jobs"] += eager
                tot["construct_s"] += s.construct
                tot["action_s"] += s.dt - s.construct
                tot[f"{fam}.s"] += s.dt
                tot[f"{fam}.jobs"] += jobs
            for k, v in tot.items():
                m[f"query.{k}"] = v

        if self.listener:
            m["stream.batches"] = self.listener.batches
            for phase, v in self.listener.ms.items():
                name = "trigger" if phase == "triggerExecution" else phase
                m[f"stream.{name}_ms"] = v
        return m

    # ------------------------------------------------------------ result

    def result(self, bench: dict) -> dict:
        untraced = [p for p in self.passes if not p["traced"]]
        # every operation of every measured pass: one sample per query or
        # apply, so a percentile rests on passes x operations samples
        lat = [v for p in untraced for v in p["lat"].values()]
        metrics = {
            "setup_s": self.session_s + self.load_s + self.warm_s,
            "pass_s": best_total(untraced),
            "op_p50_s": statistics.median(lat),
            "op_p90_s": pct(lat, 90),
            "memory.heap_retained_mb": retained_heap_mb(self.spark),
            "memory.peak_rss_mb": peak_rss_mb(self.spark),
        }
        wanted = bench["end_to_end"]
        if self.args.trace:
            metrics.update(self.trace_metrics(untraced))
            wanted = bench["per_layer"]
        units = {m["name"]: m["unit"] for m in wanted}
        return {
            "correct": not self.errors,
            "attempted": self.attempted,
            "failed": len(self.errors),
            "metrics": {
                k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()
            },
        }

    def trace_metrics(self, untraced: list[dict]) -> dict[str, float]:
        traced = [p for p in self.passes if p["traced"]]
        m: dict[str, float] = {}
        for p in traced:
            for k, v in p["layers"].items():
                m[k] = m.get(k, 0.0) + v / len(traced)
        m["session.start_s"] = self.session_s
        m["catalog.load_s"] = self.load_s
        m["warmup_s"] = self.warm_s
        if self.workload == "etl_upsert":
            m["pipeline.replay_s"] = self.replay_s
        m["trace.pass_s"] = best_total(traced)
        m["trace.overhead_ratio"] = m["trace.pass_s"] / best_total(untraced)
        self.spark.stop()
        log = tracing.read_event_log(self.args.event_log, [p["window"] for p in traced])
        for k, v in log.items():
            m[k] = v / len(traced)
        return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--event-log", default="")
    ap.add_argument("--bench", required=True, help="path of BENCHMARK.json")
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)
    with open(args.bench) as f:
        bench = json.load(f)

    run = Run(args)
    t0 = time.perf_counter()
    for phase in (run.start, run.setup, run.measure):
        phase()
        print(f"{phase.__name__} done at {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    res = run.result(bench)
    print(f"result done at {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    for e in run.errors:
        print(f"error: {e}", file=sys.stderr)
    with open(args.result, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
