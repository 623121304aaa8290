"""Per-query optimization probe (round 15).

Times a NAMED subset of registered queries with the bench's exact
methodology (same session builder, same sf0.001 codegen warmup, same
count() action, clearCache+GC between passes) so a candidate
optimization can be measured in isolation without paying the full
150-query bench loop.

Usage::

    python -m airflow_jira_etl_spark.tools.opt_probe q1 [q2 ...] \
        [--runs N] [--sf-dir DIR] [--plans OUTDIR] [--noop]

``--plans OUTDIR`` additionally writes each query's
``explain('formatted')`` to ``OUTDIR/<name>.txt`` (the round's plan
evidence). ``--noop`` times a noop-sink write (guide §1.4: computes
every column) instead of the bench's count() action — use it when an
optimization could shift work into columns count() prunes.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from airflow_jira_etl_spark import catalog, registry
from airflow_jira_etl_spark.session import get_spark


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("names", nargs="+")
    p.add_argument("--runs", type=int, default=3)
    p.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    p.add_argument("--plans", default=None)
    p.add_argument("--noop", action="store_true")
    args = p.parse_args()

    registry.load_all_queries()
    unknown = [n for n in args.names if n not in registry.QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark("opt_probe")
    for t in catalog.TABLES:
        catalog.load(spark, args.sf_dir, t).count()
    # same warmups bench.py runs for the streaming/paged families
    from airflow_jira_etl_spark.streaming.source import write_event_pages

    write_event_pages(spark, args.sf_dir, n_pages=4)
    spark.range(0, 1024, 1, 32).mapInPandas(lambda it: it, "id long").count()
    tiny = os.path.join(os.path.dirname(os.path.normpath(args.sf_dir)), "sf0.001")
    if not os.path.isdir(tiny):
        tiny = args.sf_dir
    warmup_failed: set[str] = set()
    for name in args.names:
        try:
            registry.QUERIES[name](spark, tiny).count()
        except Exception as exc:
            # flagged in the final CSV's warmup_ok column too: a query
            # whose warmup failed absorbs codegen warmup into its first
            # timed run, skewing min-of-N silently otherwise
            warmup_failed.add(name)
            print(f"# warmup {name} failed: {exc}", file=sys.stderr)
    spark.catalog.clearCache()
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    results: dict[str, list[float]] = {n: [] for n in args.names}
    for run in range(args.runs):
        for name in args.names:
            fn = registry.QUERIES[name]
            spark.sparkContext.setJobDescription(f"opt_probe:{name}")
            t0 = time.perf_counter()
            df = fn(spark, args.sf_dir)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
                n_rows = "noop"
            else:
                n_rows = df.count()
            dt = time.perf_counter() - t0
            results[name].append(dt)
            print(f"# [{run + 1}/{args.runs}] {name}: {dt:.3f}s ({n_rows} rows)", file=sys.stderr)
            if args.plans and run == 0:
                with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                    f.write(df._jdf.queryExecution().explainString(
                        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                    ))
            spark.sparkContext.setJobDescription(None)
        spark.catalog.clearCache()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    print("\n".join(csv_lines(results, warmup_failed)))


def csv_lines(results: dict[str, list[float]], warmup_failed: set[str]) -> list[str]:
    """The result CSV: a header and one row per query, every row with
    the same five fields. ``warmup_ok`` is false for a query whose
    warmup failed, which puts codegen warmup into its first timed run."""
    lines = ["name,min,median,all,warmup_ok"]
    for name, ts in results.items():
        s = sorted(ts)
        ok = "false" if name in warmup_failed else "true"
        lines.append(
            f"{name},{min(ts):.3f},{s[len(s)//2]:.3f},{'|'.join(f'{t:.3f}' for t in ts)},{ok}"
        )
    return lines


if __name__ == "__main__":
    main()
