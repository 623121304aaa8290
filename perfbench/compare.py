"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Both files hold run records appended by ``run.py --out`` (or
``sweep.py``). For every workload x end-to-end metric the command
prints both medians, each side's spread (quartile distance over the
median, as ``statistics.quantiles(values, n=4)`` gives the quartiles)
and a verdict under the metric's bound from ``BENCHMARK.json``:

* ``unresolved``: a side's spread exceeds the bound, and not every NEW
  run beats every BASE run;
* ``REGRESSED``: NEW's median is worse than BASE's by more than the bound;
* ``improved``: NEW's median is better by more than BASE's spread;
* ``same``: otherwise.

Traced records (``--trace 1``) are compared per layer: both medians and
their ratio. Where a side holds traced and untraced runs of a workload,
the tracing overhead against the untraced run (median ``trace.pass_s``
over median ``pass_s``, so including the event log's cost) is printed
too. Exit status 1 when any pair regressed or is unresolved.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> dict:
    """{(trace, workload): {metric: [values]}}"""
    out: dict = defaultdict(lambda: defaultdict(list))
    with open(path) as f:
        for line in f:
            if line.strip():
                rec = json.loads(line)
                for name, m in rec["metrics"].items():
                    out[(rec["trace"], rec["workload"])][name].append(m["value"])
    return out


def spread(values: list[float]) -> float:
    """Quartile distance as a share of the median (0 for < 2 values)."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / abs(med) if med else 0.0


def run_overhead(runs: dict, workload: str) -> float | None:
    """Traced run's pass time over the untraced run's."""
    traced = runs.get((1, workload), {}).get("trace.pass_s")
    untraced = runs.get((0, workload), {}).get("pass_s")
    if not traced or not untraced:
        return None
    return statistics.median(traced) / statistics.median(untraced)


def verdict(a: list[float], b: list[float], bound: float, lower_better: bool) -> str:
    ma, mb = statistics.median(a), statistics.median(b)
    worse = (mb - ma) / abs(ma) if ma else 0.0
    if not lower_better:
        worse = -worse
    sign = 1 if lower_better else -1
    all_better = all(sign * x < sign * y for x in b for y in a)
    if max(spread(a), spread(b)) > bound and not all_better:
        return "unresolved"
    if worse > bound:
        return "REGRESSED"
    if -worse > spread(a):
        return "improved"
    return "same"


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    base, new = load(argv[0]), load(argv[1])
    bad = 0
    print(f"{'workload':16} {'metric':12} {'base':>10} {'new':>10} "
          f"{'spread_b':>8} {'spread_n':>8} {'bound':>6}  verdict")
    for (trace, wl) in sorted(k for k in base if k in new and k[0] == 0):
        for m in bench["end_to_end"]:
            a, b = base[(trace, wl)].get(m["name"]), new[(trace, wl)].get(m["name"])
            if not a or not b:
                continue
            v = verdict(a, b, m["bound"], m["better"] == "lower")
            bad += v in ("REGRESSED", "unresolved")
            print(f"{wl:16} {m['name']:12} {statistics.median(a):10.4g} "
                  f"{statistics.median(b):10.4g} {spread(a):8.3f} {spread(b):8.3f} "
                  f"{m['bound']:6.2f}  {v}")
    traced = sorted(k for k in base if k in new and k[0] == 1)
    if traced:
        print(f"\n{'workload':16} {'layer metric':36} {'base':>12} {'new':>12} {'new/base':>9}")
    for key in traced:
        for m in bench["per_layer"]:
            a, b = base[key].get(m["name"]), new[key].get(m["name"])
            if not a or not b:
                continue
            ma, mb = statistics.median(a), statistics.median(b)
            if ma == mb == 0:
                continue
            ratio = f"{mb / ma:9.3f}" if ma else "      new"
            print(f"{key[1]:16} {m['name']:36} {ma:12.5g} {mb:12.5g} {ratio}")
        oa, ob = run_overhead(base, key[1]), run_overhead(new, key[1])
        if oa and ob:
            print(f"{key[1]:16} {'overhead vs untraced run':36} {oa:12.5g} {ob:12.5g} "
                  f"{ob / oa:9.3f}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
