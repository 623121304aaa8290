"""Run the benchmark over several seeds and summarise the spread.

    python3 perfbench/sweep.py --out runs.jsonl [--workloads a,b] [--seeds 1-10] [--trace 0]

Runs ``run.py`` once per workload x seed, one after another, appending
each record to ``--out`` and each run's log to ``--out`` + ``.log``. Then prints, per workload x end-to-end metric,
the median and the spread (quartile distance over the median) with the
metric's bound, flagging spreads above a third of the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from compare import ROOT, load, spread


def seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    args = ap.parse_args()
    args.out = os.path.abspath(args.out)

    failed = 0
    for wl in args.workloads.split(","):
        for seed in seeds(args.seeds):
            cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                   "--workload", wl, "--seed", str(seed), "--seconds", str(args.seconds),
                   "--trace", str(args.trace), "--out", args.out]
            t0 = time.monotonic()
            with open(args.out + ".log", "a") as log:
                p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True)
            wall = time.monotonic() - t0
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            ok = p.returncode == 0 and json.loads(last).get("correct")
            failed += not ok
            print(f"{wl} seed {seed}: exit {p.returncode} {'ok' if ok else 'FAILED'} "
                  f"in {wall:.1f} s", flush=True)

    runs = load(args.out)
    for (trace, wl), metrics in sorted(runs.items()):
        if trace != args.trace or wl not in args.workloads.split(","):
            continue
        for m in bench["end_to_end"] if trace == 0 else []:
            vals = metrics[m["name"]]
            s = spread(vals)
            flag = "" if m["name"] == "setup_s" or s < m["bound"] / 3 else "  WIDE"
            print(f"{wl:16} {m['name']:12} n={len(vals):2} median={statistics.median(vals):10.4g} "
                  f"spread={s:.3f} bound={m['bound']}{flag}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
