"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--out FILE]

Run from the root of a source checkout. Workloads, metrics and bounds
are defined in ``BENCHMARK.json`` at that root; the workloads are
described in ``perfbench/workloads.py``.

Each run starts one fresh worker process (``perfbench/worker.py``) with
``SPARK_GRAFT_CPUS`` set to the number of usable CPUs and a private,
wiped ``.perfbench_run/`` directory under the checkout for the
generated inputs, the program's scratch root, Spark's local and
temporary directories and, when tracing, the event log. When the worker
ends, every process it left is stopped and waited for.

Output: a ``{"host": ...}`` line recording the CPU count, load average
at start, the share of CPU time the hypervisor stole during the run,
Spark, Python and source ids, then, as the last line, the
result object ``{"correct", "attempted", "failed", "metrics"}``.
``--out FILE`` also appends one JSON line per run (workload, seed,
trace, host and result) for ``perfbench/compare.py``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM = "airflow_jira_etl_spark"
WORKER_TIMEOUT_S = 170


def source_id() -> str:
    """Hash of the program's Python sources (the checkout need not be a
    git repository)."""
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, PROGRAM))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def host_record(cpus: int) -> dict:
    import platform
    from importlib.metadata import version

    return {
        "nproc": cpus,
        "loadavg": os.getloadavg(),
        "spark": version("pyspark"),
        "python": platform.python_version(),
        "source_id": source_id(),
        "commit": git_commit(),
    }


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def stop_group(pgid: int) -> None:
    """Stop every process left in the worker's process group (the Spark
    JVM, Python workers) and wait until none is left."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append the full run record to this JSONL file")
    args = ap.parse_args()

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, PROGRAM, "__init__.py")):
        print(f"perfbench: no {PROGRAM} package under {ROOT}", file=sys.stderr)
        return 2
    with open(bench_path) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; have {names}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_run")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k) for k in ("scratch", "local", "tmp", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    cpus = len(os.sched_getaffinity(0))
    host = host_record(cpus)
    ticks0 = cpu_times()

    submit = [
        "--driver-java-options", f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        "--conf", f"spark.local.dir={dirs['local']}",
    ]
    if args.trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{dirs['eventlog']}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_SCRATCH=dirs["scratch"],
        SPARK_LOCAL_DIRS=dirs["local"],
        TMPDIR=dirs["tmp"],
        PYTHONPATH=os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
    )
    result_path = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--event-log", dirs["eventlog"],
        "--bench", bench_path, "--result", result_path,
    ]
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
        stdout=sys.stderr, start_new_session=True,
    )
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
        code = None
    finally:
        stop_group(proc.pid)
        proc.wait()
    if code != 0 or not os.path.isfile(result_path):
        print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
        return 1
    with open(result_path) as f:
        result = json.load(f)
    host["steal_share"] = steal_share(ticks0, cpu_times())
    if args.out:
        rec = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "host": host, **result}
        with open(args.out, "a") as f:
            f.write(json.dumps(rec) + "\n")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"host": host}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
