"""Whole-registry physical-plan lint: scale anti-patterns must not
appear in ANY registered query's executed plan, not just the few with
hand-written plan guards.

Three anti-patterns are linted:

- ``CartesianProduct`` — an unbroadcast cross join shuffles |A|x|B|
  at cluster scale; every deliberate no-equi-key join in the engine is
  a BroadcastNestedLoopJoin instead.
- ``BatchEvalPython`` (row-at-a-time Python UDF) — only the explicit
  API-parity surface (udf_python_scalar, udtf_explode_kv's UDTF) may
  pay the per-row Python round-trip; everything else must stay JVM or
  Arrow-batched.
- un-partitioned ``Window`` — a Window node with an empty partition
  spec serializes its entire input through ONE task. The fact-scale
  global ranks go through the distributed two-phase ranker
  (operators/ranking.py), and the allowlist is EMPTY — the last
  survivor (report_monthly_growth's |months| lag) now partitions
  on (month IS NULL), which both isolates the NULL bucket from the
  chain and clears the lint. Node format: ``Window [funcs],
  [partSpec], [orderSpec]`` — two top-level bracket groups instead of
  three means no partition spec.

Sink/stream/source queries are excluded: building their DataFrame runs
real side effects (streams, table writes), and the returned batch
DataFrame's plan is a trivial read of the result, not the interesting
pipeline (their plan shapes are asserted by dedicated tests).

Note: the ranking-backed queries (sort_multi_key, win_ntile_percent,
win_concurrency_sweep) are NOT side-effect-free to
build — operators/ranking.py runs its counts pass (a shuffle + a
k-bounded collect) eagerly so the offsets can ship as plan literals.
That is compute, not state mutation, so they stay linted; it just
makes this sweep cost a few real jobs.
"""

from __future__ import annotations

import pytest

from airflow_jira_etl_spark import registry

registry.load_all_queries()

_EXCLUDED_PREFIXES = ("stream_", "sink_", "source_", "mv_", "cdc_")
_ROW_UDF_ALLOWED = {"udf_python_scalar", "udtf_explode_kv"}
# empty (report_monthly_growth's |months| lag partitions on
# (month IS NULL)); a future entry needs an output-sized-frame
# justification reviewed in PLANS.md
_GLOBAL_WINDOW_ALLOWED: set[str] = set()


def _unpartitioned_window_lines(plan: str) -> list[str]:
    """Window plan lines with only two top-level bracket groups —
    [funcs], [order] — i.e. no partition spec."""
    bad = []
    for line in plan.splitlines():
        body = line.lstrip(" +-:*()0123456789")
        if not body.startswith("Window ["):
            continue
        depth = 0
        groups: list[str] = []
        for ch in line:
            if ch == "[":
                if depth == 0:
                    groups.append("")
                depth += 1
            elif ch == "]":
                depth -= 1
            elif depth > 0:
                groups[-1] += ch
        # [funcs], [partSpec], [orderSpec] = partitioned+ordered;
        # [funcs], [partSpec] (no ASC/DESC) = partition-only full-frame
        # agg — both fine. Two groups where the SECOND is an order spec
        # means the partition spec is empty: single-task.
        if len(groups) < 3 and (
            " ASC" in groups[-1] or " DESC" in groups[-1]
        ):
            bad.append(line.strip())
    return bad

LINTED = [
    n
    for n in registry.QUERIES
    if not n.startswith(_EXCLUDED_PREFIXES)
]


@pytest.mark.parametrize("name", LINTED)
def test_no_scale_antipatterns_in_plan(name, spark, sf_dir):
    df = registry.QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product\n{plan}"
    if name not in _ROW_UDF_ALLOWED:
        assert "BatchEvalPython" not in plan, (
            f"{name}: row-at-a-time Python UDF outside the deliberate "
            f"API-parity surface\n{plan}"
        )
    if name not in _GLOBAL_WINDOW_ALLOWED:
        bad = _unpartitioned_window_lines(plan)
        assert not bad, (
            f"{name}: un-partitioned Window (single-task at scale): {bad}"
        )


def test_no_bare_persist_in_engine_source():
    """Source lint: `.persist(` is BANNED in engine source.
    Twice this engine shipped a two-pass operator whose driver-side
    bookkeeping silently desynced from a RECOMPUTED second pass — a
    persisted frame recomputes through its (re-sampling or
    nondeterministic) lineage on block loss or cache clearing, which is
    exactly when the bookkeeping's coordinates stop describing the data
    (operators/ranking.py, sinks/parquet_upsert.py).
    Cross-pass materialization must use localCheckpoint (lineage
    truncation: recompute impossible, loss loud). Read-once `.cache()`
    over DETERMINISTIC expressions remains fine and is not linted; a
    genuinely safe future persist belongs in the allowlist with a
    reviewed justification."""
    import os
    import re

    allow: set[str] = set()  # (path, lineno) pairs, justified in review
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "airflow_jira_etl_spark",
    )
    hits = []
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path) as f:
                for i, line in enumerate(f, 1):
                    code = line.split("#", 1)[0]
                    if re.search(r"\.persist\(", code):
                        rel = os.path.relpath(path, root)
                        if (rel, i) not in allow:
                            hits.append(f"{rel}:{i}: {line.strip()}")
    assert not hits, (
        "bare .persist( in engine source — use localCheckpoint for "
        "cross-pass materialization (see docstring): " + "; ".join(hits)
    )


def test_every_operator_module_has_a_package_importer():
    """Source lint: every module under operators/ must be imported by
    some package module outside tools/ (function-local imports count;
    the package uses absolute imports only).
    An operator that only tests or probes import runs in no query,
    pipeline, sink or gate, so it is dead weight: delete it with its
    tests instead of keeping a second kernel for an algorithm."""
    import ast
    import os

    pkg = "airflow_jira_etl_spark"
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), pkg
    )
    op_dir = os.path.join(root, "operators")
    operators = {
        fn[:-3]
        for fn in os.listdir(op_dir)
        if fn.endswith(".py") and fn != "__init__.py"
    }
    imported: set[str] = set()
    for dirpath, _, files in os.walk(root):
        if os.path.relpath(dirpath, root).split(os.sep)[0] == "tools":
            continue
        for fn in files:
            if not fn.endswith(".py"):
                continue
            with open(os.path.join(dirpath, fn)) as f:
                tree = ast.parse(f.read())
            for node in ast.walk(tree):
                if isinstance(node, ast.Import):
                    mods = [(a.name, []) for a in node.names]
                elif isinstance(node, ast.ImportFrom) and node.module:
                    mods = [(node.module, [a.name for a in node.names])]
                else:
                    continue
                for mod, names in mods:
                    parts = mod.split(".")
                    if parts[:2] == [pkg, "operators"]:
                        # `...operators.x import f` or `...operators import x`
                        imported.update(parts[2:3] or names)
    orphans = sorted(operators - imported)
    assert not orphans, (
        f"operators with no importer in the package outside tools/: {orphans}"
    )


def test_every_tools_reference_names_an_existing_module():
    """Source lint: every ``tools/<name>.py`` or ``tools.<name>``
    reference in package source, tests and README.md must name a module
    that exists under the package's tools/ directory. A deleted tool
    otherwise lives on in usage lines, docstrings and skip reasons that
    point readers at code that is gone."""
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tools_dir = os.path.join(repo, "airflow_jira_etl_spark", "tools")
    modules = {fn[:-3] for fn in os.listdir(tools_dir) if fn.endswith(".py")}
    ref = re.compile(r"\btools[/.](\w+)")
    paths = [os.path.join(repo, "README.md")]
    for sub in ("airflow_jira_etl_spark", "tests"):
        for dirpath, _, files in os.walk(os.path.join(repo, sub)):
            paths += [
                os.path.join(dirpath, f) for f in files if f.endswith(".py")
            ]
    stale = []
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for i, line in enumerate(f, 1):
                for name in ref.findall(line):
                    if name not in modules:
                        rel = os.path.relpath(path, repo)
                        stale.append(f"{rel}:{i}: tools/{name}")
    assert not stale, f"references to missing tools modules: {stale}"


def test_package_env_reads_are_deployment_settings():
    """Source lint: the package reads the environment only for
    deployment settings — the scratch root, the CPU count, the driver
    memory, the HTTP fetcher's caller-named ``token_env`` and (tools
    only) the fixture SF dir. A behaviour switch read from the
    environment is an option no API passes and no plan shows; select
    behaviour with a parameter or a Spark conf instead."""
    import ast
    import os

    allowed = {"SPARK_GRAFT_SCRATCH", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"}
    tools_allowed = allowed | {"SPARK_GRAFT_SF_DIR"}
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "airflow_jira_etl_spark",
    )

    def key_of(node, parent, grand):
        """The variable an ``os.environ``/``os.getenv`` node reads, as
        a name: a string literal, ``token_env``, or None (unrecognised
        form — flagged)."""
        if node.attr == "environ" and isinstance(parent, ast.Subscript):
            arg = parent.slice
        elif node.attr == "getenv" and isinstance(parent, ast.Call):
            arg = parent.args[0] if parent.args else None
        elif (
            node.attr == "environ"
            and isinstance(parent, ast.Attribute)
            and parent.attr == "get"
            and isinstance(grand, ast.Call)
        ):
            arg = grand.args[0] if grand.args else None
        else:
            return None
        if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
            return arg.value
        if isinstance(arg, ast.Name) and arg.id == "token_env":
            return "token_env"
        return None

    bad = []
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, root)
            ok = tools_allowed if rel.split(os.sep)[0] == "tools" else allowed
            with open(path) as f:
                tree = ast.parse(f.read())
            parents = {
                child: node
                for node in ast.walk(tree)
                for child in ast.iter_child_nodes(node)
            }
            for node in ast.walk(tree):
                if isinstance(node, ast.ImportFrom) and node.module == "os":
                    names = {a.name for a in node.names} & {"environ", "getenv"}
                    if names:
                        bad.append(f"{rel}:{node.lineno}: from os import {names}")
                if not (
                    isinstance(node, ast.Attribute)
                    and node.attr in ("environ", "getenv")
                    and isinstance(node.value, ast.Name)
                    and node.value.id == "os"
                ):
                    continue
                parent = parents.get(node)
                key = key_of(node, parent, parents.get(parent))
                if key != "token_env" and key not in ok:
                    bad.append(f"{rel}:{node.lineno}: {key or 'unrecognised read'}")
    assert not bad, f"environment reads that are not deployment settings: {bad}"


def test_flock_only_in_the_cache_and_the_commit_lock():
    """Source lint: cross-process locking lives in two places —
    scratch.source_cache (every fixture-derived artifact) and the
    upsert sink's commit lock. A third ``fcntl.flock`` means a
    build/lock/rebuild protocol was copied instead of calling
    source_cache."""
    import os

    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "airflow_jira_etl_spark",
    )
    users = set()
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                with open(path, encoding="utf-8") as f:
                    if "fcntl.flock" in f.read():
                        users.add(os.path.relpath(path, root))
    assert users == {"scratch.py", os.path.join("sinks", "parquet_upsert.py")}, users



def test_arrow_frames_only_in_the_batch_constructor():
    """Source lint: ``spark.createDataFrame(pa.table(...))`` appears
    only in ``sources/paged_rest._raw_frame``, which observes the
    relation so that the optimizer cannot fold the flatten above it
    into a driver-side LocalRelation. A second constructor of Arrow
    batches would skip that barrier."""
    import ast
    import os

    call = "createDataFrame(pa.table("
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "airflow_jira_etl_spark",
    )
    hits = {}
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                with open(path, encoding="utf-8") as f:
                    text = f.read()
                n = "".join(text.split()).count(call)
                if n:
                    hits[os.path.relpath(path, root)] = (n, text)
    assert list(hits) == [os.path.join("sources", "paged_rest.py")], list(hits)
    n, text = hits[os.path.join("sources", "paged_rest.py")]
    (frame,) = [
        node
        for node in ast.walk(ast.parse(text))
        if isinstance(node, ast.FunctionDef) and node.name == "_raw_frame"
    ]
    assert n == 1 and call in "".join(ast.get_source_segment(text, frame).split())
