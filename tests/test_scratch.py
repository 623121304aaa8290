"""Scratch-root selection on a world-writable tmpfs."""

from __future__ import annotations

import os

import pytest

from airflow_jira_etl_spark import scratch


@pytest.fixture()
def shm(tmp_path, monkeypatch):
    """A stand-in for /dev/shm, and the old-format root name in it."""
    monkeypatch.setattr(scratch, "_SHM", str(tmp_path))
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH", raising=False)
    root = scratch._default_scratch()
    assert os.path.dirname(root) == str(tmp_path)
    tag = os.path.basename(root).rsplit("_", 1)[1]
    assert os.path.basename(root) == f"spark_graft_scratch_{os.getuid()}_{tag}"
    return root, os.path.join(str(tmp_path), f"spark_graft_scratch_{tag}")


def test_old_format_root_is_removed(shm):
    root, old = shm
    os.makedirs(os.path.join(old, "upsert_tables"))
    with open(os.path.join(old, "upsert_tables", "part.parquet"), "w") as f:
        f.write("x")
    assert scratch._default_scratch() == root
    assert not os.path.lexists(old)
    assert os.path.isdir(root)


def test_old_format_symlink_is_left_alone(shm, tmp_path):
    root, old = shm
    target = tmp_path / "elsewhere"
    target.mkdir()
    (target / "keep").write_text("x")
    os.symlink(target, old)
    assert scratch._default_scratch() == root
    assert os.path.islink(old)
    assert (target / "keep").read_text() == "x"


def test_old_cache_layouts_are_removed(tmp_path):
    """What the layouts before source_cache left in the scratch root
    goes: the event pages per fixture with their lock files, the
    bucketed-join warehouse, the DPP table, the streaming source dir and
    the ``<tag>_k8`` IVF index dirs. Current kinds and slots, a symlink
    under an old name and its target stay."""
    root = tmp_path / "root"
    old = [
        "event_pages_sf0.01_3fb06346",
        "bucketed_wh",
        "events_dpp/sf0.01_3fb06346_123",
        "stream_src/sf0.01_3fb06346",
        "ivf_index/sf0.01_3fb06346_k8",
    ]
    kept = ["event_pages/sf0.01_3fb06346", "ivf_index/sf0.01_3fb06346", "upsert_tables/x_1"]
    for d in old + kept:
        (root / d).mkdir(parents=True)
        (root / d / "part").write_text("x")
    for f in ["event_pages_sf0.01_3fb06346.lock", "bucketed_wh.lock", "ivf_index/sf0.01_3fb06346.lock"]:
        (root / f).write_text("")
    target = tmp_path / "elsewhere"
    target.mkdir()
    (target / "keep").write_text("x")
    os.symlink(target, root / "event_pages_linked")

    scratch._remove_old_layouts(str(root))

    assert sorted(os.listdir(root)) == [
        "event_pages", "event_pages_linked", "ivf_index", "upsert_tables"
    ]
    assert sorted(os.listdir(root / "ivf_index")) == [
        "sf0.01_3fb06346", "sf0.01_3fb06346.lock"
    ]
    for d in kept:
        assert (root / d / "part").read_text() == "x"
    assert (target / "keep").read_text() == "x"


@pytest.mark.skipif(os.geteuid() != 0, reason="chown to another uid needs root")
def test_old_format_dir_of_another_user_is_left_alone(shm):
    root, old = shm
    os.makedirs(old)
    os.chown(old, 65534, 65534)
    assert scratch._default_scratch() == root
    assert os.path.isdir(old)


# --------------------------------------------------------- source_cache


def _fixture(parent, name="sfX"):
    """A fixture dir holding one directory-shaped table ``t``."""
    sf = parent / name
    (sf / "t.parquet").mkdir(parents=True)
    (sf / "t.parquet" / "part-0.parquet").write_bytes(b"one")
    return sf


def _ident(sf) -> dict:
    from airflow_jira_etl_spark import catalog

    return {"t": catalog.source_stamp(catalog.table_path(str(sf), "t"))}


class _Builds:
    """A build callback that records each call and writes one file."""

    def __init__(self):
        self.calls = []

    def __call__(self, out: str) -> dict:
        self.calls.append(out)
        os.makedirs(out)
        with open(os.path.join(out, "data"), "w") as f:
            f.write(str(len(self.calls)))
        return {"n": len(self.calls)}


def test_dir_table_rewritten_in_place_is_stale(scratch_root, tmp_path):
    sf = _fixture(tmp_path)
    build = _Builds()
    d1, info1 = scratch.source_cache("k", str(sf), _ident(sf), build)
    assert scratch.source_cache("k", str(sf), _ident(sf), build) == (d1, info1)
    assert len(build.calls) == 1
    # a part file rewritten in place leaves the directory's own stat as
    # it was; the artifact must still go stale
    (sf / "t.parquet" / "part-0.parquet").write_bytes(b"two!")
    d2, info2 = scratch.source_cache("k", str(sf), _ident(sf), build)
    assert len(build.calls) == 2 and d2 != d1 and info2 == {"n": 2}


def test_hit_runs_no_spark_job(spark, scratch_root, tmp_path):
    sf = _fixture(tmp_path)

    def build(out: str) -> dict:
        spark.range(3).write.parquet(out)
        return {"rows": 3}

    d, info = scratch.source_cache("k", str(sf), _ident(sf), build)
    sc = spark.sparkContext
    sc.setJobGroup("source-cache-hit", "a warm source_cache call")
    try:
        assert scratch.source_cache("k", str(sf), _ident(sf), build) == (d, info)
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup("source-cache-hit")) == []


def test_racing_builders_build_once(scratch_root, tmp_path):
    import threading
    import time

    sf = _fixture(tmp_path)
    build = _Builds()

    def slow(out):
        time.sleep(0.2)
        return build(out)

    got, errors = [], []

    def call():
        try:
            got.append(scratch.source_cache("k", str(sf), _ident(sf), slow))
        except Exception as exc:  # noqa: BLE001 — surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=call) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert len(build.calls) == 1
    assert len(got) == 4 and len(set(d for d, _ in got)) == 1


def test_same_basename_fixtures_get_distinct_dirs(scratch_root, tmp_path):
    a = _fixture(tmp_path / "a")
    b = _fixture(tmp_path / "b")
    build = _Builds()
    da, _ = scratch.source_cache("k", str(a), _ident(a), build)
    db, _ = scratch.source_cache("k", str(b), _ident(b), build)
    assert da != db and len(build.calls) == 2
    # neither build evicted the other
    assert scratch.source_cache("k", str(a), _ident(a), build)[0] == da
    assert len(build.calls) == 2


def test_relative_sf_dir_works(scratch_root, tmp_path):
    sf = _fixture(tmp_path)
    rel = os.path.relpath(sf, os.getcwd())
    assert not os.path.isabs(rel)
    build = _Builds()
    d, _ = scratch.source_cache("k", rel, _ident(rel), build)
    assert os.path.isabs(d) and os.path.isfile(os.path.join(d, "data"))
    assert scratch.source_cache("k", str(sf), _ident(sf), build)[0] == d
    assert len(build.calls) == 1


def test_reader_of_previous_version_survives_one_rebuild(spark, scratch_root, tmp_path):
    sf = _fixture(tmp_path)

    def build_rows(n):
        def build(out: str) -> dict:
            spark.range(n).write.parquet(out)
            return {}

        return build

    d1, _ = scratch.source_cache("k", str(sf), {"gen": 1}, build_rows(10))
    reader = spark.read.parquet(d1)  # resolved before the rebuild
    d2, _ = scratch.source_cache("k", str(sf), {"gen": 2}, build_rows(20))
    assert d2 != d1
    assert reader.count() == 10  # version N still reads after N+1
    d3, _ = scratch.source_cache("k", str(sf), {"gen": 3}, build_rows(30))
    kept = {os.path.join(os.path.dirname(d3), e) for e in os.listdir(os.path.dirname(d3))}
    assert d3 in kept and d2 in kept and d1 not in kept


def test_failed_build_leaves_no_version(scratch_root, tmp_path):
    sf = _fixture(tmp_path)

    def fail(out: str) -> dict:
        os.makedirs(out)
        raise ValueError("boom")

    with pytest.raises(ValueError, match="boom"):
        scratch.source_cache("k", str(sf), _ident(sf), fail)
    build = _Builds()
    d, info = scratch.source_cache("k", str(sf), _ident(sf), build)
    assert info == {"n": 1}
    assert [e for e in os.listdir(os.path.dirname(d)) if e.startswith("v_")] == [
        os.path.basename(d)
    ]


def test_slot_of_a_deleted_fixture_is_reaped_on_the_next_miss(scratch_root, tmp_path):
    """Two builds from two temporary fixtures, the first deleted before
    the second build, leave one slot; a slot whose meta records no
    fixture is left alone."""
    import json
    import shutil

    build = _Builds()
    gone = _fixture(tmp_path / "gone")
    d_gone, _ = scratch.source_cache("k", str(gone), _ident(gone), build)
    shutil.rmtree(gone)
    kind = scratch_root / "k"
    legacy = kind / "legacy_0"
    legacy.mkdir()
    (legacy / "_CACHE_META.json").write_text(
        json.dumps({"ident": {}, "version": "v_0", "info": {}})
    )
    kept = _fixture(tmp_path / "kept")
    d, _ = scratch.source_cache("k", str(kept), _ident(kept), build)
    slot = os.path.dirname(d)
    assert sorted(e.name for e in kind.iterdir() if e.is_dir()) == sorted(
        [os.path.basename(slot), "legacy_0"]
    )
    assert not os.path.exists(os.path.dirname(d_gone) + ".lock")
