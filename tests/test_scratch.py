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


@pytest.mark.skipif(os.geteuid() != 0, reason="chown to another uid needs root")
def test_old_format_dir_of_another_user_is_left_alone(shm):
    root, old = shm
    os.makedirs(old)
    os.chown(old, 65534, 65534)
    assert scratch._default_scratch() == root
    assert os.path.isdir(old)
