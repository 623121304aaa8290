from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airflow_jira_etl_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def scratch_root(tmp_path, monkeypatch):
    """A fresh scratch root for this test: source_cache artifacts built
    here land under tmp_path, not in the shared root."""
    from airflow_jira_etl_spark import scratch

    root = tmp_path / "scratch"
    monkeypatch.setattr(scratch, "SCRATCH", str(root))
    return root
