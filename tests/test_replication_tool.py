"""Unit gate for tools/replication.py — the stride-offset self-union
that registry_scale_sweep and the replication tests build on. The
invariant that matters: replica key spaces are DISJOINT (collisions
would silently merge rows and corrupt every checked pair/row count) and
foreign-key structure survives when two tables share one stride."""

from __future__ import annotations

from airflow_jira_etl_spark.tools.replication import (
    key_stride,
    replicate_with_stride,
)


def test_keys_stay_unique_and_disjoint(spark):
    df = spark.range(0, 50).withColumnRenamed("id", "k")
    stride = key_stride(df, "k")
    assert stride == 50
    out = replicate_with_stride(df, "k", 4, stride)
    keys = [r.k for r in out.collect()]
    assert len(keys) == 200
    assert len(set(keys)) == 200  # no collisions
    assert max(keys) == 199  # dense packing: replica r occupies [50r, 50r+50)


def test_shared_stride_preserves_foreign_keys(spark):
    from pyspark.sql import functions as F

    parent = spark.range(0, 10).select(F.col("id").alias("pk"))
    child = spark.range(0, 30).select((F.col("id") % 10).alias("pk"))
    stride = key_stride(parent, "pk")
    p4 = replicate_with_stride(parent, "pk", 4, stride)
    c4 = replicate_with_stride(child, "pk", 4, stride)
    # every replicated child still joins a replicated parent
    orphans = c4.join(p4, "pk", "left_anti").count()
    assert orphans == 0
    assert c4.count() == 120 and p4.count() == 40

