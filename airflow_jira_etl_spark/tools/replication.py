"""Shared key-stride replication for the scale probes.

The scale probes and registry_scale_sweep grow a fixture N× by
self-union with per-replica key offsets. The stride MUST be derived from
the data (max key + 1), never hard-coded: a fixture whose key range
reaches a fixed constant would silently collide replica keys, merging
distinct rows and corrupting the probe's pair/row counts. When several
tables share a key domain (lineitem.l_orderkey references
orders.o_orderkey), compute the stride ONCE from the referenced table
and pass it to every replication so the foreign-key structure is
preserved across replicas.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def key_stride(df: DataFrame, key: str) -> int:
    """Replica offset derived from the data: 1 + max(key)."""
    mx = df.agg(F.max(key)).first()[0]
    if mx is None:
        raise ValueError(f"{key}: empty table, cannot derive stride")
    return int(mx) + 1


def replicate_with_stride(
    df: DataFrame,
    key: str,
    mult: int,
    stride: int,
    transform: Callable[[DataFrame, int], DataFrame] | None = None,
) -> DataFrame:
    """Self-union ``df`` ``mult`` times, offsetting ``key`` by
    ``r * stride`` in replica ``r``; ``transform(df, r)`` lets a caller
    mutate replica rows further (e.g. suffix text so replicas are
    near- rather than exact duplicates)."""
    if mult < 1:
        # a 0/negative multiplier (an off-by-one in a probe's MULTS
        # list) otherwise surfaces as an opaque IndexError on parts[0]
        # — same guard class as key_stride's degenerate-input check
        raise ValueError(f"replicate_with_stride: mult must be >= 1, got {mult}")
    parts = []
    for r in range(mult):
        p = df.withColumn(key, F.col(key) + F.lit(r * stride))
        if transform is not None:
            p = transform(p, r)
        parts.append(p)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out
