"""Shared key-stride replication for scale checks.

registry_scale_sweep and the replication tests grow a fixture N× by
self-union with per-replica key offsets. The stride MUST be derived from
the data (max key + 1), never hard-coded: a fixture whose key range
reaches a fixed constant would silently collide replica keys, merging
distinct rows and corrupting the checked pair/row counts. When several
tables share a key domain (lineitem.l_orderkey references
orders.o_orderkey), compute the stride ONCE from the referenced table
and pass it to every replication so the foreign-key structure is
preserved across replicas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def key_stride(df: DataFrame, key: str) -> int:
    """Replica offset derived from the data: 1 + max(key)."""
    mx = df.agg(F.max(key)).first()[0]
    if mx is None:
        raise ValueError(f"{key}: empty table, cannot derive stride")
    return int(mx) + 1


def replicate_with_stride(
    df: DataFrame, key: str, mult: int, stride: int
) -> DataFrame:
    """Self-union ``df`` ``mult`` times, offsetting ``key`` by
    ``r * stride`` in replica ``r``."""
    if mult < 1:
        # a 0/negative multiplier (an off-by-one in a caller's
        # multiples) otherwise surfaces as an opaque IndexError on parts[0]
        # — same guard class as key_stride's degenerate-input check
        raise ValueError(f"replicate_with_stride: mult must be >= 1, got {mult}")
    parts = [
        df.withColumn(key, F.col(key) + F.lit(r * stride)) for r in range(mult)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out
