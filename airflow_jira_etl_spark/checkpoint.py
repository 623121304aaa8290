"""Deterministic release of localCheckpoint blocks.

The engine lineage-truncates frames whose recompute would be a
correctness hazard (``operators/ranking._range_tag``'s sampled range
partitioning, ``sinks/parquet_upsert.apply``'s twice-evaluated batch
on multi-bucket tables — a one-bucket table reads its batch once and
takes no checkpoint):
``localCheckpoint`` makes recompute impossible — block loss fails
loudly instead of silently recomputing through a nondeterministic
source. The flip side is lifecycle: ``DataFrame.unpersist`` is a no-op
on checkpoint blocks (they live in the block manager, not the SQL
cache registry), so by default they are reclaimed only when the
ContextCleaner notices the RDD is garbage — a periodic-GC cadence
(``spark.cleaner.periodicGC.interval``, default 30 min) under which a
long-lived driver running many batches accumulates executor
memory/disk between GC cycles.

``release_local_checkpoint`` restores the deterministic per-batch free
the old persist/unpersist pairing had: it unpersists the checkpointed
RDD behind a ``df.localCheckpoint(...)`` result the caller has
finished with. It must only be called once the frame (and everything
lazily derived from it) is fully consumed — the lineage is cut, so a
later action on the frame fails loudly with
CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (verified empirically on this
Spark: never a silent recompute, which is exactly the property the
checkpoint exists for).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def release_local_checkpoint(df: DataFrame) -> bool:
    """Best-effort deterministic free of ``df``'s localCheckpoint
    blocks (non-blocking). ``df`` must be the DataFrame RETURNED by
    ``localCheckpoint`` and must not be used afterwards.

    Returns True when the blocks were released, False when the plan
    shape was not the expected LogicalRDD (e.g. a future Spark changes
    the internals) — in that case the ContextCleaner still reclaims
    the blocks on GC, so failure here is a missed optimization, never
    an error worth raising for.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return False
        plan.rdd().unpersist(False)
        return True
    except Exception:
        return False
