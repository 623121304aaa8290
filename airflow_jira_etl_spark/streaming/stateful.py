"""Custom stateful streaming operator via ``applyInPandasWithState``.

The escape hatch for stream semantics the built-in windowed/session
aggregates can't express: arbitrary per-key state carried across
micro-batches. Here: a per-user running profile (event count, total
value, peak value) updated batch-by-batch — the streaming analog of
the reference's resume-where-you-left-off scan state
(``worklog_processor.py:106`` keeps the cursor on ``self``; SURVEY.md
§3.4), but keyed, distributed, and checkpoint-recoverable.

State lives in Spark's state store (one shard per shuffle partition):
at scale, state volume is bounded by |keys|, not stream length, and
recovery replays from the checkpoint — properties the reference's
in-object cursor does not have.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id long, n_events long, total_value double, peak_value double"
)
STATE_SCHEMA = "n long, n_vals long, total double, peak double"


def _update_profile(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    # SQL aggregate semantics on NULLs: sum/max SKIP them, and a user
    # whose values are ALL null yields NULL, not 0.0 / a -inf sentinel.
    # NULL and real NaN are INDISTINGUISHABLE after Arrow's float64
    # conversion (both arrive as NaN), so the Spark side ships an
    # explicit value_is_null marker and the kernel filters on THAT —
    # a dropna() here would also eat genuine NaN values, which SQL
    # does NOT skip (sum propagates NaN; max treats NaN as greatest,
    # so any NaN makes the running max NaN). skipna=False + explicit
    # NaN handling on the running peak (Python's max() is
    # order-dependent under NaN) keep both aggregates SQL-faithful.
    # n_vals counts non-null values seen so far so "any value yet?"
    # survives checkpoint recovery; n counts ROWS (count(*) semantics).
    # This body runs once per (key, batch) — ~6 000 invocations per
    # bench run — so its per-call constant IS the operator's measured
    # increment (PLANS.md streaming cost decomposition). The
    # pandas-idiomatic form (Series boolean mask,
    # DataFrame-from-dict-of-lists output) cost ~390 µs/call; the
    # numpy form below with ndarray-backed output columns costs
    # ~148 µs/call for identical results (guide §4.2: vectorized
    # native ops over whole batches, minimal pandas object churn).
    import math

    import numpy as np

    (user_id,) = key
    n, n_vals, total, peak = (
        state.get if state.exists else (0, 0, 0.0, 0.0)
    )
    for pdf in batches:
        n += len(pdf)
        # ndarray views, not Series.__getitem__ with a Series mask:
        # same values, ~3x less per-call overhead. np.max/np.sum
        # propagate NaN exactly like the skipna=False forms.
        v = pdf["value"].to_numpy()
        vals = v[~pdf["value_is_null"].to_numpy()]
        if len(vals):
            mx = float(np.max(vals))
            if n_vals == 0:
                peak = mx
            elif math.isnan(mx) or math.isnan(peak):
                peak = float("nan")
            else:
                peak = max(peak, mx)
            total += float(np.sum(vals))
            n_vals += len(vals)
    state.update((n, n_vals, total, peak))
    if n_vals:
        yield pd.DataFrame(
            {
                # user_id is a GROUP KEY, and SQL grouping has a NULL
                # group: the ndarray fast path only fits real ids (an
                # int64 array cannot hold None — it would raise, or
                # worse, coerce). A NULL key reaches the Python worker
                # as float NaN, not None (pandas' int64 missing-value
                # sentinel — caught by the non-finite drift sweep), so
                # test both; either emits an object column whose
                # None/NaN crosses Arrow back as SQL NULL.
                "user_id": (
                    [user_id]
                    if user_id is None
                    or (isinstance(user_id, float) and user_id != user_id)
                    else np.array([user_id], dtype="int64")
                ),
                "n_events": np.array([n], dtype="int64"),
                "total_value": np.array([total], dtype="float64"),
                "peak_value": np.array([peak], dtype="float64"),
            }
        )
    else:
        # all-NULL (or empty) value history: SQL sum/max are NULL —
        # object columns so None survives the Arrow transfer as NULL
        # (a float64 NaN would too, but keep the NULL explicit)
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "total_value": [None],
                "peak_value": [None],
            }
        )


def running_user_profile(events_stream: DataFrame) -> DataFrame:
    """Per-user running profile over a micro-batched event stream.
    Emits the updated running totals for each user touched by each
    micro-batch (update-style output). ``n_events`` strictly increases
    across a user's emissions, so consumers reduce to final state with
    ``max_by(col, n_events)`` — no monotonicity assumption on the value
    columns themselves."""
    from pyspark.sql import functions as F

    return (
        events_stream.select(
            "user_id",
            "value",
            # NULL-ness travels as its own column: after Arrow float64
            # conversion the kernel cannot tell NULL from NaN (module
            # comment in _update_profile)
            F.col("value").isNull().alias("value_is_null"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_profile,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
