"""Custom stateful streaming operator via applyInPandasWithState —
the escape hatch for semantics windowed aggregation can't express
(per-key running state carried across micro-batches).

Example operator: per-user running profile (event count, integer-
cents value sum) that keeps updating as micro-batches arrive. The
state is a single compact tuple per user. It runs with
``GroupStateTimeout.NoTimeout``: a bounded availableNow replay
terminates, so no key is ever aged out. A continuous deployment would
add a processing-time timeout to finalize and drop idle users' state
— unbounded per-key state is the way streaming jobs die at scale.

NOTE on hints: no ``from __future__ import annotations`` here —
PySpark resolves these signatures at runtime.
"""

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

PROFILE_CENTS_OUTPUT = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("total_cents", T.LongType()),
])

PROFILE_CENTS_STATE = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("cents", T.LongType()),
])


def _update_profile_cents(key: tuple, batches: Iterator[pd.DataFrame],
                          state: GroupState) -> Iterator[pd.DataFrame]:
    # integer-cents accumulator: floor(v*100 + 0.5) per row, summed
    # as int64 — exact, accumulation-order-independent, so the final
    # state is bit-identical to any batch SQL engine's aggregate
    import numpy as np
    (n, cents) = state.get if state.exists else (0, 0)
    for pdf in batches:
        n += len(pdf)
        v = pdf["value"].fillna(0.0).to_numpy(dtype=np.float64)
        cents += int(np.floor(v * 100.0 + 0.5).astype(np.int64).sum())
    state.update((n, cents))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                        "total_cents": [cents]})


def user_profile_cents_stream(events: DataFrame) -> DataFrame:
    """Hash-matchable running per-user profile (count + integer-cents
    value sum) — the applyInPandasWithState path with an exact batch
    oracle. Emits the running profile each micro-batch (update mode);
    the caller keeps the row with the highest n_events per user as
    the final state."""
    return (events
            .groupBy("user_id")
            .applyInPandasWithState(
                _update_profile_cents,
                outputStructType=PROFILE_CENTS_OUTPUT,
                stateStructType=PROFILE_CENTS_STATE,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout))
