"""Custom stateful streaming operators via ``applyInPandasWithState``.

The built-in windowed aggregations (streaming/windows.py) cover
count/sum shapes; this module is the escape hatch for *arbitrary*
keyed state machines. The demonstrator is a per-user running profile
(event count, value total, first/last event time) that emits an
updated row per key per micro-batch and evicts idle keys with a
processing-time timeout.

Scale shape: state lives in Spark's per-key state store (RocksDB/HDFS
backed on a real cluster), partitioned by the grouping key — the same
hash shuffle a groupBy takes. The pandas function sees one key group
per call with an Arrow batch of that key's new rows; state size is
O(|active keys|), not O(events). Batch-mode equivalence: running the
same fold over a static frame produces the final per-key profile,
which is how tests pin the semantics without wall-clock coupling.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

PROFILE_SCHEMA = (
    "user_id long, n_events long, total_value double, "
    "first_ts timestamp, last_ts timestamp"
)
_STATE_SCHEMA = "n long, total double, first_ts timestamp, last_ts timestamp"


def _make_fold_profile(idle_eviction: bool):
    """The per-key fold, parameterized on whether a processing-time
    timeout is registered (``setTimeoutDuration`` raises under a
    NoTimeout configuration, so the drain-and-exit variant must not
    call it)."""

    def _fold_profile(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        """One key's new rows → updated running profile row."""
        if state.hasTimedOut:
            # idle key evicted: emit nothing, drop the state
            state.remove()
            return
        n, total, first_ts, last_ts = (
            state.get if state.exists else (0, 0.0, None, None)
        )
        for pdf in pdfs:
            if pdf.empty:
                continue
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
            batch_min = pdf["ts"].min()
            batch_max = pdf["ts"].max()
            first_ts = batch_min if first_ts is None else min(first_ts, batch_min)
            last_ts = batch_max if last_ts is None else max(last_ts, batch_max)
        state.update((n, total, first_ts, last_ts))
        if idle_eviction:
            state.setTimeoutDuration(3_600_000)  # 1h idle eviction
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 2)],
                "first_ts": [first_ts],
                "last_ts": [last_ts],
            }
        )

    return _fold_profile


def user_profile_stream(events, *, idle_eviction: bool = True) -> "DataFrame":  # noqa: F821
    """Attach the stateful per-user profile fold to a (streaming or
    batch-test) events DataFrame with columns (user_id, ts, value).

    On a stream: one updated profile row per active user per
    micro-batch, state partitioned by user_id, idle users evicted
    after 1h of processing time when ``idle_eviction`` is on.

    Operational note (measured): with ``ProcessingTimeTimeout``
    registered, a ``trigger(availableNow=True)`` query does NOT
    terminate after draining the input — Spark keeps scheduling
    no-data micro-batches so pending timeouts can fire, holding the
    query active for up to the idle duration. Drain-and-exit callers
    (backfills, tests) should either pass ``idle_eviction=False``
    (state then lives until the query stops, which IS the backfill
    semantics — the final state is the answer) or stop the query
    explicitly once the sink has drained."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_eviction
        else GroupStateTimeout.NoTimeout
    )
    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_fold_profile(idle_eviction),
            outputStructType=PROFILE_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


def user_profile_batch(events) -> "DataFrame":  # noqa: F821
    """Batch reference of the same fold: the final state after the
    whole table has streamed through equals this one aggregation —
    the invariant tests assert (same shape as windows.py's
    batch-equals-final-streaming-state contract)."""
    from pyspark.sql import functions as F

    return (
        events.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0)).cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_value"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select("user_id", "n_events", "total_value", "first_ts", "last_ts")
    )
