"""Streaming funnel — the real-time twin of the batch
``funnel_conversion`` query (queries_analytics.py): per-user ordered
milestone tracking (signup → first view at-or-after signup → first
purchase at-or-after that view) on Spark-managed state.

Semantics match the batch windows exactly: within a micro-batch,
events are processed in (ts_sec, stage-priority, event_id) order, so
a same-timestamp signup+view pair resolves the same way the batch
``ts_sec >= s`` predicate does (the view counts). Because event time
only moves forward within and across ordered drops, the first signup
encountered IS min(signup ts), and any later view satisfies
``ts >= s`` by construction — the sequential state machine and the
batch min-aggregation provably agree on time-ordered input
(pinned against the batch query in tests/test_streaming_funnel.py).

Output mode is append, one row per user per micro-batch in which the
user's milestone state CHANGED — an upsert feed for a funnel
dashboard (same update-shape as the reference's per-user Redis rows,
RedisForeachWriter.scala:25-40, but carrying funnel stages instead of
session fields).

Scale: one shuffle (user_id → state store partitioning), state is
three longs per user, no timeout eviction (a funnel is lifetime
state; add ``GroupStateTimeout`` if the product wants trial-window
semantics).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from msstreamingstack_spark.streaming.stateful import group_rows

STATE_SCHEMA = T.StructType(
    [
        T.StructField("s", T.LongType()),
        T.StructField("v", T.LongType()),
        T.StructField("p", T.LongType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("signup_ts", T.LongType()),
        T.StructField("view_ts", T.LongType()),
        T.StructField("purchase_ts", T.LongType()),
        T.StructField("stage", T.IntegerType()),
    ]
)

# same-timestamp resolution must match the batch predicate ts >= s:
# the milestone PRODUCER sorts ahead of its consumer at equal ts
_STAGE_PRIO = {"signup": 0, "view": 1, "purchase": 2}


def _funnel_fn(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    s, v, p = state.get if state.exists else (None, None, None)

    # one global (ts_sec, prio, event_id) order across the group's
    # chunks keeps exact parity with the batch funnel_conversion query
    milestones = group_rows(
        (
            pdf[pdf["event_type"].isin(_STAGE_PRIO)].assign(
                _prio=lambda d: d["event_type"].map(_STAGE_PRIO)
            )
            for pdf in pdfs
        ),
        ["ts_sec", "_prio", "event_id"],
    )
    rows = (
        []
        if milestones is None
        else milestones[["ts_sec", "event_type"]].itertuples(index=False, name=None)
    )

    changed = False
    for ts, et in rows:
        ts = int(ts)
        if et == "signup" and s is None:
            s, changed = ts, True
        elif et == "view" and v is None and s is not None and ts >= s:
            v, changed = ts, True
        elif et == "purchase" and p is None and v is not None and ts >= v:
            p, changed = ts, True

    if changed:
        state.update((s, v, p))
        stage = 3 if p is not None else 2 if v is not None else 1
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "signup_ts": pd.array([s], dtype="Int64"),
                "view_ts": pd.array([v], dtype="Int64"),
                "purchase_ts": pd.array([p], dtype="Int64"),
                "stage": [stage],
            }
        )


def funnel_stream(events: DataFrame) -> DataFrame:
    """Apply the stateful funnel tracker to a (streaming or
    batch-test) events frame with columns event_id, user_id, ts_sec,
    event_type. Emits a changed-users upsert feed."""
    return events.groupBy("user_id").applyInPandasWithState(
        _funnel_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
