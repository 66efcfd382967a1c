"""Stateful streaming sessionization — the reference's T1-T4
(SURVEY.md §2.6) on Spark-managed state.

The reference externalizes per-user state to Redis and round-trips it
through a stream-static join every micro-batch
(RedisForeachWriter.scala:25-40, StructuredStreaming.scala:142-155).
That design has a read-snapshot race: a user's second event within one
micro-batch still sees pre-batch state. Here state lives in the Spark
state store via ``applyInPandasWithState`` — updates are visible
within the batch (events are processed in time order per user), the
race disappears, and checkpointing gives exactly-once state.

Session rules (batch-identical to operators/sessionize.py):
  new session ⇔ user unseen ∨ gap > 30 min (strict) ∨ init event
  session_id = "<user>-<session_start_epoch_sec>" (deterministic, F5)
Cart carry: only purchase events move it (T3); new users seed cart to
0 (reference :175). The stream has no category input (``prop_k`` is not
among the sessionizer's columns), so ``ctgry`` keeps its seed.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from msstreamingstack_spark.operators.sessionize import DEFAULT_GAP_SEC

# (last_ts, session_start, n_events, cart_amt, ctgry)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts", T.LongType()),
        T.StructField("session_start", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("cart_amt", T.DoubleType()),
        T.StructField("ctgry", T.StringType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts_sec", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("session_id", T.StringType()),
        T.StructField("is_new_user", T.BooleanType()),
        T.StructField("is_new_session", T.BooleanType()),
        T.StructField("cart_amt", T.DoubleType()),
        T.StructField("ctgry", T.StringType()),
    ]
)


INIT_EVENT_TYPE = "signup"  # force-splits a session
PURCHASE_EVENT_TYPE = "purchase"  # moves the cart carry


def group_rows(
    pdfs: Iterator[pd.DataFrame], by: str | list[str]
) -> pd.DataFrame | None:
    """A group's rows of one micro-batch as ONE frame sorted by ``by``,
    or None when the group brought no rows — the ordering contract of
    every Python state function in ``streaming/``. A group larger than
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` arrives as several
    Arrow chunks in arbitrary order, so the chunks are concatenated and
    sorted ONCE: a per-chunk sort would make the state transitions
    depend on chunk boundaries."""
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        return None
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    return pdf.sort_values(by)


def make_session_fn(gap_sec: int = DEFAULT_GAP_SEC):
    """Build the per-group state-transition function.

    Events inside a batch are processed in (ts_sec, event_id) order;
    state carries across micro-batches via the state store.
    """

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            last_ts, session_start, n_events, cart_amt, ctgry = state.get
            new_user = False
        else:
            last_ts, session_start, n_events, cart_amt, ctgry = (
                None,
                None,
                0,
                0.0,  # reference seeds new-user cart to "0" (:175)
                "none",
            )
            new_user = True

        out_rows: list[dict] = []
        events = group_rows(pdfs, ["ts_sec", "event_id"])
        for r in () if events is None else events.itertuples(index=False):
            ts = int(r.ts_sec)
            split = (
                last_ts is None
                or (ts - last_ts) > gap_sec
                or r.event_type == INIT_EVENT_TYPE
            )
            if split:
                session_start = ts
            if r.event_type == PURCHASE_EVENT_TYPE:
                cart_amt = float(r.value)
            out_rows.append(
                {
                    "event_id": int(r.event_id),
                    "user_id": int(user_id),
                    "ts_sec": ts,
                    "event_type": r.event_type,
                    "value": float(r.value),
                    "session_id": f"{user_id}-{session_start}",
                    "is_new_user": new_user and n_events == 0 and not out_rows,
                    "is_new_session": bool(split),
                    "cart_amt": cart_amt,
                    "ctgry": ctgry,
                }
            )
            last_ts = ts
        n_events += len(out_rows)
        state.update((last_ts, session_start, n_events, cart_amt, ctgry))
        yield pd.DataFrame(out_rows, columns=[f.name for f in OUTPUT_SCHEMA.fields])

    return fn


def sessionize_stream(events: DataFrame, gap_sec: int = DEFAULT_GAP_SEC) -> DataFrame:
    """Apply the stateful sessionizer to a (streaming or batch-test)
    events DataFrame with columns event_id,user_id,ts_sec,event_type,
    value. Shuffles once on user_id into the state store partitioning."""
    return events.groupBy("user_id").applyInPandasWithState(
        make_session_fn(gap_sec),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_window_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """The native-Spark alternative path (T2 without the init
    force-split): gap-based ``session_window`` aggregation. Works in
    batch and streaming (with a watermark upstream in streaming).

    Output bounds are epoch seconds for oracle comparability.
    """
    ts = F.timestamp_seconds(F.col("ts_sec"))
    win = F.session_window(ts, gap)
    return (
        events.withColumn("ts", ts)
        .groupBy(F.col("user_id"), win)
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts_sec").alias("start_sec"),
            F.max("ts_sec").alias("end_sec"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id", "n_events", "start_sec", "end_sec", "sum_value"
        )
    )


# ---------------------------------------------------------------------------
# Session ROLLUP stream: one summary row per closed session, state
# reclaimed via event-time timeout
# ---------------------------------------------------------------------------
ROLLUP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("session_start", T.LongType()),
        T.StructField("last_ts", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)

ROLLUP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.LongType()),
        T.StructField("session_end", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("closed_by_timeout", T.BooleanType()),
    ]
)


def make_rollup_fn(gap_sec: int = DEFAULT_GAP_SEC):
    """Per-user session rollup with ``EventTimeTimeout``: sessions
    closed by a later event emit immediately; the FINAL session of an
    idle user emits when the watermark passes last_ts + gap — the
    state-store entry is then removed. This is the piece the
    reference's Redis design fundamentally could not do: state there
    lived forever (no TTL, RedisForeachWriter.scala:25-40); here state
    size tracks ACTIVE users only.
    """

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        cols = [f.name for f in ROLLUP_OUTPUT_SCHEMA.fields]

        if state.hasTimedOut:
            ss, lt, n, sv = state.get
            state.remove()
            yield pd.DataFrame(
                [
                    {
                        "user_id": int(user_id),
                        "session_start": ss,
                        "session_end": lt,
                        "n_events": n,
                        "sum_value": sv,
                        "closed_by_timeout": True,
                    }
                ],
                columns=cols,
            )
            return

        if state.exists:
            ss, lt, n, sv = state.get
        else:
            ss = lt = None
            n, sv = 0, 0.0

        out = []
        events = group_rows(pdfs, ["ts_sec", "event_id"])
        for r in () if events is None else events.itertuples(index=False):
            ts = int(r.ts_sec)
            if lt is not None and (ts - lt) > gap_sec:
                out.append(
                    {
                        "user_id": int(user_id),
                        "session_start": ss,
                        "session_end": lt,
                        "n_events": n,
                        "sum_value": sv,
                        "closed_by_timeout": False,
                    }
                )
                ss, n, sv = ts, 0, 0.0
            if lt is None:
                ss = ts
            n += 1
            sv += float(r.value)
            lt = ts
        state.update((ss, lt, n, sv))
        # close the open session once the watermark passes last_ts+gap
        state.setTimeoutTimestamp((lt + gap_sec) * 1000)
        yield pd.DataFrame(out, columns=cols)

    return fn


def session_rollup_stream(
    events: DataFrame,
    gap_sec: int = DEFAULT_GAP_SEC,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Closed-session summaries over a stream; needs an event-time
    watermark for the timeout clock."""
    ev = events.withColumn(
        "event_time", F.timestamp_seconds(F.col("ts_sec"))
    ).withWatermark("event_time", watermark)
    return ev.groupBy("user_id").applyInPandasWithState(
        make_rollup_fn(gap_sec),
        outputStructType=ROLLUP_OUTPUT_SCHEMA,
        stateStructType=ROLLUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
