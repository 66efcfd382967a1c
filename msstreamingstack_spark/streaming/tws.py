"""transformWithState per-user state (the modern stateful API).

The reference's heart is a per-user last-state table kept in Redis
and re-joined every micro-batch (T1, RedisForeachWriter.scala:25-40 /
StructuredStreaming.scala:142-148). ``streaming/stateful.py`` rebuilds
that with ``applyInPandasWithState``; this module is the same state
machine on Spark 4's ``transformWithStateInPandas`` — typed state
variables (ValueState) managed per key, timers available, state
schema evolvable, RocksDB-backed.

Status: CONTRACT-VERIFIED, not runtime-verified here. The TWS Python
runner speaks protobuf to the JVM and google.protobuf cannot be
installed in this build sandbox, so the wire path has never executed
in CI — re-checked round 8 (2026-08-15): ``import google.protobuf``
still fails and the sandbox forbids package installs, so the gate
stays honest — ``tws_available()`` gates it, and the state machine's
semantics are pinned protobuf-free against a fake handle
(tests/test_streaming.py::test_tws_processor_semantics_without_runner
and the multi-chunk contract inside
test_transform_with_state_user_table). Deployments WITH protobuf get
the e2e test automatically. The supported runtime path for per-user
state in this engine is ``streaming/stateful.py``
(applyInPandasWithState — no sidecar protocol, runtime-verified
against the batch oracle); this module is the forward port for when
the environment catches up.

Semantics (matches queries_state.user_state_table, oracle-checked in
batch): per user keep last event ts, last event type, last non-null
purchase value, running value total through DECIMAL(25,6), and event
count; emit the updated state row once per micro-batch per active
user (output mode Update — the reference's T5).
"""

from __future__ import annotations

from collections.abc import Iterator
from decimal import Decimal
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

from msstreamingstack_spark.streaming.stateful import group_rows


def tws_available() -> bool:
    """transformWithState's Python runner speaks protobuf to the JVM;
    without a working google.protobuf the runner crashes at init.
    Gate (import-try) rather than fail mid-query — environments
    without protobuf fall back to applyInPandasWithState
    (streaming/stateful.py), which needs no sidecar protocol."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


STATE_SCHEMA = (
    "last_ts LONG, last_event_type STRING, last_purchase_value DOUBLE, "
    "total_value_dec DECIMAL(25,6), n_events LONG"
)
OUTPUT_SCHEMA = (
    "user_id LONG, last_ts LONG, last_event_type STRING, "
    "last_purchase_value DOUBLE, total_value DOUBLE, n_events LONG"
)


class UserStateProcessor(StatefulProcessor):
    """T1/T3 as a typed stateful processor: conditional carry
    (purchase value only updates on purchase events) + running
    decimal-accumulated totals."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("user_state", STATE_SCHEMA)

    def handleInputRows(
        self, key: Any, rows: Iterator[pd.DataFrame], timerValues: TimerValues
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if self._state.exists():
            last_ts, last_et, last_pv, total_dec, n = self._state.get()
        else:
            last_ts, last_et, last_pv, total_dec, n = (
                None, None, None, Decimal("0.000000"), 0,
            )
        # one (ts_sec, event_id) order across the group's chunks: the
        # total is order-free, the carried last_* columns are not
        allrows = group_rows(rows, ["ts_sec", "event_id"])
        if allrows is not None:
            for ts, et, val in zip(
                allrows["ts_sec"], allrows["event_type"], allrows["value"]
            ):
                last_ts = int(ts)
                last_et = et
                if et == "purchase":
                    last_pv = float(val)
                total_dec += Decimal(f"{float(val):.6f}")
                n += 1
        self._state.update((last_ts, last_et, last_pv, total_dec, n))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "last_ts": [last_ts],
                "last_event_type": [last_et],
                "last_purchase_value": [last_pv],
                "total_value": [float(total_dec)],
                "n_events": [n],
            }
        )

    def close(self) -> None:
        pass


def user_state_tws(events: DataFrame) -> DataFrame:
    """Per-user state stream via transformWithStateInPandas. Input
    needs (user_id, event_id, ts_sec, event_type, value); emits one
    updated state row per user per micro-batch."""
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserStateProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
