"""Chunk-order contract of the Python state functions.

``applyInPandasWithState`` hands a group's micro-batch over as several
Arrow chunks in arbitrary order once the group exceeds
``spark.sql.execution.arrow.maxRecordsPerBatch``. Every state function
must therefore give the same output and the same new state whether the
rows arrive as one ordered chunk or split into chunks in adverse order
(streaming/stateful.py::group_rows). The sessionizer, funnel and near-dup
buckets carry their own chunk-order tests; this file covers the CUSUM monitor, the heavy-hitter sketch and
the session rollup by calling each function directly with a fake
GroupState.
"""

from __future__ import annotations

import pandas as pd
import pytest

from msstreamingstack_spark.streaming.cusum import HOUR_SEC, _make_cusum_fn
from msstreamingstack_spark.streaming.heavy_hitters import _make_hh_fn
from msstreamingstack_spark.streaming.stateful import make_rollup_fn


class _FakeGroupState:
    """The GroupState surface the three functions touch."""

    hasTimedOut = False

    def __init__(self):
        self.value = None
        self.timeout_ms = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = tuple(value)

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


def _cusum_case():
    # four hours of one event type: out of order, earlier hours would
    # be counted late and never folded
    ts = [h * HOUR_SEC + m * 60 for h in range(4) for m in range(3)]
    rows = pd.DataFrame(
        {
            "event_id": range(1, len(ts) + 1),
            "ts_sec": ts,
            "event_type": "click",
            "value": [0.5 + i for i in range(len(ts))],
        }
    )
    return _make_cusum_fn({"click": (1_000_000, 0, 2_000_000)}), ("click",), rows


def _hh_case():
    # capacity 2: which key gets evicted depends on arrival order
    keys = ["a", "a", "b", "c", "c", "c", "d", "a", "e", "e", "b", "d"]
    rows = pd.DataFrame(
        {"event_id": range(1, len(keys) + 1), "k": keys, "bucket": 3}
    )
    return _make_hh_fn(2), (3,), rows


def _rollup_case():
    # three sessions (30-min gap): out of order, the gaps are wrong
    t0 = 1_700_000_000
    ts = [t0, t0 + 60, t0 + 120, t0 + 4000, t0 + 4100, t0 + 9000, t0 + 9060]
    rows = pd.DataFrame(
        {
            "event_id": range(1, len(ts) + 1),
            "user_id": 7,
            "ts_sec": ts,
            "value": [1.25 * (i + 1) for i in range(len(ts))],
        }
    )
    return make_rollup_fn(1800), (7,), rows


def _run(fn, key, chunks):
    state = _FakeGroupState()
    out = list(fn(key, iter(chunks), state))
    frame = pd.concat(out, ignore_index=True) if out else None
    return frame, state.value, state.timeout_ms


@pytest.mark.parametrize(
    "case", [_cusum_case, _hh_case, _rollup_case], ids=["cusum", "heavy_hitters", "rollup"]
)
def test_state_fn_output_is_chunk_order_independent(case):
    fn, key, rows = case()
    n = len(rows)
    one_chunk = _run(fn, key, [rows])
    # latest rows first, an empty chunk, and a reversed chunk
    adverse = [
        rows.iloc[2 * n // 3 :],
        rows.iloc[:0],
        rows.iloc[n // 3 : 2 * n // 3].iloc[::-1],
        rows.iloc[: n // 3],
    ]
    chunked = _run(fn, key, adverse)

    frame, state, timeout = one_chunk
    assert frame is not None and len(frame) > 0  # the case emits rows
    pd.testing.assert_frame_equal(chunked[0], frame)
    assert chunked[1] == state
    assert chunked[2] == timeout
