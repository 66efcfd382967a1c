"""Independent references the benchmark checks the program's output against.

The clickstream reference restates the session rules documented in
``streaming/stateful.py`` as a plain loop over each user's events in
time order; it shares no code with the program (its batch twin in
``operators/sessionize.py`` is deliberately not used). The drops are cut
in time order, so processing them micro-batch by micro-batch must give
exactly what one pass over the whole stream gives.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pyarrow as pa

import gen


def sessionize(cs: gen.Clickstream, rows: slice) -> dict[int, tuple]:
    """event_id -> (session_id, is_new_session, is_new_user, cart_amt).

    A new session starts on a user's first event, after a gap of MORE
    than 30 minutes, or on a signup event; the session id is
    ``<user>-<start second>``. A purchase sets the cart to its value; a
    new user's cart starts at 0."""
    ts_sec = cs.ts[rows] // gen.NS
    eid, user = cs.event_id[rows], cs.user_id[rows]
    etype, value = cs.event_type[rows], cs.value[rows]
    signup, purchase = gen.EVENT_TYPES.index("signup"), gen.EVENT_TYPES.index("purchase")
    state: dict[int, tuple[int, int, float]] = {}  # user -> (last_ts, start, cart)
    out: dict[int, tuple] = {}
    for i in np.lexsort((eid, ts_sec)):
        u, t = int(user[i]), int(ts_sec[i])
        prev = state.get(u)
        if prev is None:
            last, start, cart = None, None, 0.0
        else:
            last, start, cart = prev
        split = last is None or t - last > gen.GAP_SEC or etype[i] == signup
        if split:
            start = t
        if etype[i] == purchase:
            cart = float(value[i])
        out[int(eid[i])] = (f"{u}-{start}", bool(split), prev is None, cart)
        state[u] = (t, start, cart)
    return out


def clickstream_errors(expected: dict[int, tuple], out: pa.Table) -> int:
    """Records missing from the sink, delivered more than once, or whose
    session fields differ from the reference."""
    cols = [out.column(c).to_pylist() for c in
            ("event_id", "session_id", "is_new_session", "is_new_user", "cart_amt")]
    seen = Counter(cols[0])
    errors = sum(n - 1 for n in seen.values() if n > 1)
    errors += sum(1 for e in seen if e not in expected)
    errors += sum(1 for e in expected if e not in seen)
    for e, sid, new_s, new_u, cart in zip(*cols):
        if e in expected and expected[e] != (sid, new_s, new_u, cart):
            errors += 1
    return errors


def corpus_expectations(drops) -> dict[int, str | None]:
    """doc_id -> expected outcome: ``"accepted"``, a reject reason, or
    None for an exact copy that the stream's dedup drops without a trace."""
    exp = {}
    for docs in drops:
        for doc_id, _, kind in docs:
            if kind == gen.NORMAL:
                exp[doc_id] = "accepted"
            elif kind == gen.EXACT_COPY:
                exp[doc_id] = None
            else:
                exp[doc_id] = gen.EXPECTED_REASON[kind]
    return exp


def corpus_errors(expected: dict[int, str | None], accepted: pa.Table,
                  rejected: pa.Table) -> int:
    """Documents whose outcome differs from the expectation, plus any
    document the sinks hold more than once or that was never input."""
    got = [(d, "accepted") for d in accepted.column("doc_id").to_pylist()]
    got += zip(rejected.column("doc_id").to_pylist(),
               rejected.column("reject_reason").to_pylist())
    seen = Counter(d for d, _ in got)
    errors = sum(n - 1 for n in seen.values() if n > 1)
    errors += sum(1 for d in seen if d not in expected)
    outcome = dict(got)
    for d, want in expected.items():
        if outcome.get(d) != want:
            errors += 1
    return errors
