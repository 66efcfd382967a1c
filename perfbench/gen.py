"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the
same rows, byte for byte, so the benchmark process (which needs the rows
for its reference) and the paced generator process (which drops them on
a schedule) agree without talking to each other.

Run as a script this module is the paced generator: a single separate
process that drops one parquet file per interval, renames it into the
source directory atomically, and appends one JSON line per drop (its
due time and the time it actually landed) to a manifest.

    python3 perfbench/gen.py --dir SRC --stage TMP --manifest M \
        --seed 7 1 --users 2000 --drop-size 500 --backlog 2 --count 6 --interval 2.0
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NS = 1_000_000_000
T0_SEC = 1_700_000_000
GAP_SEC = 1800  # the sessionizer's default split gap

EVENT_TYPES = ("view", "click", "purchase", "signup")
EVENT_P = (0.62, 0.25, 0.08, 0.05)


@dataclass(frozen=True)
class Clickstream:
    """Click events cut into time-ordered drops. Row i of every array is
    one event and drop k is rows ``bounds[k]:bounds[k+1]``. Event ids
    follow time order, so drop k holds exactly the ids in that range."""

    event_id: np.ndarray
    ts: np.ndarray  # epoch nanoseconds, as the event schema declares
    user_id: np.ndarray
    event_type: np.ndarray  # index into EVENT_TYPES
    value: np.ndarray
    bounds: tuple

    def drop_rows(self, k: int) -> slice:
        return slice(self.bounds[k], self.bounds[k + 1])

    def drop_of(self, event_id: int) -> int:
        return int(np.searchsorted(self.bounds, event_id, side="right")) - 1


def clickstream(seed, sizes, n_users: int, zipf_s: float = 0.8,
                horizon_days: int = 30) -> Clickstream:
    """Events of ``n_users`` users with Zipf-skewed activity, cut into
    drops of the given sizes.

    Each user's inter-event gaps are drawn from a mixture that straddles
    the 30-minute split: short gaps, exactly 1799/1800/1801 s, and long
    gaps. The whole stream is sorted by time and cut into drops, then
    rows are shuffled within each drop (the drops stay in time order)."""
    rng = np.random.default_rng(seed)
    bounds = tuple(int(b) for b in np.r_[0, np.cumsum(sizes)])
    n = bounds[-1]
    w = np.arange(1, n_users + 1, dtype=np.float64) ** -zipf_s
    counts = rng.multinomial(n, w / w.sum())
    ids = rng.permutation(n_users).astype(np.int64) + 1
    keep = counts > 0
    counts, ids = counts[keep], ids[keep]
    user = np.repeat(ids, counts)

    kind = rng.choice(5, size=n, p=(0.55, 0.08, 0.07, 0.05, 0.25))
    gaps = np.where(
        kind == 0, rng.integers(1, 900, n),
        np.where(kind == 1, GAP_SEC, np.where(kind == 2, GAP_SEC + 1,
                 np.where(kind == 3, GAP_SEC - 1, rng.integers(GAP_SEC + 2, 20_000, n)))),
    ).astype(np.int64)
    first = np.r_[0, np.cumsum(counts)[:-1]]
    gaps[first] = rng.integers(0, horizon_days * 86_400, len(first))
    cs = np.cumsum(gaps)
    ts_sec = cs - np.repeat(cs[first] - gaps[first], counts) + T0_SEC

    etype = rng.choice(len(EVENT_TYPES), size=n, p=EVENT_P)
    etype[first] = np.where(rng.random(len(first)) < 0.5, 3, etype[first])
    value = np.round(rng.uniform(1.0, 500.0, n), 2)
    # the sub-second part keeps ts_sec = floor(ts / 1e9) unambiguous
    ts = ts_sec * NS + rng.integers(NS // 10, 9 * NS // 10, n)

    order = np.lexsort((user, ts))
    user, ts, etype, value = user[order], ts[order], etype[order], value[order]
    eid = np.arange(n, dtype=np.int64)
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        p = rng.permutation(hi - lo) + lo
        eid[lo:hi], user[lo:hi], ts[lo:hi], etype[lo:hi], value[lo:hi] = (
            eid[p], user[p], ts[p], etype[p], value[p])
    return Clickstream(eid, ts, user, etype, value, bounds)


_PROPS = np.asarray([f'{{"k": {i}}}' for i in range(10)], dtype=object)


def clickstream_table(cs: Clickstream, k: int) -> pa.Table:
    s = cs.drop_rows(k)
    et = np.asarray(EVENT_TYPES, dtype=object)[cs.event_type[s]]
    return pa.table({
        "event_id": pa.array(cs.event_id[s], pa.int64()),
        "ts": pa.array(cs.ts[s], pa.int64()),
        "user_id": pa.array(cs.user_id[s], pa.int64()),
        "event_type": pa.array(et, pa.string()),
        "value": pa.array(cs.value[s], pa.float64()),
        "props": pa.array(_PROPS[cs.event_id[s] % 10], pa.string()),
    })


def write_drop(table: pa.Table, out_dir: str, name: str, stage_dir: str) -> str:
    """Write to ``stage_dir`` then rename into ``out_dir``: a file stream
    source never sees a half-written file."""
    tmp = os.path.join(stage_dir, name)
    pq.write_table(table, tmp)
    final = os.path.join(out_dir, name)
    os.rename(tmp, final)
    return final


def drop_name(k: int) -> str:
    return f"drop-{k:05d}.parquet"


# --- corpus ------------------------------------------------------------------
# A 100-word vocabulary: large enough that three-word shingles of unrelated
# documents almost never meet (so only planted eval copies cross the
# contamination threshold) and small enough that the bigram LM store is
# dense after one drop (normal text scores ~6.6 bits, well under the 8-bit
# gate).
_STEMS = ("spark", "window", "merge", "table", "column", "vector", "stream",
          "value", "data", "join", "filter", "group", "hash", "customer",
          "sort", "order", "line", "part", "row", "agg", "key", "query",
          "scan", "batch", "state", "sink", "source", "offset", "commit",
          "plan", "store", "shard", "cache", "index", "page", "block",
          "frame", "event", "user", "click")
_SUFFIX = ("", "s", "ed")
VOCAB = tuple(s + x for x in _SUFFIX for s in _STEMS)[:100]
LANGS = ("en", "de", "fr", "es", "zh")

# planted-document kinds and the reject reason the ingest must give them
NORMAL, EXACT_COPY, NEAR_DUP, EVAL_COPY, TOO_SHORT = range(5)
EXPECTED_REASON = {NEAR_DUP: "near_duplicate", EVAL_COPY: "contaminated",
                   TOO_SHORT: "too_short"}
PLANTED_ID_BASE = 10_000_000


@dataclass(frozen=True)
class Corpus:
    drops: list  # per drop: list of (doc_id, text, kind)
    eval_docs: list  # (doc_id, text) of the evaluation set


def _doc(rng, lo: int, hi: int) -> str:
    n = int(rng.integers(lo, hi + 1))
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def corpus(seed, sizes, n_eval: int = 100, plant_per_drop: int = 12) -> Corpus:
    """Documents in drops of ``sizes[k]`` normal documents each plus,
    from the second drop on, ``plant_per_drop`` of each planted kind:

    - exact copies of a normal document from an EARLIER drop (the
      stream's exact dedup drops them without a trace);
    - one-token near-duplicates of a long normal document in the SAME
      drop (the near-dup store's in-batch exact-Jaccard check rejects
      them; their ids are above every normal id, so the original is the
      canonical one kept);
    - copies of evaluation-set documents, each eval document copied at
      most once (rejected as contaminated);
    - documents of one to four tokens (rejected as too short).

    The first drop holds normal documents only: with every store still
    empty it defines the corpus the later drops are judged against."""
    rng = np.random.default_rng(seed)
    eval_docs = [(900_000_000 + i, _doc(rng, 30, 80)) for i in range(n_eval)]
    eval_order = rng.permutation(n_eval)
    drops, next_id, planted, n_eval_used = [], 0, PLANTED_ID_BASE, 0
    for k, size in enumerate(sizes):
        docs = []
        for _ in range(size):
            docs.append((next_id, _doc(rng, 20, 90), NORMAL))
            next_id += 1
        if k > 0:
            earlier = [d for dr in drops for d in dr if d[2] == NORMAL]
            for i in rng.choice(len(earlier), plant_per_drop, replace=False):
                docs.append((planted, earlier[i][1], EXACT_COPY))
                planted += 1
            longs = [d for d in docs if d[2] == NORMAL and len(d[1].split()) >= 60]
            for i in rng.choice(len(longs), plant_per_drop, replace=False):
                toks = longs[i][1].split()
                j = len(toks) // 2
                toks[j] = VOCAB[(VOCAB.index(toks[j]) + 1 + int(rng.integers(0, len(VOCAB) - 1)))
                                % len(VOCAB)]
                docs.append((planted, " ".join(toks), NEAR_DUP))
                planted += 1
            for i in eval_order[n_eval_used:n_eval_used + plant_per_drop]:
                docs.append((planted, eval_docs[i][1], EVAL_COPY))
                planted += 1
            n_eval_used += plant_per_drop
            for _ in range(plant_per_drop):
                docs.append((planted, _doc(rng, 1, 4), TOO_SHORT))
                planted += 1
        drops.append([docs[i] for i in rng.permutation(len(docs))])
    return Corpus(drops, eval_docs)


def docs_table(docs) -> pa.Table:
    ids = [d[0] for d in docs]
    texts = [d[1] for d in docs]
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i % len(LANGS)] for i in ids], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


# --- paced generator process ---------------------------------------------
def paced(a: argparse.Namespace) -> int:
    cs = clickstream(tuple(a.seed), [a.drop_size] * (a.backlog + a.count), a.users)
    tables = [clickstream_table(cs, k) for k in range(a.backlog, a.backlog + a.count)]
    start = time.time() + 0.05  # the schedule starts once every drop is built
    with open(a.manifest, "a", encoding="utf-8") as man:
        for i, table in enumerate(tables):
            due = start + i * a.interval
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            write_drop(table, a.dir, drop_name(a.backlog + i), a.stage)
            man.write(json.dumps({"drop": a.backlog + i, "due": due,
                                  "landed": time.time()}) + "\n")
            man.flush()
    return 0


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description="drop clickstream files on a fixed schedule")
    p.add_argument("--dir", required=True, help="source directory the stream reads")
    p.add_argument("--stage", required=True, help="directory on the same file system")
    p.add_argument("--manifest", required=True, help="JSON lines: drop, due, landed")
    p.add_argument("--seed", type=int, nargs="+", required=True)
    p.add_argument("--users", type=int, required=True)
    p.add_argument("--drop-size", type=int, required=True)
    p.add_argument("--backlog", type=int, required=True,
                   help="drops already staged before the schedule starts")
    p.add_argument("--count", type=int, required=True, help="timed drops")
    p.add_argument("--interval", type=float, required=True)
    return paced(p.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
