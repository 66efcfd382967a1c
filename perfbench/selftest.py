"""Fast self-test of the benchmark itself.

    python3 perfbench/selftest.py

Runs both workloads traced on tiny inputs, then checks that:

- every output record matches the reference (error_rate 0);
- a corrupted output raises the error count: one wrong session id, one
  missing session row, one missing accepted document, one wrong reject
  reason;
- every end-to-end metric is positive and every metric name and unit in
  BENCHMARK.json is emitted, and each per-layer metric is measured on at
  least one workload.

Exits 0 when all hold, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pyarrow as pa

import run

TINY_SEED = 5


def corrupt_clickstream(expected: dict, out: pa.Table) -> list[str]:
    problems = []
    sid = out.column("session_id").to_pylist()
    sid[0] = sid[0] + "x"
    wrong = out.set_column(out.schema.get_field_index("session_id"), "session_id",
                           pa.array(sid, pa.string()))
    if run.reference.clickstream_errors(expected, wrong) != 1:
        problems.append("a wrong session id was not counted as one error")
    if run.reference.clickstream_errors(expected, out.slice(1)) != 1:
        problems.append("a missing session row was not counted as one error")
    if run.reference.clickstream_errors(expected, pa.concat_tables([out, out.slice(0, 1)])) != 1:
        problems.append("a duplicated session row was not counted as one error")
    return problems


def corrupt_corpus(expected: dict, accepted: pa.Table, rejected: pa.Table) -> list[str]:
    problems = []
    if run.reference.corpus_errors(expected, accepted.slice(1), rejected) != 1:
        problems.append("a missing accepted document was not counted as one error")
    reasons = rejected.column("reject_reason").to_pylist()
    reasons[0] = "store_duplicate" if reasons[0] != "store_duplicate" else "too_short"
    wrong = rejected.set_column(rejected.schema.get_field_index("reject_reason"),
                                "reject_reason", pa.array(reasons, pa.string()))
    if run.reference.corpus_errors(expected, accepted, wrong) != 1:
        problems.append("a wrong reject reason was not counted as one error")
    return problems


def check_outputs(bench: run.Bench) -> list[str]:
    problems = []
    for kind, source, out, batch_ids in bench.checked:
        if kind == "clickstream":
            expected = run.reference.sessionize(source, slice(0, source.bounds[-1]))
            problems += corrupt_clickstream(expected, run.read_batches(out, batch_ids))
        else:
            expected = run.reference.corpus_expectations(source.drops)
            problems += corrupt_corpus(expected, run.read_batches(out[0], batch_ids),
                                       run.read_batches(out[1], batch_ids))
    return problems


def check_names(emitted: dict[str, dict], measured: set[str]) -> list[str]:
    with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    problems = []
    if sorted(w["name"] for w in spec["workloads"]) != sorted(emitted):
        problems.append("BENCHMARK.json workloads differ from the run's workloads")
    for section, trace in (("end_to_end", False), ("per_layer", True)):
        for m in spec[section]:
            for wl, lines in emitted.items():
                got = lines[trace]["metrics"].get(m["name"])
                if got is None:
                    problems.append(f"{wl}: {m['name']} not emitted")
                elif got["unit"] != m["unit"]:
                    problems.append(f"{wl}: {m['name']} unit {got['unit']} != {m['unit']}")
                elif not trace and not got["value"] > 0:
                    problems.append(f"{wl}: end-to-end {m['name']} is {got['value']}")
        names = {m["name"] for m in spec[section]}
        extra = set(emitted[next(iter(emitted))][trace]["metrics"]) - names
        if extra:
            problems.append(f"{section}: emitted but not in BENCHMARK.json: {sorted(extra)}")
    unmeasured = {m["name"] for m in spec["per_layer"]} - measured - {"error_rate"}
    if unmeasured:
        problems.append(f"per-layer metrics measured on no workload: {sorted(unmeasured)}")
    return problems


def main() -> int:
    # tiny shapes: a few seconds of work per phase
    run.DRAIN_SIZES = run.ONE_CORE_SIZES = (50, 100, 300)
    run.PACED_DROP, run.PACED_INTERVAL_S = 50, 1.0
    run.CORPUS_SIZES = (30, 80)
    sys.path.insert(0, run.ROOT)
    problems, emitted, measured = [], {}, set()
    for workload in ("clickstream", "corpus_ingest"):
        bench = None
        try:
            bench, e2e, context = run.measure(workload, TINY_SEED, 3, True)
            if bench.failed:
                problems.append(f"{workload}: {bench.failed} of {bench.attempted} records "
                                "differ from the reference")
            problems += check_outputs(bench)
            emitted[workload] = {t: run.result_line(bench, e2e, context, t)
                                 for t in (False, True)}
            measured |= set(bench.layer)
        finally:
            if bench is not None:
                shutil.rmtree(bench.work, ignore_errors=True)
    problems += check_names(emitted, measured)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
