#!/usr/bin/env python
"""Per-round benchmark: headline engine queries at sf0.1 on local[N].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1}

Execution is forced with the `noop` datasource sink (full pipeline
runs JVM-side; nothing is collected to the driver), matching how the
engine would be deployed — write-out, not toPandas.

Env knobs (driver contract):
  SPARK_GRAFT_SF_DIR  data dir, default /root/testdata/sf0.1
  SPARK_GRAFT_CPUS    local[] threads, default 32
  BENCH_QUERIES       comma-separated subset override
  BENCH_REPEAT        timed repetitions per query (default 2; best-of)
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from msstreamingstack_spark.queries import REGISTRY  # noqa: E402
from msstreamingstack_spark.session import get_spark  # noqa: E402

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

# Headline set = every registered query. Keep the bench honest: if an
# operator is in queries(), it is benched. Pathologically quadratic
# demos would be excluded here explicitly (none currently).
EXCLUDE: set[str] = set()


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    # best-of-2 by default: first execution pays one-time codegen
    # JIT + Python-worker spin-up that a resident engine never
    # re-pays; best-of reports the steady state
    repeat = int(os.environ.get("BENCH_REPEAT", "2"))
    subset = os.environ.get("BENCH_QUERIES")
    names = (
        [n.strip() for n in subset.split(",") if n.strip()]
        if subset
        else [n for n in REGISTRY if n not in EXCLUDE]
    )

    spark = get_spark(app_name="msstreamingstack-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers once so per-query numbers measure
    # the query, not first-touch session setup
    REGISTRY[names[0]].builder(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    # host-speed calibration: a fixed, data-independent pure-JVM fold.
    # Round-6 measured the SAME commit 1.35x slower across the board in
    # a later session (two idle-host runs agreeing within 1.4%) — the
    # VM's effective CPU speed drifts between sessions, so every bench
    # artifact carries this probe; compare per-query seconds ACROSS
    # rounds only after dividing by the calib ratio.
    def _calibrate() -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            spark.range(1 << 27).selectExpr("sum(id * 3 + 1)").write.format(
                "noop"
            ).mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return round(best, 4)

    # shuffle-path calibration: the CPU probe above never exchanges, so
    # it cannot explain drift on persist/shuffle-heavy queries (round-6
    # saw calib IMPROVE while exchange-bound queries degraded 1.6-2x).
    # This probe is a fixed two-exchange aggregate — groupBy(k) then
    # groupBy(count) — so its best-of-3 tracks shuffle write/read + IO
    # speed of the host; compare exchange-heavy queries across rounds
    # against THIS ratio, pure-JVM scans against the CPU one.
    def _calibrate_shuffle() -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            (
                spark.range(1 << 24)
                .selectExpr("id % 100000 AS k")
                .groupBy("k")
                .count()
                .groupBy("count")
                .count()
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            best = min(best, time.perf_counter() - t0)
        return round(best, 4)

    # Python-worker/Arrow calibration (round-9, verdict task #3): the
    # two probes above never leave the JVM, so they cannot explain
    # drift on the Pandas-UDF cohort (SRP/IVF/quantized-ANN kernels) —
    # worker fork cost, Arrow serialization throughput, and the
    # python process pool's warmth are a third independent axis. A
    # fixed Arrow round-trip: first run carries spin-up (recorded as
    # the cold number — the driver window runs queries exactly once,
    # so ITS pandas queries pay this), best-of-3 is the steady state.
    def _calibrate_pyworker() -> tuple[float, float]:
        from pyspark.sql.functions import col, pandas_udf

        @pandas_udf("double")
        def _probe_fold(v):
            return v * 0.5 + 1.0

        best, first = float("inf"), None
        for _ in range(3):
            t0 = time.perf_counter()
            (
                spark.range(1 << 21)
                .select(_probe_fold(col("id").cast("double")).alias("x"))
                .selectExpr("sum(x)")
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            dt = time.perf_counter() - t0
            if first is None:
                first = dt
            best = min(best, dt)
        return round(best, 4), round(first, 4)

    # Parquet-scan IO calibration: a full-column scan of the round's
    # largest fact table (fixed per SF, so cross-round comparable at
    # the same SF). Separates page-cache/IO drift from CPU drift —
    # scan-bound queries (0-shuffle narrow plans) track THIS probe.
    def _calibrate_scan() -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            (
                spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
                .selectExpr("count(*)", "sum(l_quantity)", "max(l_shipdate)")
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            best = min(best, time.perf_counter() - t0)
        return round(best, 4)

    calib = _calibrate()
    shuffle_calib = _calibrate_shuffle()
    pyworker_calib, pyworker_cold = _calibrate_pyworker()
    scan_calib = _calibrate_scan()

    # Steady-state protocol: every query runs `repeat` times (best-of);
    # queries whose best still exceeds 2 s get a third run so the
    # committed number is a true best-of-3 steady state, and their
    # FIRST-run (cold: persist population, Python-worker spin-up,
    # codegen) time is recorded beside it — the iterative family
    # (PageRank, CC fixpoint, triangle) is dominated by cold persist
    # costs a resident engine pays once.
    STEADY_THRESHOLD_S = 2.0
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    affinity: dict[str, str] = {}
    # name -> [unix wall-clock at query start, max 1-min loadavg seen
    # across its start/end] — per-row contamination context (r11).
    load_ctx: dict[str, list[float]] = {}

    # Probe affinity: which calibration ratio explains this query's
    # cross-round drift. Only round 7 onward carries BOTH probes, so a
    # history correlation is underdetermined (one paired point); the
    # causal stand-in is the plan itself — a query whose physical plan
    # carries >=2 Exchange nodes lives on the shuffle write/read path
    # the shuffle probe exercises, everything else tracks the pure-JVM
    # CPU probe. Recorded per query (`probe_affinity`) so a reader of
    # the payload normalizes each row by the right probe instead of by
    # prose. (Formatted
    # explain prints each node twice — tree + detail — so 2 physical
    # Exchanges == 4 regex hits; plan_facts counts raw hits.)
    def _probe_affinity(df) -> str:
        try:
            from msstreamingstack_spark.plans.inspect import plan_facts

            facts = plan_facts(df)
            if facts.python_evals >= 1:
                return "pyworker"  # Arrow/Python-pool path dominates drift
            return "shuffle" if facts.shuffles >= 4 else "cpu"
        except Exception:
            return "cpu"  # plan text unavailable: default to CPU probe

    for name in names:
        best = float("inf")
        first = None
        reps = max(repeat, 1)
        done = 0
        # r11 (verdict task #3): instantaneous start/end probes cannot
        # certify a multi-second query's window — a steal burst
        # mid-run is invisible to them. Stamp every query's reading
        # with the wall-clock + 1-min loadavg AT ITS OWN measurement
        # so per-row contamination is attributable after the fact.
        q_wall = time.time()
        q_load = os.getloadavg()[0]
        # plan-derived, so computed OUTSIDE the timed region (explain
        # costs planning time that would pollute the cold number)
        affinity[name] = _probe_affinity(REGISTRY[name].builder(spark, sf_dir))
        while done < reps:
            t0 = time.perf_counter()
            df = REGISTRY[name].builder(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            if first is None:
                first = dt
            best = min(best, dt)
            done += 1
            if done == reps and best > STEADY_THRESHOLD_S and reps < 3:
                reps += 1  # one extra rep for the expensive cohort
        timings[name] = round(best, 4)
        # r10 (verdict task #4): the driver window runs each query
        # exactly ONCE, so its reading is the COLD number — record the
        # first-run time beside the steady best whenever they diverge
        # (persist population, Python-worker spin-up, codegen), not
        # just for the >2 s cohort, so AUDIT can normalize every
        # rotating-persist row's driver reading instead of flagging it
        # as a regression.
        # r11 (ADVICE): the relative condition alone has no absolute
        # floor, so sub-100ms queries whose first rep jitters >25%
        # would add noise rows the audit then treats as real
        # cold-start costs — require an absolute gap too.
        if first is not None and (
            first > STEADY_THRESHOLD_S
            or (first > 1.25 * best and first - best > 0.05)
        ):
            cold[name] = round(first, 4)
        load_ctx[name] = [
            round(q_wall, 1),
            round(max(q_load, os.getloadavg()[0]), 2),
        ]
        print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr)
        # drop the previous query's shuffle/broadcast refs between
        # measurements — accumulated heap inflates later queries 2-4x
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    total = round(sum(timings.values()), 4)
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cold": cold,
        "load_ctx": load_ctx,
        "sf": _sf_from_dir(sf_dir),
        "calib_sec": calib,
        "shuffle_calib_sec": shuffle_calib,
        "pyworker_calib_sec": pyworker_calib,
        "pyworker_cold_sec": pyworker_cold,
        "scan_calib_sec": scan_calib,
        # 1/5/15-min load BEFORE the run started is unknowable here,
        # but the post-probe snapshot still flags a contended host
        # (the r8 driver-window gap suspect): loadavg >> CPUs means
        # the numbers above shared the box with something.
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "probe_affinity": affinity,
    }
    # The driver records only the last 2000 chars of stdout and
    # json-parses from that tail — a single 5 KB line with all 126
    # queries can therefore NEVER parse (BENCH_r04/r05 recorded
    # "parsed": null). Emit TWO lines: the full payload first (and as
    # the durable BENCH.json copy), then a compact LAST line bounded
    # well under the tail window so the driver's parse always
    # succeeds; its "queries" map carries as many per-query timings as
    # fit, slowest first (the informative ones), with the full map in
    # the file the "full" key points at.
    line = json.dumps(payload, separators=(",", ":"))
    # r12 (verdict task #7): a non-default SPARK_GRAFT_CPUS full run
    # (the driver's scaling pass) used to clobber the 32-core record —
    # suffix the durable copy by cpu count so c8 and c32 runs coexist.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    durable = "BENCH.json" if cpus == "32" else f"BENCH_c{cpus}.json"
    if not subset:
        # only FULL runs own the durable copy — a BENCH_QUERIES subset
        # run would silently clobber the full-registry record
        out_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), durable
        )
        with open(out_path, "w") as fh:
            fh.write(line + "\n")
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": {},
        "sf": payload["sf"],
        "n_queries": len(timings),
        "calib_sec": calib,
        "shuffle_calib_sec": shuffle_calib,
        "pyworker_calib_sec": pyworker_calib,
        "scan_calib_sec": scan_calib,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "median_sec": round(sorted(timings.values())[len(timings) // 2], 4)
        if timings
        else 0.0,
        "full": durable,
    }
    budget = 1800  # tail window is 2000; leave headroom
    for qname, secs in sorted(timings.items(), key=lambda kv: -kv[1]):
        compact["queries"][qname] = secs
        if len(json.dumps(compact, separators=(",", ":"))) > budget:
            del compact["queries"][qname]
            break
    print(line, flush=True)
    sys.stdout.flush()
    sys.stderr.flush()
    print(json.dumps(compact, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
