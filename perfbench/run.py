"""Benchmark for the streaming engine.

    python3 perfbench/run.py --workload clickstream --seed 1 --seconds 12 --trace 0

Builds every input from ``--seed``, runs the program through its public
entry points, checks every output record against an independent
reference, and prints one JSON object as the last line of standard
output: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import reference  # noqa: E402
from probe import (  # noqa: E402
    RssSampler, Tracer, batch_window, cpu_ticks, progress_rows, wait_ended)

# --- workload shapes ---------------------------------------------------------
# clickstream drain: a tiny first drop is the query's cold micro-batch
# (set-up), a small second one warms the Python workers, and the rest
# measure capacity.
DRAIN_USERS = 50_000
DRAIN_SIZES = (200, 1_500, 5_000, 5_000)
CAPACITY_BATCH = 2  # index of the first capacity drop
# clickstream paced: fewer users, small drops; the cold-start drops are
# drained before the schedule starts (the first timed batch after a
# single one still runs ~30% slow)
PACED_USERS = 2_000
PACED_DROP = 500
PACED_COLD_DROPS = 2
PACED_INTERVAL_S = 2.0
# single-thread baseline (traced runs): the drain's shape, one smaller capacity drop
ONE_CORE_SIZES = (200, 1_500, 3_000)
# corpus ingest: first drop defines the corpus (all stores empty), the
# drops after it carry the planted documents and hit every store
CORPUS_SIZES = (100, 150)

# a run must end within 180 s; no single wait may eat that
DRAIN_TIMEOUT_S = 100

E2E = ("setup_s", "records_per_s", "latency_p50_ms", "latency_p90_ms", "peak_rss_mb")
UNITS = {"setup_s": "s", "records_per_s": "1/s", "latency_p50_ms": "ms",
         "latency_p90_ms": "ms", "peak_rss_mb": "MB"}
REJECT_REASONS = ("too_short", "too_repetitive", "contaminated", "near_duplicate",
                  "store_duplicate", "low_quality_lm")


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run emits, in a fixed order."""
    names = [
        "session.spark_start_s", "session.first_batch_s",
        "sources.latest_offset_ms", "sources.get_batch_ms",
        "sources.backlog_drops_max", "gen.late_max_ms",
        "pipeline.batches", "pipeline.trigger_ms", "pipeline.query_planning_ms",
        "pipeline.wal_commit_ms", "pipeline.commit_offsets_ms",
        "pipeline.add_batch_ms", "pipeline.jobs_per_batch", "pipeline.observed_rows",
        "pipeline.records_per_s_1core",
        "stateful.compute_ms", "stateful.all_updates_ms", "stateful.commit_ms",
        "stateful.load_ms", "stateful.state_rows", "stateful.state_bytes",
        "stateful.rows_updated", "stateful.rocksdb_bytes_written",
        "sinks.write_ms", "sinks.bytes_per_record", "sinks.files",
        "corpus.batch_ms", "corpus.accepted",
    ]
    names += [f"corpus.rejected.{r}" for r in REJECT_REASONS]
    names += ["corpus.dedup_dropped", "corpus.gate_fail",
              "corpus.store_bytes.digest", "corpus.store_bytes.neardup",
              "corpus.store_bytes.lm", "corpus.store_files",
              "trace.overhead_pct", "error_rate"]
    return names


def quantile(values, q: float) -> float:
    """Inclusive linear-interpolation quantile (0 < q < 1)."""
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def data_files(path: str) -> list[str]:
    """The data files under ``path``, without the hidden and underscore
    files writers keep beside them."""
    found = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        found += [os.path.join(dirpath, f) for f in filenames if not f.startswith((".", "_"))]
    return found


def read_batches(path: str, batch_ids) -> "pq.Table | None":
    """Read the ``batch_id=N`` directories a foreachBatch sink wrote for
    the given committed batches."""
    parts = [os.path.join(path, f"batch_id={b}") for b in sorted(batch_ids)]
    parts = [p for p in parts if os.path.isdir(p)]
    if not parts:
        return None
    return pa.concat_tables(
        [pq.read_table(p) for p in parts], promote_options="default")


class TimedSink:
    """Wraps a foreachBatch sink and records, per batch, when the call
    started, when the batch DataFrame was materialized (traced runs
    only: the count runs the stateful operator into the cache that
    run_pipeline's fan-out holds) and when the write returned."""

    def __init__(self, write, materialize: bool):
        self.write, self.materialize = write, materialize
        self.batches: list[dict] = []

    def __call__(self, df, batch_id: int) -> None:
        start = time.time()
        if self.materialize:
            df.count()
        ready = time.time()
        self.write(df, batch_id)
        self.batches.append({"batch": batch_id, "start": start, "ready": ready,
                             "end": time.time()})


class Bench:
    """One benchmark run: a work directory inside the checkout, a Spark
    session sized to the machine, and the measurements taken so far."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.work = os.path.join(ROOT, ".perfbench", "work", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.tracer = Tracer(f"{workload}-{seed}", time.time(), workload=workload, seed=seed)
        self.layer: dict[str, float] = {}
        self.attempted = self.failed = 0
        self.gen_late_max_ms = None
        self.latency_ms: list[float] = []
        self.checked: list[tuple] = []  # (kind, input, output dir(s), batch ids) per check
        self.spark = None

    def path(self, *parts: str) -> str:
        """A path under the work directory; its parent exists."""
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        """A directory under the work directory, created if missing."""
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    # --- session -------------------------------------------------------------
    def start_session(self, cpus: int) -> float:
        from msstreamingstack_spark.session import get_spark

        t0 = time.time()
        self.spark = get_spark(
            app_name="perfbench", cpus=cpus,
            extra_conf={
                "spark.local.dir": self.dir("local"),
                "spark.sql.warehouse.dir": self.path("warehouse"),
                # a fixed heap (-Xms = -Xmx): a growing heap sized by GC timing
                # moved the RSS peak by about 15% between identical runs; no
                # perf-data file, which the JVM would write outside the checkout
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.dir('tmp')} -Xms{os.environ['SPARK_DRIVER_MEM']}"
                    " -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.time()
        self.tracer.span("session.start", t0, t1, cpus=cpus)
        return t1 - t0

    def jobs(self) -> int:
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # --- clickstream ---------------------------------------------------------
    def drain(self, name: str, cs: gen.Clickstream, materialize: bool):
        """Stage every drop, drain them with ``availableNow``, check the
        output and return (sink, progress rows, query start time)."""
        from msstreamingstack_spark.sinks.writers import parquet_append_writer
        from msstreamingstack_spark.streaming.pipeline import run_pipeline

        src, stage = self.dir(name, "src"), self.dir(name, "stage")
        for k in range(len(cs.bounds) - 1):
            gen.write_drop(gen.clickstream_table(cs, k), src, gen.drop_name(k), stage)
        out = self.path(name, "out")
        sink = TimedSink(parquet_append_writer(out), materialize)
        t0 = time.time()
        q = run_pipeline(self.spark, src, self.path(name, "cp"), [sink])
        span = self.tracer.span("query", t0, t0, query=name)
        self.tracer.span("query.start", t0, time.time(), parent=span)
        q.awaitTermination(DRAIN_TIMEOUT_S)
        if q.isActive:
            q.stop()
            raise TimeoutError(f"{name}: drain did not finish in {DRAIN_TIMEOUT_S} s")
        self.tracer.end(span, time.time())
        rows = progress_rows(q)
        self.record_sink_spans(sink, rows, span)
        self.check_clickstream(cs, out, [b["batch"] for b in sink.batches])
        return sink, rows, t0

    def check_clickstream(self, cs: gen.Clickstream, out_dir: str, batch_ids) -> None:
        self.checked.append(("clickstream", cs, out_dir, sorted(batch_ids)))
        expected = reference.sessionize(cs, slice(0, cs.bounds[-1]))
        out = read_batches(out_dir, batch_ids)
        self.attempted += len(expected)
        if out is None:
            self.failed += len(expected)
            return
        self.failed += reference.clickstream_errors(expected, out)

    def record_sink_spans(self, sink: TimedSink, rows: list[dict], query_span: int) -> None:
        by_batch = {r["batchId"]: r for r in rows}
        for b in sink.batches:
            r = by_batch.get(b["batch"])
            parent = query_span
            if r is not None:
                s, e = batch_window(r)
                parent = self.tracer.span("batch", s, e, parent=query_span,
                                          batch=r["batchId"], rows=r["numInputRows"])
            if sink.materialize:
                self.tracer.span("batch.materialize", b["start"], b["ready"], parent=parent)
            self.tracer.span("sink.write", b["ready"], b["end"], parent=parent)

    def run_clickstream(self) -> dict:
        from msstreamingstack_spark.streaming.pipeline import use_rocksdb_state

        spark_start_s = self.start_session(machine_cpus())
        use_rocksdb_state(self.spark)

        # drain: every drop staged before the query starts
        cs = gen.clickstream((self.seed, 0), DRAIN_SIZES, DRAIN_USERS)
        sink, rows, t_start = self.drain("drain", cs, False)
        first_batch_s, records_per_s = drain_figures(sink, t_start, cs)

        # paced: open loop from a separate generator process
        paced = self.run_paced()

        if self.trace:
            # the same drain again with the batch materialized on its own
            # gives the per-layer figures; one more untraced drain right
            # after it, equally warm, gives the tracing overhead
            tsink, trows, t_traced = self.drain("drain_traced", cs, True)
            _, traced_per_s = drain_figures(tsink, t_traced, cs)
            psink, _, t_plain = self.drain("drain_plain", cs, False)
            _, plain_per_s = drain_figures(psink, t_plain, cs)
            self.layer["trace.overhead_pct"] = 100.0 * (plain_per_s / traced_per_s - 1.0)
            self.layer["pipeline.records_per_s_1core"] = self.one_core_drain()
            self.clickstream_layers(tsink, trows, paced)
            self.layer["session.spark_start_s"] = spark_start_s
            self.layer["session.first_batch_s"] = first_batch_s
        return {
            "setup_s": spark_start_s + first_batch_s,
            "records_per_s": records_per_s,
            "latency_p50_ms": quantile(paced["latency_ms"], 0.5),
            "latency_p90_ms": quantile(paced["latency_ms"], 0.9),
        }

    def run_paced(self) -> dict:
        """Cold-start drops first; once they are through, a separate process
        drops one file every PACED_INTERVAL_S and stamps its due time.
        Completion is read from the sink wrapper and the query progress,
        never from a Spark action."""
        from msstreamingstack_spark.sinks.writers import parquet_append_writer
        from msstreamingstack_spark.streaming.pipeline import run_pipeline

        count = max(1, int(self.seconds / PACED_INTERVAL_S))
        sizes = [PACED_DROP] * (PACED_COLD_DROPS + count)
        seed = (self.seed, 1)
        cs = gen.clickstream(seed, sizes, PACED_USERS)
        src, stage = self.dir("paced", "src"), self.dir("paced", "stage")
        for k in range(PACED_COLD_DROPS):
            gen.write_drop(gen.clickstream_table(cs, k), src, gen.drop_name(k), stage)
        sink = TimedSink(parquet_append_writer(self.path("paced", "out")), self.trace)
        jobs0 = self.jobs()
        t0 = time.time()
        q = run_pipeline(self.spark, src, self.path("paced", "cp"), [sink], available_now=False)
        span = self.tracer.span("query", t0, t0, query="paced")
        self.tracer.span("query.start", t0, time.time(), parent=span)
        try:
            wait_for(lambda: len(sink.batches) >= PACED_COLD_DROPS, q, "paced cold start")
            manifest = self.path("paced", "manifest.jsonl")
            proc = subprocess.Popen([
                sys.executable, os.path.join(HERE, "gen.py"),
                "--dir", src, "--stage", stage, "--manifest", manifest,
                "--seed", *map(str, seed), "--users", str(PACED_USERS),
                "--drop-size", str(PACED_DROP), "--backlog", str(PACED_COLD_DROPS),
                "--count", str(count), "--interval", str(PACED_INTERVAL_S)])
            try:
                proc.wait(timeout=count * PACED_INTERVAL_S + 30)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
            if proc.returncode != 0:
                raise RuntimeError(f"paced generator exited with {proc.returncode}")
            wait_for(lambda: len(sink.batches) >= PACED_COLD_DROPS + count, q, "paced drain")
        finally:
            q.stop()
        self.tracer.end(span, time.time())
        rows = progress_rows(q)
        jobs = self.jobs() - jobs0
        with open(manifest, encoding="utf-8") as f:
            drops = [json.loads(line) for line in f]
        self.tracer.span("gen.schedule", drops[0]["due"], drops[-1]["landed"], parent=span,
                         drops=len(drops))

        # the sink output tells which drop each batch held
        out_dir = self.path("paced", "out")
        ends = {b["batch"]: b["end"] for b in sink.batches}
        drop_batch = {}
        for b in ends:
            ids = pq.read_table(os.path.join(out_dir, f"batch_id={b}"),
                                columns=["event_id"]).column("event_id")
            lo, hi = cs.drop_of(pc.min(ids).as_py()), cs.drop_of(pc.max(ids).as_py())
            if lo != hi:
                raise RuntimeError(f"batch {b} holds drops {lo}..{hi}; one drop per batch expected")
            drop_batch[lo] = b
        late = [1000.0 * (d["landed"] - d["due"]) for d in drops]
        self.gen_late_max_ms = max(late)
        latency = [1000.0 * (ends[drop_batch[d["drop"]]] - d["due"])
                   for d in drops if d["drop"] in drop_batch]
        self.latency_ms = latency
        self.check_clickstream(cs, out_dir, ends)
        self.record_sink_spans(sink, rows, span)
        # backlog: drops already due but not yet through when a batch starts
        backlog = []
        for r in rows:
            if r["numInputRows"] > 0 and r["batchId"] >= PACED_COLD_DROPS:
                s, _ = batch_window(r)
                backlog.append(sum(1 for d in drops if d["due"] <= s
                                   and drop_batch.get(d["drop"], r["batchId"]) >= r["batchId"]))
        return {"latency_ms": latency, "rows": rows, "sink": sink, "jobs": jobs,
                "backlog": backlog}

    def one_core_drain(self) -> float:
        """The drain's first capacity drop on a one-thread session."""
        from msstreamingstack_spark.streaming.pipeline import use_rocksdb_state

        self.stop_session()
        self.start_session(1)
        use_rocksdb_state(self.spark)
        cs = gen.clickstream((self.seed, 2), ONE_CORE_SIZES, DRAIN_USERS)
        sink, _, t0 = self.drain("one_core", cs, False)
        return drain_figures(sink, t0, cs)[1]

    def clickstream_layers(self, sink, drain_rows, paced) -> None:
        """Per-layer figures: fixed per-batch costs from the paced
        batches, per-row costs from the traced drain's capacity batch."""
        data = [r for r in drain_rows + paced["rows"] if r["numInputRows"] > 0]
        cap = drain_rows[CAPACITY_BATCH:]
        prow = [r for r in paced["rows"]
                if r["numInputRows"] > 0 and r["batchId"] >= PACED_COLD_DROPS]
        L = self.layer

        def dur(rows, key):
            return median([r["durationMs"].get(key, 0) for r in rows])

        def state(rows, key):
            return [r["stateOperators"][0].get(key, 0) for r in rows if r["stateOperators"]]

        def custom(rows, key):
            return [r["stateOperators"][0]["customMetrics"].get(key, 0)
                    for r in rows if r["stateOperators"]]

        L["sources.latest_offset_ms"] = dur(prow, "latestOffset")
        L["sources.get_batch_ms"] = dur(prow, "getBatch")
        L["sources.backlog_drops_max"] = max(paced["backlog"], default=0)
        L["gen.late_max_ms"] = self.gen_late_max_ms
        L["pipeline.batches"] = len(data)
        L["pipeline.trigger_ms"] = dur(prow, "triggerExecution")
        L["pipeline.query_planning_ms"] = dur(prow, "queryPlanning")
        L["pipeline.wal_commit_ms"] = dur(prow, "walCommit")
        L["pipeline.commit_offsets_ms"] = dur(prow, "commitOffsets")
        L["pipeline.add_batch_ms"] = dur(prow, "addBatch")
        L["pipeline.jobs_per_batch"] = paced["jobs"] / max(1, len(paced["rows"]))
        L["pipeline.observed_rows"] = sum(
            r["observedMetrics"].get("quality", {}).get("n_rows", 0) for r in data)
        L["stateful.compute_ms"] = median([1000.0 * (b["ready"] - b["start"])
                                           for b in sink.batches if b["batch"] >= CAPACITY_BATCH])
        L["stateful.all_updates_ms"] = median(state(cap, "allUpdatesTimeMs"))
        L["stateful.commit_ms"] = median(state(prow, "commitTimeMs"))
        L["stateful.load_ms"] = median(custom(prow, "rocksdbLoadLatencyMs"))
        L["stateful.state_rows"] = state(cap, "numRowsTotal")[-1]
        L["stateful.state_bytes"] = state(cap, "memoryUsedBytes")[-1]
        L["stateful.rows_updated"] = sum(state(data, "numRowsUpdated"))
        L["stateful.rocksdb_bytes_written"] = sum(custom(data, "rocksdbTotalBytesWritten"))
        psink = [b for b in paced["sink"].batches if b["batch"] >= PACED_COLD_DROPS]
        L["sinks.write_ms"] = median([1000.0 * (b["end"] - b["ready"]) for b in psink])
        files = data_files(self.path("drain_traced", "out")) + data_files(self.path("paced", "out"))
        L["sinks.files"] = len(files)
        L["sinks.bytes_per_record"] = (sum(os.path.getsize(f) for f in files)
                                       / sum(pq.ParquetFile(f).metadata.num_rows for f in files))

    # --- corpus --------------------------------------------------------------
    def run_corpus(self) -> dict:
        from msstreamingstack_spark.streaming.corpus import run_corpus_ingest

        cpus = machine_cpus()
        spark_start_s = self.start_session(cpus)
        c = gen.corpus((self.seed, 3), CORPUS_SIZES)
        src, stage = self.dir("corpus", "src"), self.dir("corpus", "stage")
        eval_path = self.path("corpus", "eval.parquet")
        pq.write_table(gen.docs_table([(i, t, gen.NORMAL) for i, t in c.eval_docs]), eval_path)
        for k, docs in enumerate(c.drops):
            gen.write_drop(gen.docs_table(docs), src, gen.drop_name(k), stage)
        n_docs = [len(d) for d in c.drops]
        stores = {s: self.path("corpus", "store", s) for s in ("digest", "neardup", "lm")}
        acc, rej = self.path("corpus", "accepted"), self.path("corpus", "rejected")
        jobs0 = self.jobs()
        t0 = time.time()
        q = run_corpus_ingest(
            self.spark, src, self.spark.read.parquet(eval_path), acc, rej,
            self.path("corpus", "cp"), digest_store_dir=stores["digest"],
            neardup_store_dir=stores["neardup"], lm_store_dir=stores["lm"])
        span = self.tracer.span("query", t0, t0, query="corpus")
        self.tracer.span("query.start", t0, time.time(), parent=span)

        def seen() -> int:
            return sum(r["observedMetrics"].get("corpus", {}).get("n_rows", 0)
                       for r in progress_rows(q))

        try:
            wait_for(lambda: seen() >= sum(n_docs), q, "corpus drain")
            jobs = self.jobs() - jobs0
        finally:
            rows = progress_rows(q)
            stop_draining(self.spark, q)
            self.tracer.end(span, time.time())
        data = [r for r in rows if r["observedMetrics"].get("corpus", {}).get("n_rows", 0) > 0]
        ends = [batch_window(r)[1] for r in data]
        for r in data:
            s, e = batch_window(r)
            self.tracer.span("batch", s, e, parent=span, batch=r["batchId"],
                             rows=r["observedMetrics"]["corpus"]["n_rows"])
        first_batch_s = ends[0] - t0
        records_per_s = sum(n_docs[1:]) / (ends[-1] - ends[0])
        # every drop was due when the drain started
        latency = [1000.0 * (e - t0) for e in ends]
        self.latency_ms = latency

        expected = reference.corpus_expectations(c.drops)
        ids = [r["batchId"] for r in data]
        self.checked.append(("corpus", c, (acc, rej), ids))
        accepted, rejected = read_batches(acc, ids), read_batches(rej, ids)
        self.attempted += len(expected)
        if accepted is None or rejected is None:
            self.failed += len(expected)
        else:
            self.failed += reference.corpus_errors(expected, accepted, rejected)
        if self.trace:
            L = self.layer
            L["session.spark_start_s"] = spark_start_s
            L["session.first_batch_s"] = first_batch_s
            steady = data[1:]
            L["corpus.batch_ms"] = median([r["durationMs"]["triggerExecution"] for r in steady])
            L["pipeline.batches"] = len(data)
            L["pipeline.trigger_ms"] = L["corpus.batch_ms"]
            for key, name in (("queryPlanning", "query_planning_ms"), ("walCommit", "wal_commit_ms"),
                              ("commitOffsets", "commit_offsets_ms"), ("addBatch", "add_batch_ms")):
                L[f"pipeline.{name}"] = median([r["durationMs"].get(key, 0) for r in steady])
            L["sources.latest_offset_ms"] = median(
                [r["durationMs"].get("latestOffset", 0) for r in steady])
            L["sources.get_batch_ms"] = median([r["durationMs"].get("getBatch", 0) for r in steady])
            L["pipeline.jobs_per_batch"] = jobs / len(data)
            L["pipeline.observed_rows"] = seen_rows = sum(
                r["observedMetrics"]["corpus"]["n_rows"] for r in data)
            L["corpus.gate_fail"] = sum(r["observedMetrics"]["corpus"]["n_gate_fail"] for r in data)
            if accepted is not None and rejected is not None:
                L["corpus.accepted"] = accepted.num_rows
                reasons = rejected.column("reject_reason").to_pylist()
                for reason in REJECT_REASONS:
                    L[f"corpus.rejected.{reason}"] = reasons.count(reason)
                L["corpus.dedup_dropped"] = seen_rows - accepted.num_rows - rejected.num_rows
            files = 0
            for s, p in stores.items():
                found = data_files(p)
                L[f"corpus.store_bytes.{s}"] = sum(os.path.getsize(f) for f in found)
                files += len(found)
            L["corpus.store_files"] = files
            # tracing here only reads progress after the drain: no work is added
            L["trace.overhead_pct"] = 0.0
        return {
            "setup_s": spark_start_s + first_batch_s,
            "records_per_s": records_per_s,
            "latency_p50_ms": quantile(latency, 0.5),
            "latency_p90_ms": quantile(latency, 0.9),
        }


def drain_figures(sink: TimedSink, t_start: float, cs: gen.Clickstream) -> tuple[float, float]:
    """(first micro-batch seconds, records per second over the capacity
    batches) of a drain whose sink returned for every drop, timed from the
    sink return of the batch before the first capacity batch."""
    ends = {b["batch"]: b["end"] for b in sink.batches}
    last = len(cs.bounds) - 2
    rows = cs.bounds[-1] - cs.bounds[CAPACITY_BATCH]
    return ends[0] - t_start, rows / (ends[last] - ends[CAPACITY_BATCH - 1])


def machine_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap() -> str:
    """A quarter of physical memory, capped at 4 GiB: the program's own
    default heap (24g) is larger than many machines."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, phys // 4 // 2**30))}g"


def stop_jvm(pids: list[int]) -> None:
    """End the JVM PySpark launched and wait for it and its Python
    workers (``pids``) to exit; otherwise the JVM only notices that the
    driver is gone after this process has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    wait_ended(pids, 15)


def wait_for(cond, query, what: str) -> None:
    """Poll ``cond`` until it holds; fail early if the query dies or the
    wait outlasts DRAIN_TIMEOUT_S."""
    deadline = time.time() + DRAIN_TIMEOUT_S
    while not cond():
        if not query.isActive:
            raise RuntimeError(f"query ended before {what}: {query.exception()}")
        if time.time() > deadline:
            raise TimeoutError(f"timed out waiting for {what}")
        time.sleep(0.1)


def stop_draining(spark, q) -> None:
    """Stop an availableNow query once its data batches are committed.
    A watermarked query then runs a no-data batch that only evicts
    state; its jobs are cancelled so stopping does not wait it out."""
    stopper = threading.Thread(target=q.stop, daemon=True)
    stopper.start()
    while stopper.is_alive():
        spark.sparkContext.cancelAllJobs()
        stopper.join(0.2)


def measure(workload: str, seed: int, seconds: int, trace: bool) -> tuple[Bench, dict, dict]:
    """Run one workload; return the run (its work directory still on
    disk), its end-to-end figures and the machine context."""
    bench = Bench(workload, seed, seconds, trace)
    os.environ["SPARK_DRIVER_MEM"] = driver_heap()
    os.environ["SPARK_LOCAL_DIRS"] = bench.dir("local")
    # tempfile caches its directory on first use; a second run in one process must reset it
    tempfile.tempdir = os.environ["TMPDIR"] = bench.dir("tmp")
    context = {"workload": workload, "seed": seed, "nproc": machine_cpus(),
               "loadavg": os.getloadavg(), "driver_heap": os.environ["SPARK_DRIVER_MEM"]}
    rss = RssSampler(os.getpid())
    rss.start()
    t_run, ticks = time.time(), cpu_ticks()
    try:
        e2e = bench.run_clickstream() if workload == "clickstream" else bench.run_corpus()
    except BaseException:
        shutil.rmtree(bench.work, ignore_errors=True)
        raise
    finally:
        bench.stop_session()
        rss.stop()
        stop_jvm(rss.tree())
    e2e["peak_rss_mb"] = rss.peak_bytes / 2**20
    steal = [b - a for a, b in zip(ticks, cpu_ticks())]
    context.update(wall_s=time.time() - t_run, loadavg_end=os.getloadavg(),
                   cpu_steal_pct=100.0 * steal[0] / max(1, steal[1]),
                   peak_rss=rss.peak_parts, latency_ms=[round(x) for x in bench.latency_ms],
                   gen_late_max_ms=bench.gen_late_max_ms,
                   error_rate=bench.failed / max(1, bench.attempted))
    bench.tracer.end(0, time.time())
    return bench, e2e, context


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("clickstream", "corpus_ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import msstreamingstack_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    bench = None
    try:
        bench, e2e, context = measure(a.workload, a.seed, a.seconds, bool(a.trace))
    finally:
        if bench is not None:
            shutil.rmtree(bench.work, ignore_errors=True)
    print(json.dumps({"context": context}))
    for k in E2E:
        print(f"{k:>16} {e2e[k]:14.4f} {UNITS[k]}")
    print(f"{'error_rate':>16} {context['error_rate']:14.6f} ({bench.failed}/{bench.attempted})")
    result = result_line(bench, e2e, context, bool(a.trace))
    if a.trace:
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        bench.tracer.write(os.path.join(trace_dir, f"{a.workload}-{a.seed}.json"),
                           context=context, metrics=result["metrics"])
    print(json.dumps(result), flush=True)
    return 0


def result_line(bench: Bench, e2e: dict, context: dict, trace: bool) -> dict:
    """The last line of a run: per-layer metrics when traced (zero where
    a layer does not take part in the workload), end-to-end otherwise."""
    if trace:
        layer = {**bench.layer, "error_rate": context["error_rate"]}
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": per_layer_unit(n)}
                   for n in per_layer_names()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": UNITS[k]} for k in E2E}
    return {"correct": bench.failed == 0, "attempted": bench.attempted,
            "failed": bench.failed, "metrics": metrics}


def per_layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_pct"):
        return "%"
    if "bytes" in name and not name.endswith("per_record"):
        return "bytes"
    if name.endswith("per_record"):
        return "bytes/record"
    if name.endswith("records_per_s_1core"):
        return "1/s"
    if name == "error_rate":
        return "ratio"
    if name.endswith("jobs_per_batch"):
        return "jobs/batch"
    return "count"


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
