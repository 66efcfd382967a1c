"""Streaming corpus ingestion — the training-data pipeline as a
Structured Streaming job: file-drop document stream → stateless
quality gates → cross-batch exact dedup → decontamination → split
accept/reject parquet sinks from ONE ``foreachBatch``.

Reference analogue: none (the reference streams clickstream events,
SURVEY.md §2.6); this is the extension surface applied to the
streaming arrival pattern every large corpus actually has — crawl
drops land continuously, and waiting for "the whole corpus" before
cleaning means cleaning never starts.

Stage order is the scale argument:
1. Quality gates FIRST and stateless — junk must die before it can
   occupy dedup state (at 100 TB the state store is the scarce
   resource, not CPU).
2. ``dropDuplicatesWithinWatermark`` on the content hash — exact
   cross-batch dedup whose state is bounded by the ingest-time
   watermark delay instead of growing with the corpus. Duplicates
   arriving within the delay window are dropped exactly; re-crawls
   outside it are caught downstream by the batch dedup kernels
   (operators/dedup.py) over the accepted store.
3. Decontamination per micro-batch inside ``foreachBatch`` (batch
   DataFrame ops there): overlap against the BROADCAST eval shingle
   set, same kernel shape as the batch ``eval_overlap_stats``.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable
from functools import partial, reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from msstreamingstack_spark.functions.text import (
    distinct_token_ratio,
    token_count,
)
from msstreamingstack_spark.operators.dedup import (
    DECONTAM_FRAC_T,
    NGRAM13_N,
    doc_shingle_hashes,
    positional_ngram_hashes,
)
from msstreamingstack_spark.operators.incremental import (
    bigram_lm_increment,
    compact_store,
    dedup_increment,
    minhash_increment,
    release_checkpoint,
)
from msstreamingstack_spark.schemas import DOCUMENTS_SCHEMA
from msstreamingstack_spark.session import apply_runtime_confs
from msstreamingstack_spark.sinks.writers import parquet_append_writer
from msstreamingstack_spark.streaming.pipeline import start_foreach_batch

MIN_TOKENS = 5
MIN_DISTINCT_RATIO = 0.3
COLS = ["doc_id", "text", "lang", "source", "n_chars"]  # the sink columns

# Marker column carried from the reader to the gate: True = the source
# line failed to parse. The gate turns it into gate_fail="corrupt_line"
# so corrupt crawl lines are COUNTED in the observed metrics and routed
# to the reject sink — sources/files.py's "corrupt lines are data,
# counted" policy, honored in the streaming path too.
CORRUPT_MARK = "_corrupt_line"


def read_document_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 1,
    fmt: str = "parquet",
) -> DataFrame:
    """File-drop document stream with the declared corpus schema plus
    the ``CORRUPT_MARK`` boolean.

    ``fmt="jsonl"`` reads raw JSONL crawl drops through the permissive
    reader (sources/files.py); a malformed line becomes a row with the
    raw line as ``text`` and ``CORRUPT_MARK`` set, so downstream it is
    counted and lands in the reject sink with its payload intact
    (never silently dropped).
    """
    apply_runtime_confs(spark)
    if fmt == "jsonl":
        from msstreamingstack_spark.sources.files import (
            CORRUPT_COL,
            stream_documents_jsonl,
        )

        raw = stream_documents_jsonl(spark, path, max_files_per_trigger)
        return raw.select(
            F.col("doc_id"),
            F.coalesce(F.col("text"), F.col(CORRUPT_COL)).alias("text"),
            F.col("lang"),
            F.col("source"),
            F.col("n_chars"),
            F.col(CORRUPT_COL).isNotNull().alias(CORRUPT_MARK),
        )
    if fmt != "parquet":
        raise ValueError(f"unsupported stream format {fmt!r}")
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
        .withColumn(CORRUPT_MARK, F.lit(False))
    )


def quality_gate(docs: DataFrame) -> DataFrame:
    """Stateless per-row gates (token floor, repetition ceiling) —
    pure JVM expressions, evaluated inside the scan stage. Rows keep
    a ``gate_fail`` reason column (null = passed) so the reject sink
    can attribute drops; only passing rows continue to the stateful
    stages."""
    n_tok = token_count(F.col("text"))
    ratio = distinct_token_ratio(F.col("text"))
    reason = (
        F.when(n_tok < MIN_TOKENS, F.lit("too_short"))
        .when(ratio < MIN_DISTINCT_RATIO, F.lit("too_repetitive"))
        .otherwise(F.lit(None).cast("string"))
    )
    if CORRUPT_MARK in docs.columns:
        reason = F.when(F.col(CORRUPT_MARK), F.lit("corrupt_line")).otherwise(reason)
        return docs.withColumn("gate_fail", reason).drop(CORRUPT_MARK)
    return docs.withColumn("gate_fail", reason)


# ---------------------------------------------------------------------------
# Reject stages. Each maps the docs every earlier stage kept to
# (kept, rejected, checkpointed frames to release after the sinks run);
# run_corpus_ingest's loop owns the reject tag, the union and the label.
# ---------------------------------------------------------------------------
class _RejectStage(NamedTuple):
    reason: str  # the reject_reason its rejects carry
    split: Callable  # (docs, increment label) -> (kept, rejected, checkpoints)
    store_dir: str | None = None  # increment store folded by compact_every
    compact_agg: str | None = None


def _contamination_stage(eval_docs: DataFrame, frac_threshold: float) -> _RejectStage:
    """Shingle-overlap fraction against the eval set (static side
    persisted once, broadcast per batch)."""
    eval_h = (
        doc_shingle_hashes(eval_docs, persist=False)
        .select("h")
        .distinct()
        .persist()
    )
    eval_h.count()  # materialize before the stream starts

    def split(docs: DataFrame, _label: str):
        sh = doc_shingle_hashes(docs, persist=False)
        n_sh = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
        ov = (
            sh.join(F.broadcast(eval_h), "h")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_overlap"))
        )
        scored = (
            docs.join(n_sh, "doc_id", "left")
            .join(ov, "doc_id", "left")
            .withColumn(
                "overlap_frac",
                F.when(
                    F.coalesce(F.col("n_shingles"), F.lit(0)) > 0,
                    F.coalesce(F.col("n_overlap"), F.lit(0)).cast("double")
                    / F.col("n_shingles").cast("double"),
                ).otherwise(F.lit(0.0)),
            )
        )
        return (
            scored.filter(F.col("overlap_frac") < frac_threshold).select(*COLS),
            scored.filter(F.col("overlap_frac") >= frac_threshold),
            (),
        )

    return _RejectStage("contaminated", split)


def _verbatim_stage(eval_docs: DataFrame, n: int | None) -> _RejectStage:
    """Any full ``n``-word gram shared with the eval set (static side
    persisted once, broadcast per batch)."""
    n = n or NGRAM13_N
    ev13 = positional_ngram_hashes(eval_docs, n=n).select("h").distinct().persist()
    ev13.count()

    def split(docs: DataFrame, _label: str):
        dirty = (
            positional_ngram_hashes(docs, n=n)
            .join(F.broadcast(ev13), "h")
            .select("doc_id")
            .distinct()
        )
        return (
            docs.join(dirty, "doc_id", "left_anti"),
            docs.join(dirty, "doc_id", "left_semi"),
            (),
        )

    return _RejectStage("contaminated_verbatim", split)


def _ft_stage(min_logit: float) -> _RejectStage:
    """Pinned fastText-style langid: keep docs with ft_logit > min_logit."""
    from msstreamingstack_spark.operators.textclf import score_pinned

    def split(docs: DataFrame, _label: str):
        keep_ids = (
            score_pinned(docs)
            .filter(F.col("ft_logit") > F.lit(min_logit))
            .select("doc_id")
        )
        return (
            docs.join(keep_ids, "doc_id", "left_semi"),
            docs.join(keep_ids, "doc_id", "left_anti"),
            (),
        )

    return _RejectStage("nontarget_lang_ft", split)


def _store_stage(
    reason: str,
    increment: Callable,
    store_dir: str,
    compact_agg: str | None = None,
) -> _RejectStage:
    """A persisted increment store (operators/incremental.py): the
    increment's first frame is the kept set, the rest of the batch is
    rejected, and every frame it returns is held for release."""

    def split(docs: DataFrame, label: str):
        out = increment(docs, store_dir, increment_id=label)
        checkpoints = out if isinstance(out, tuple) else (out,)
        fresh = checkpoints[0]
        return (
            fresh.select(*COLS),
            docs.join(fresh.select("doc_id"), "doc_id", "left_anti"),
            checkpoints,
        )

    return _RejectStage(reason, split, store_dir, compact_agg)


def run_corpus_ingest(
    spark: SparkSession,
    source_path: str,
    eval_docs: DataFrame,
    accept_dir: str,
    reject_dir: str,
    checkpoint_dir: str,
    dedup_delay: str = "10 minutes",
    frac_threshold: float = DECONTAM_FRAC_T,
    available_now: bool = True,
    max_files_per_trigger: int = 1,
    fmt: str = "parquet",
    digest_store_dir: str | None = None,
    neardup_store_dir: str | None = None,
    neardup_threshold: float = 0.8,
    lm_store_dir: str | None = None,
    lm_max_bits: float = 8.0,
    compact_every: int | None = None,
    ft_gate: bool = False,
    ft_min_logit: float = 0.0,
    ngram13_gate: bool = False,
    ngram13_n: int | None = None,
    bpe_tokens: bool = False,
):
    """Launch the ingest query; returns the StreamingQuery.

    Every doc lands in exactly one of accept / reject / watermark-
    deduped. A rejected doc carries the reason of the FIRST stage that
    rejects it, in this order: the stateless gates (``corrupt_line``,
    ``too_short``, ``too_repetitive``), ``contaminated``, then the
    optional ``contaminated_verbatim`` (``ngram13_gate``),
    ``nontarget_lang_ft`` (``ft_gate``), ``store_duplicate``
    (``digest_store_dir``), ``near_duplicate`` (``neardup_store_dir``)
    and ``low_quality_lm`` (``lm_store_dir``). Each stage sees only
    the docs every earlier stage kept.

    ``eval_docs`` is the static benchmark set; its distinct shingle
    hashes are computed ONCE here (not per batch) and broadcast into
    every micro-batch's overlap join.

    ``digest_store_dir`` (optional) plugs the persisted digest store
    (operators/incremental.py) under the stream: the watermark bounds
    the in-stream dedup STATE by time, so a re-crawl arriving after
    the delay — or after a checkpoint reset — would sail through;
    with the store, each batch's accepted docs are additionally
    anti-joined against every digest ever accepted (any run, any
    pipeline) and register their own. Store labels are
    ``<run>-b<batch_id>`` where run is derived from the checkpoint
    path, so replays of a batch from the same checkpoint overwrite
    their own partition (idempotent) while a fresh checkpoint gets
    fresh labels and still sees all prior digests.

    Trigger sizing: the near-dup-gated path carries ~16-17 s of FIXED
    per-micro-batch machinery (store anti-join setup, shingle fold
    warm-up, commit) at bench scale, so throughput amortizes almost
    linearly with batch size — 58 → 938 docs/s from 1k to 25k docs
    per batch, recorded in INGEST_CURVE_r8.json (written by the
    since-removed ``bench_ingest_curve.py``). Size ``max_files_per_trigger`` × file
    size to put AT LEAST ~10k documents in each micro-batch (93% of
    the machinery amortized at 25k); below ~2.5k docs/batch the
    pipeline spends most of its wall-clock on overhead.

    ``neardup_store_dir`` (optional) adds the NEAR-dup analogue
    (``minhash_increment``): each batch's surviving docs are banded
    against the persisted MinHash-signature store — a lightly-edited
    re-crawl that the exact digest misses lands in the reject sink
    with reason ``near_duplicate``; fresh docs register their
    signatures under the same idempotent increment label. This is the
    corpus-lifetime backstop for the in-stream bucket-state detector
    (streaming/neardup.py), whose state is TTL-bounded.

    ``lm_store_dir`` (optional) adds the QUALITY analogue
    (``bigram_lm_increment``): surviving docs are scored against the
    bigram LM built from every previously accepted doc's counts and
    rejected as ``low_quality_lm`` above ``lm_max_bits`` — the
    corpus-adaptive junk filter the stateless gates (length,
    repetition) cannot express, because "junk" is defined relative to
    what the corpus actually looks like. The first drop (empty store)
    defines the corpus and is accepted wholesale; the store grows by
    vocabulary-bounded (w1, w2, c) count rows under the same
    idempotent increment labels.

    ``ft_gate`` (optional) screens each batch through the PINNED
    fastText-style classifier (operators/textclf.py) and rejects docs
    with ``ft_logit <= ft_min_logit`` — the CCNet-ordered langid
    stage, BEFORE the store stages: stateless model serving is the
    cheapest gate after decontamination, so non-target docs never pay
    a store lookup or register state.

    ``ngram13_gate`` (optional) adds the VERBATIM decontamination
    mode in-stream (the batch ``ngram_contamination`` kernel): docs
    sharing ANY full ``ngram13_n``-word n-gram with the eval set are
    rejected — the long-quote leak the aggregate overlap fraction
    dilutes away inside a big doc. Like the shingle set, the eval gram
    hashes are computed once and broadcast into every batch.

    ``bpe_tokens`` (optional) annotates every ACCEPTED doc with its
    pinned-tokenizer subword count (``n_bpe_tokens`` column in the
    accept sink): the bpe_segment_pinned serving shape applied per
    micro-batch — distinct batch vocab through the pinned fold chain,
    broadcast join back — so downstream mixing/packing/budget stages
    consume real token counts, not whitespace approximations.

    ``compact_every`` (optional) folds each store's accumulated
    increment partitions into one ``__base_<n>`` partition every N
    batches, IN-STREAM: the current batch's label is excluded from the
    fold (it is the only label a checkpoint recovery can replay), so
    crash-replay idempotence is preserved while store reads stop
    paying listing overhead linear in batch count.
    """
    # reject stages in precedence order, their static sides built once
    stages = [_contamination_stage(eval_docs, frac_threshold)]
    if ngram13_gate:
        stages.append(_verbatim_stage(eval_docs, ngram13_n))
    if ft_gate:
        stages.append(_ft_stage(ft_min_logit))
    if digest_store_dir is not None:
        stages.append(
            _store_stage("store_duplicate", dedup_increment, digest_store_dir, "dedup")
        )
    if neardup_store_dir is not None:
        nd = partial(minhash_increment, threshold=neardup_threshold)
        stages.append(_store_stage("near_duplicate", nd, neardup_store_dir))
    if lm_store_dir is not None:
        lm = partial(bigram_lm_increment, max_bits=lm_max_bits)
        stages.append(_store_stage("low_quality_lm", lm, lm_store_dir, "counts"))

    gated = quality_gate(
        read_document_stream(spark, source_path, max_files_per_trigger, fmt=fmt)
    ).observe(
        # per-batch ingest metrics in StreamingQueryProgress.observedMetrics
        # ["corpus"] — computed inside the existing plan (no extra scan),
        # same discipline as with_quality_metrics on the events pipeline
        "corpus",
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(
            F.sum(F.when(F.col("gate_fail").isNotNull(), 1).otherwise(0)),
            F.lit(0),
        ).alias("n_gate_fail"),  # empty batches report 0, not null
        F.coalesce(
            F.sum(F.when(F.col("gate_fail") == "corrupt_line", 1).otherwise(0)),
            F.lit(0),
        ).alias("n_corrupt"),  # malformed source lines — crawl loss is visible
        F.coalesce(F.sum(F.length("text")), F.lit(0)).alias("n_chars_seen"),
    )
    passed = (
        gated.filter(F.col("gate_fail").isNull())
        .withColumn("content_md5", F.md5(F.col("text").cast("binary")))
        .withColumn("ingest_ts", F.current_timestamp())
        .withWatermark("ingest_ts", dedup_delay)
        .dropDuplicatesWithinWatermark(["content_md5"])
        .drop("ingest_ts")
    )
    rejected_gate = gated.filter(F.col("gate_fail").isNotNull())
    # one stream, two branches unioned so a single query/checkpoint
    # feeds both sinks (reference anti-pattern: one query per sink)
    unioned = passed.select(*COLS, "gate_fail").unionByName(
        rejected_gate.select(*COLS, "gate_fail")
    )

    # stable per-checkpoint run label: batch replays from the same
    # checkpoint re-use their store partitions (idempotent); a fresh
    # checkpoint gets fresh labels and still sees all prior rows as
    # foreign
    run_label = hashlib.md5(os.path.abspath(checkpoint_dir).encode()).hexdigest()[:12]
    write_accepted = parquet_append_writer(accept_dir)
    write_rejected = parquet_append_writer(reject_dir)

    def fan_out(df: DataFrame, batch_id: int) -> None:
        label = f"{run_label}-b{batch_id:09d}"
        df.persist()
        held = []  # checkpointed frames, released after the sinks consume them
        try:
            rejects = [
                df.filter(F.col("gate_fail").isNotNull()).select(
                    *COLS, F.col("gate_fail").alias("reject_reason")
                )
            ]
            accepted = df.filter(F.col("gate_fail").isNull())
            for stage in stages:
                accepted, rejected, checkpoints = stage.split(accepted, label)
                held.extend(checkpoints)
                rejects.append(
                    rejected.select(*COLS, F.lit(stage.reason).alias("reject_reason"))
                )
            if bpe_tokens:
                # true subword token accounting on the accepted set:
                # the pinned tokenizer applied per batch (distinct
                # batch vocab -> fold chain -> broadcast join — the
                # bpe_segment_pinned shape, never per occurrence), so
                # downstream mixing/budget stages read real token
                # counts instead of whitespace approximations
                from msstreamingstack_spark.operators.bpe import bpe_segment_pinned

                accepted = accepted.join(
                    bpe_segment_pinned(accepted).select("doc_id", "n_bpe_tokens"),
                    "doc_id",
                )
            # batch-id-scoped overwrite, not raw append: foreachBatch is
            # at-least-once, so a replayed batch overwrites itself
            write_accepted(accepted, batch_id)
            write_rejected(reduce(DataFrame.unionByName, rejects), batch_id)
            if compact_every and (batch_id + 1) % compact_every == 0:
                # in-stream store compaction: fold everything EXCEPT
                # the current batch's label — the checkpoint may
                # replay exactly this batch after a crash between here
                # and the offset commit, and a replay whose own rows
                # were folded would see its first attempt as foreign.
                # Older labels are commit-protected, so folding them
                # under the live stream is sound (compact_store docs).
                for stage in stages:
                    if stage.store_dir is not None:
                        compact_store(
                            spark,
                            stage.store_dir,
                            agg=stage.compact_agg,
                            exclude_labels=(label,),
                        )
        finally:
            df.unpersist()
            # both sinks are written — the increments' checkpoint
            # blocks have no consumers left; free them now instead of
            # leaking one set per micro-batch in continuous mode
            release_checkpoint(*held)

    return start_foreach_batch(
        unioned, checkpoint_dir, fan_out, "append", available_now
    )
