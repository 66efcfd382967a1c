"""Incremental exact dedup against a persisted digest store.

The streaming ingest's ``dropDuplicatesWithinWatermark`` bounds its
state by TIME — a re-crawl arriving months later sails through it.
This operator closes that gap for the batch path: every increment of
new documents is deduplicated against ALL digests ever accepted, with
the store growing by digests only (16 bytes of md5 per unique doc —
a 100 TB corpus's digest store is a few hundred GB of joinable longs,
not text).

Shapes, per increment:
- in-increment dedup: one shuffle on the digest (operators/dedup.py's
  window form);
- vs-store dedup: one anti-join on the digest — AQE broadcasts the
  increment side when it's the small one, shuffles both when not;
- store append: the increment's fresh digests land in their own
  ``increment=<label>`` partition directory with OVERWRITE, and the
  known-set EXCLUDES the current label — so a replayed/retried
  increment recomputes the same fresh set and rewrites its own
  partition instead of duplicating or seeing its first attempt as
  foreign (the same idempotence discipline as the streaming sinks).

Global semantics: processing increments I1..In yields exactly the
fresh-doc set a single ``exact_dedup`` over the concatenation keeps,
with earlier increments winning ties (first-seen canonical), and the
in-increment canonical being min id — equality-tested in
tests/test_extensions.py.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F


def _store_has_data(store_dir: str) -> bool:
    if not os.path.isdir(store_dir):
        return False
    for _root, _dirs, files in os.walk(store_dir):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _store_has_foreign_data(store_dir: str, increment_id: str) -> bool:
    """True iff the store holds parquet rows under any ``increment=``
    partition OTHER than ``increment_id``.

    This is every increment's cold/warm branch test: a replay of the
    very FIRST increment leaves the store non-empty but containing only
    the current label's own previous output, so the label-excluded
    known side is empty. For the bigram LM that empty side would mean
    V=0 and a zero Laplace denominator — an ANSI DIVIDE_BY_ZERO that
    would crash-loop an at-least-once foreachBatch restart. Such a
    replay must take the cold-start branch, exactly as the original run
    did. Partition labels are %-unescaped to match Spark's
    partition-path escaping."""
    if not os.path.isdir(store_dir):
        return False
    from urllib.parse import unquote

    for entry in os.listdir(store_dir):
        full = os.path.join(store_dir, entry)
        if not os.path.isdir(full) or not entry.startswith("increment="):
            continue
        if unquote(entry[len("increment="):]) == increment_id:
            continue
        for _root, _dirs, files in os.walk(full):
            if any(f.endswith(".parquet") for f in files):
                return True
    return False


def _foreign_rows(
    spark: SparkSession, store_dir: str, increment_id: str
) -> DataFrame | None:
    """The rows of every label except ``increment_id`` — the KNOWN side
    of an increment — or None when there are none. Excluding the own
    label is the replay rule: a retried increment recomputes its
    contribution instead of seeing its first attempt as foreign."""
    if not _store_has_foreign_data(store_dir, increment_id):
        return None
    return spark.read.parquet(store_dir).filter(F.col("increment") != increment_id)


def _write_label(df: DataFrame, store_dir: str, increment_id: str) -> None:
    """Write ``df`` as label ``increment_id``'s partition with overwrite:
    dynamic partition overwrite (a per-write option, never a session
    conf) replaces that one partition and leaves every other label
    untouched, so a replay rewrites its own rows instead of appending."""
    (
        df.withColumn("increment", F.lit(increment_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("increment")
        .parquet(store_dir)
    )


def release_checkpoint(*dfs: DataFrame) -> None:
    """Free the materialized localCheckpoint blocks of DataFrames whose
    consumers are DONE with them (the data becomes unreadable).

    The increment operators snapshot their results with
    ``localCheckpoint(eager=True)`` before touching the store; Spark
    only releases those blocks when the driver GC collects the RDD
    (ContextCleaner), so a continuous ingest running one increment per
    micro-batch accumulates checkpoint blocks indefinitely. Callers
    that fully consume the returned frames inside the batch (the
    corpus-ingest ``foreachBatch``) release them here deterministically.
    Best-effort: a frame that is not a plain checkpointed LogicalRDD is
    left alone."""
    for df in dfs:
        try:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            pass


def dedup_increment(
    new_docs: DataFrame,
    store_dir: str,
    increment_id: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deduplicate one increment against itself and the store, then
    register its fresh digests. Returns the fresh (first-seen) rows of
    ``new_docs`` with their ``content_md5``.
    """
    spark = new_docs.sparkSession
    digest = F.md5(F.col(text_col).cast("binary"))
    w = Window.partitionBy("content_md5")
    in_inc = (
        new_docs.withColumn("content_md5", digest)
        .withColumn("_keep", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("_keep"))
        .drop("_keep")
    )
    known = _foreign_rows(spark, store_dir, increment_id)
    if known is not None:
        fresh = in_inc.join(
            known.select("content_md5").distinct(), "content_md5", "left_anti"
        )
    else:
        fresh = in_inc
    # SNAPSHOT before touching the store: the fresh-set's plan reads
    # the store (anti-join), so any re-evaluation after the append
    # would see its own digests as "known" and return empty.
    # localCheckpoint cuts the lineage at materialized partitions.
    fresh = fresh.localCheckpoint(eager=True)
    _write_label(fresh.select("content_md5"), store_dir, increment_id)
    return fresh


def store_digests(spark: SparkSession, store_dir: str) -> DataFrame:
    """All digests ever registered, with their increment label."""
    return spark.read.parquet(store_dir).select("content_md5", "increment")


# ---------------------------------------------------------------------------
# Incremental NEAR-dup: persisted MinHash signature store
# ---------------------------------------------------------------------------
def minhash_increment(
    new_docs: DataFrame,
    store_dir: str,
    increment_id: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Near-dup counterpart of :func:`dedup_increment`: detect new docs
    that are near-duplicates of ANY previously accepted doc, using a
    persisted MinHash signature store (NUM_HASHES longs per doc — at
    100 TB the store is signatures, never text or shingle sets).

    Returns ``(fresh_docs, matches)``:
    - ``fresh_docs``: rows of ``new_docs`` that are neither in-increment
      near-dups (exact-jaccard verified, min-id canonical — shingles
      are available for the increment itself) nor matched to the store;
    - ``matches``: (new_id, old_id, est_jaccard) pairs vs the store.
      Cross-increment verification uses the SIGNATURE-AGREEMENT
      estimator (mean of per-hash equality; std ≈ √(j(1−j)/NUM_HASHES))
      because the store deliberately keeps no shingles — banding
      preselects high-similarity pairs, the estimator confirms. Raise
      NUM_HASHES in operators/dedup.py for tighter confirmation.

    Store idempotence follows :func:`dedup_increment`: fresh docs'
    signatures land under ``increment=<label>`` with overwrite, and the
    known side excludes the current label, so retries recompute
    identically.
    """
    from msstreamingstack_spark.caching import released_on_exit
    from msstreamingstack_spark.operators.dedup import (
        BAND_SIZE,
        NUM_HASHES,
        doc_shingle_hashes,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    spark = new_docs.sparkSession
    n_bands = NUM_HASHES // BAND_SIZE
    mh_cols = [f"mh_{i}" for i in range(NUM_HASHES)]

    if id_col != "doc_id":  # minhash_signatures groups on doc_id
        new_docs = new_docs.withColumnRenamed(id_col, "doc_id")
        id_col = "doc_id"

    # ONE shingle pass for the whole increment, cached HERE so this
    # function owns the release: the in-increment LSH reads it 3-6x and
    # sig_new reuses it via a semi-join on the kept ids. Counted
    # (eager) so the LSH verify gate sizes the cached table: a lazy
    # cache reports Catalyst's unknown-size estimate (~6e18 bytes) and
    # turned the pair pre-filter on for every increment. The scope
    # releases the table, and any pairs cache the verify step takes,
    # when the increment returns — continuous ingest runs one
    # increment per micro-batch and must not wait for driver GC.
    with released_on_exit():
        sh_all = doc_shingle_hashes(
            new_docs, text_col=text_col, slot="minhash_increment.sh", eager=True
        )
        # 1. in-increment near-dup (exact-jaccard verified): drop the
        #    non-canonical side of every pair
        in_pairs = (
            minhash_lsh_pairs(
                new_docs, threshold, text_col=text_col, shingles_df=sh_all
            )
            .select("d2")
            .distinct()
        )
        kept = new_docs.join(
            in_pairs.withColumnRenamed("d2", id_col), id_col, "left_anti"
        )

        sig_new = minhash_signatures(
            sh_all.join(kept.select(id_col), id_col, "left_semi")
        )

        def banded(sig: DataFrame, idc: str) -> DataFrame:
            bands = F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_",
                            *[
                                F.col(f"mh_{b * BAND_SIZE + j}")
                                for j in range(BAND_SIZE)
                            ],
                        ).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
            return sig.select(
                F.col("doc_id").alias(idc), F.explode(bands).alias("bk")
            ).select(
                idc, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
            )

        known = _foreign_rows(spark, store_dir, increment_id)
        if known is not None:
            sig_old = known.select("doc_id", *mh_cols)
            cand = (
                banded(sig_new, "new_id")
                .join(banded(sig_old, "old_id"), ["band", "key"])
                .select("new_id", "old_id")
                .distinct()
            )
            agree = sum(
                (F.col(f"n.mh_{i}") == F.col(f"o.mh_{i}")).cast("int")
                for i in range(NUM_HASHES)
            )
            matches = (
                cand.join(
                    sig_new.alias("n"), cand.new_id == F.col("n.doc_id")
                )
                .join(sig_old.alias("o"), cand.old_id == F.col("o.doc_id"))
                .withColumn(
                    "est_jaccard", agree.cast("double") / F.lit(float(NUM_HASHES))
                )
                .filter(F.col("est_jaccard") >= threshold)
                .select("new_id", "old_id", "est_jaccard")
            )
            dup_ids = matches.select(F.col("new_id").alias(id_col)).distinct()
            fresh = kept.join(dup_ids, id_col, "left_anti")
        else:
            id_type = dict(new_docs.dtypes)[id_col]
            matches = spark.createDataFrame(
                [], f"new_id {id_type}, old_id {id_type}, est_jaccard double"
            )
            fresh = kept

        fresh = fresh.localCheckpoint(eager=True)  # snapshot before store write
        matches = matches.localCheckpoint(eager=True)
        # register the FRESH docs' signatures; reuse sig_new (semi-join)
        # instead of re-shingling the subset
        _write_label(
            sig_new.join(fresh.select(id_col), id_col, "left_semi"),
            store_dir,
            increment_id,
        )
        return fresh, matches


# ---------------------------------------------------------------------------
# Incremental SEMANTIC dedup: persisted int8-code + SRP-bucket store
# ---------------------------------------------------------------------------
def _embedding_store_rows(
    emb: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Store representation of one embedding: int8 min-max codes (4x
    smaller than float32 — the store compresses as it grows) plus SRP
    bucket ids for candidate generation. Same quantization arithmetic
    as operators/similarity.py's quantized ANN."""
    from msstreamingstack_spark.operators.similarity import srp_buckets

    dv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = emb.select(
        F.col(id_col).alias("vec_id"),
        dv.alias("_v"),
        srp_buckets(F.col(vec_col)).alias("buckets"),
    ).select(
        "vec_id",
        "_v",
        "buckets",
        F.array_min(F.col("_v")).alias("mn"),
        ((F.array_max(F.col("_v")) - F.array_min(F.col("_v"))) / F.lit(255.0)).alias(
            "scale"
        ),
    )
    codes = (
        F.when(
            F.col("scale") > 0,
            F.transform(
                F.col("_v"),
                lambda x: F.floor((x - F.col("mn")) / F.col("scale") + 0.5).cast(
                    "int"
                ),
            ),
        )
        .otherwise(F.transform(F.col("_v"), lambda x: F.lit(0)))
        .alias("codes")
    )
    return base.select("vec_id", "mn", "scale", codes, "buckets")


def _reconstruct(codes: Column, mn: Column, scale: Column) -> Column:
    return F.transform(codes, lambda c: mn + c.cast("double") * scale)


def embedding_increment(
    new_embs: DataFrame,
    store_dir: str,
    increment_id: str,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Semantic-dedup counterpart of :func:`dedup_increment`: flag new
    embeddings whose cosine to ANY previously accepted embedding
    reaches ``threshold``, using a persisted store of int8 codes + SRP
    buckets (never raw float32 vectors — the store is 4x smaller than
    the embeddings it summarizes and candidate generation shuffles
    bucket ids only).

    Candidates = SRP bucket collision (any of the 8 tables) between the
    increment and the store; confirmation = exact-arithmetic cosine
    between the new vector and the RECONSTRUCTED (x = mn + code*scale)
    stored vector — approximate only through quantization error, which
    at int8 shifts cosines by ~1e-4, far below any useful threshold
    margin. In-increment near-dups are resolved first with the exact
    pairwise kernel (vectors still available), min-id canonical.

    Returns ``(fresh_embs, matches(new_id, old_id, approx_cos))``;
    store idempotence (overwrite own label, exclude own label from the
    known side) follows the other increment stores.
    """
    from msstreamingstack_spark.operators.similarity import (
        COS_ROUND,
        cosine,
        dot,
        embedding_neardup_lsh_pairs,
        norm,
    )

    spark = new_embs.sparkSession
    if id_col != "vec_id":
        new_embs = new_embs.withColumnRenamed(id_col, "vec_id")
        id_col = "vec_id"

    in_pairs = (
        embedding_neardup_lsh_pairs(new_embs, threshold, id_col, vec_col)
        .select("d2")
        .distinct()
    )
    kept = new_embs.join(
        in_pairs.withColumnRenamed("d2", id_col), id_col, "left_anti"
    )
    new_rows = _embedding_store_rows(kept, id_col, vec_col)

    known = _foreign_rows(spark, store_dir, increment_id)
    if known is not None:
        old = known.select("vec_id", "mn", "scale", "codes", "buckets")
        nb = new_rows.select(
            F.col("vec_id").alias("new_id"),
            F.posexplode("buckets").alias("tbl", "bucket"),
        )
        ob = old.select(
            F.col("vec_id").alias("old_id"),
            F.posexplode("buckets").alias("tbl", "bucket"),
        )
        cand = nb.join(ob, ["tbl", "bucket"]).select("new_id", "old_id").distinct()
        old_xhat = old.select(
            F.col("vec_id").alias("old_id"),
            _reconstruct(F.col("codes"), F.col("mn"), F.col("scale")).alias("xhat"),
        )
        new_v = kept.select(
            F.col(id_col).alias("new_id"), F.col(vec_col).alias("nv")
        )
        matches = (
            cand.join(new_v, "new_id")
            .join(old_xhat, "old_id")
            .withColumn(
                "approx_cos",
                F.round(
                    dot(F.col("nv"), F.col("xhat"))
                    / (
                        norm(F.col("nv"))
                        * F.greatest(
                            F.sqrt(dot(F.col("xhat"), F.col("xhat"))),
                            F.lit(1e-30),
                        )
                    ),
                    COS_ROUND,
                ),
            )
            .filter(F.col("approx_cos") >= threshold)
            .select("new_id", "old_id", "approx_cos")
        )
        dup_ids = matches.select(F.col("new_id").alias(id_col)).distinct()
        fresh = kept.join(dup_ids, id_col, "left_anti")
    else:
        matches = spark.createDataFrame(
            [], "new_id long, old_id long, approx_cos double"
        )
        fresh = kept

    fresh = fresh.localCheckpoint(eager=True)  # snapshot before store write
    matches = matches.localCheckpoint(eager=True)
    _write_label(
        new_rows.join(fresh.select(id_col), "vec_id", "left_semi"),
        store_dir,
        increment_id,
    )
    return fresh, matches


# ---------------------------------------------------------------------------
# Incremental QUALITY gate: persisted corpus bigram-LM count store
# ---------------------------------------------------------------------------
def bigram_lm_increment(
    new_docs: DataFrame,
    store_dir: str,
    increment_id: str,
    max_bits: float = 8.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Quality counterpart of :func:`dedup_increment`: score each new
    document's bigram cross-entropy against the LM built from EVERY
    previously accepted document's bigram counts, reject docs above
    ``max_bits``, and register the accepted docs' counts. The store
    grows by (w1, w2, c) count rows only — vocabulary-bounded, never
    text.

    Estimator: Laplace over the STORE's second-word vocabulary,
    P(w2|w1) = (c12_store + 1)/(c1_store + V_store). No leave-one-out
    is needed here (unlike the batch ``quality_bigram_lm``): the store
    is external to the scored batch by construction, so a gibberish
    doc has zero support and pays ≈ log2(V) bits per bigram while
    text echoing the accepted corpus stays cheap.

    Policy edges: an EMPTY store accepts everything (no LM to judge
    against yet — the first crawl drop defines the corpus), and "empty"
    is judged EXCLUDING the current increment's own label
    (:func:`_foreign_rows`) so an at-least-once replay of the
    very first increment re-takes the cold-start branch instead of
    dividing by an empty LM's zero vocabulary; docs too
    short to produce a bigram are accepted (the stateless token-floor
    gate owns that rejection) and appear in ``scored`` with null
    ``bits_per_bigram``.

    Returns ``(accepted_docs, scored)`` where ``scored`` is
    (doc_id, n_bigrams, bits_per_bigram) for every input doc.
    Store idempotence follows the other increments: accepted counts
    land under ``increment=<label>`` with overwrite and the LM side
    excludes the current label, so replays recompute identically.
    """
    from msstreamingstack_spark.functions.text import doc_bigram_counts

    spark = new_docs.sparkSession
    if id_col != "doc_id":
        new_docs = new_docs.withColumnRenamed(id_col, "doc_id")
        id_col = "doc_id"

    dbc = doc_bigram_counts(new_docs, text_col=text_col).persist()
    try:
        known = _foreign_rows(spark, store_dir, increment_id)
        if known is not None:
            lm12 = known.groupBy("w1", "w2").agg(F.sum("c").alias("c12"))
            lm1 = lm12.groupBy("w1").agg(F.sum("c12").alias("c1"))
            vsz = lm12.agg(
                F.countDistinct("w2").cast("long").alias("vsz")
            )
            term = F.round(
                -F.log2(
                    (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1)).cast(
                        "double"
                    )
                    / (
                        F.coalesce(F.col("c1"), F.lit(0)) + F.col("vsz")
                    ).cast("double")
                )
                * F.col("c"),
                9,
            ).cast("decimal(28,9)")
            per_doc = (
                dbc.join(lm12, ["w1", "w2"], "left")
                .join(lm1, ["w1"], "left")
                .crossJoin(F.broadcast(vsz))
                .groupBy(id_col)
                .agg(
                    F.sum("c").cast("long").alias("n_bigrams"),
                    F.round(
                        F.sum(term).cast("double")
                        / F.sum("c").cast("double"),
                        9,
                    ).alias("bits_per_bigram"),
                )
            )
            scored = new_docs.select(id_col).join(
                per_doc, id_col, "left"
            )
            accepted = new_docs.join(
                scored.filter(
                    F.col("bits_per_bigram").isNull()
                    | (F.col("bits_per_bigram") <= max_bits)
                ).select(id_col),
                id_col,
                "left_semi",
            )
        else:
            per_doc = dbc.groupBy(id_col).agg(
                F.sum("c").cast("long").alias("n_bigrams")
            )
            scored = (
                new_docs.select(id_col)
                .join(per_doc, id_col, "left")
                .withColumn(
                    "bits_per_bigram", F.lit(None).cast("double")
                )
            )
            accepted = new_docs

        # snapshot before the store write: accepted's plan reads the
        # store through the scoring join (own label is excluded, but
        # the snapshot also caches the heavy scoring subtree for the
        # caller's multiple consumers)
        accepted = accepted.localCheckpoint(eager=True)
        scored = scored.localCheckpoint(eager=True)
        _write_label(
            dbc.join(accepted.select(id_col), id_col, "left_semi")
            .groupBy("w1", "w2")
            .agg(F.sum("c").alias("c")),
            store_dir,
            increment_id,
        )
        return accepted, scored
    finally:
        dbc.unpersist()


# ---------------------------------------------------------------------------
# Store compaction
# ---------------------------------------------------------------------------
def compact_store(
    spark: SparkSession,
    store_dir: str,
    agg: str | None = None,
    exclude_labels: tuple[str, ...] = (),
) -> int:
    """Fold every ``increment=*`` partition into ONE base partition.

    Every increment writes its own ``increment=<label>`` partition dir
    (the idempotent-replay contract), so a long-running ingest grows
    the store by one directory + ≥1 file per micro-batch — after the
    50-batch soak, 50 dirs. Store READS (every increment scans the
    whole store) then pay listing + footer overhead linear in batch
    COUNT rather than data size. Compaction rewrites the union of all
    partitions under a single ``increment=__base_<n>`` label:

    - the label starts with ``__base``, which no live increment id
      uses, so the label-exclusion filter in every increment keeps
      treating compacted rows as FOREIGN (prior corpus) — semantics
      of subsequent increments are unchanged (equality-tested);
    - ``agg="counts"`` additionally re-aggregates (w1, w2) count rows
      (the LM store), shrinking rows as well as files; ``agg="dedup"``
      collapses byte-identical rows (digest store re-crawl dedupe
      across runs); default keeps rows as-is (signature/embedding
      stores: one row per doc, already minimal);
    - CONTRACT: compact at a quiescent point (between micro-batches /
      with the ingest stopped) and never reuse a pre-compaction
      increment label afterwards — a replay of a folded label would
      see its own first-attempt rows as foreign. This is the same
      rule checkpoint-recovery already imposes: replays only ever
      re-run labels derived from the CURRENT checkpoint, and a store
      compacted mid-recovery would violate quiescence anyway.

    ``exclude_labels`` keeps the named increments OUT of the fold (their
    partitions survive untouched): the live-ingest integration passes
    the CURRENT batch's label, because the streaming checkpoint may
    replay exactly that batch after a crash between compaction and the
    offset commit — a replay whose own rows were folded into the base
    would see its first attempt as foreign. Labels older than the
    current batch are commit-protected (a checkpoint only ever replays
    the last uncommitted batch), so folding them mid-stream is safe —
    that is what makes in-stream compaction sound without a stop.

    Returns the number of rows in the compacted store. The rewrite is
    atomic-enough for the quiescent contract: data lands in a temp dir
    first, then swaps in via two renames.
    """
    import shutil

    if not _store_has_data(store_dir):
        return 0
    df = spark.read.parquet(store_dir)
    if exclude_labels:
        df = df.filter(~F.col("increment").isin(*exclude_labels))
        if df.limit(1).count() == 0:
            return 0  # nothing foldable yet
    cols = [c for c in df.columns if c != "increment"]
    base = df.select(*cols)
    if agg == "counts":
        keys = [c for c in cols if c != "c"]
        base = base.groupBy(*keys).agg(F.sum("c").alias("c")).select(*cols)
    elif agg == "dedup":
        base = base.distinct()
    # next base index, so repeated compactions never reuse a label
    n = (
        max(
            (
                int(m.group(1))
                for e in os.listdir(store_dir)
                if (m := __import__("re").match(r"increment=__base_(\d+)", e))
            ),
            default=-1,
        )
        + 1
    )
    tmp = store_dir.rstrip("/") + ".__compact_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    (
        base.withColumn("increment", F.lit(f"__base_{n}"))
        .write.mode("overwrite")
        .partitionBy("increment")
        .parquet(tmp)
    )
    # excluded (still-replayable) partitions survive the swap verbatim
    from urllib.parse import unquote

    for entry in os.listdir(store_dir):
        full = os.path.join(store_dir, entry)
        if (
            os.path.isdir(full)
            and entry.startswith("increment=")
            and unquote(entry[len("increment="):]) in exclude_labels
        ):
            shutil.copytree(full, os.path.join(tmp, entry))
    rows = spark.read.parquet(tmp).count()
    old = store_dir.rstrip("/") + ".__compact_old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(store_dir, old)
    os.rename(tmp, store_dir)
    shutil.rmtree(old, ignore_errors=True)
    return rows
