"""Streaming funnel (streaming/funnel.py): the micro-batched state
machine must agree with the batch funnel_conversion windows on the
same data, including same-timestamp stage ties, and must emit an
upsert row only when a user's milestone state changes."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from msstreamingstack_spark.sources.tables import events_with_time
from msstreamingstack_spark.streaming.funnel import funnel_stream
from msstreamingstack_spark.streaming.pipeline import read_event_stream
from tests.conftest import arrow_chunk_size

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def staged_funnel_dir(tmp_path_factory):
    src = pq.read_table(os.path.join(SF, "events.parquet"))
    df = src.to_pandas().sort_values("ts").reset_index(drop=True)
    out = tmp_path_factory.mktemp("funnel_in")
    n = len(df)
    for i, lo in enumerate(range(0, n, (n + 2) // 3)):
        chunk = df.iloc[lo : lo + (n + 2) // 3]
        path = out / f"part-{i:03d}.parquet"
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False), path)
        mt = 1_700_000_000 + i * 10
        os.utime(path, (mt, mt))
    return str(out)


def _batch_truth(spark):
    """The batch funnel's per-user (s, v, p) from chained windows."""
    from pyspark.sql import Window

    ev = events_with_time(spark, SF).select("user_id", "ts_sec", "event_type")
    wu = Window.partitionBy("user_id")
    s1 = ev.withColumn(
        "s", F.min(F.when(F.col("event_type") == "signup", F.col("ts_sec"))).over(wu)
    )
    s2 = s1.withColumn(
        "v",
        F.min(
            F.when(
                (F.col("event_type") == "view") & (F.col("ts_sec") >= F.col("s")),
                F.col("ts_sec"),
            )
        ).over(wu),
    )
    s3 = s2.withColumn(
        "p",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts_sec") >= F.col("v")),
                F.col("ts_sec"),
            )
        ).over(wu),
    )
    return {
        r["user_id"]: (r["s"], r["v"], r["p"])
        for r in s3.select("user_id", "s", "v", "p").distinct().collect()
        if r["s"] is not None
    }


def test_stream_funnel_matches_batch(spark, staged_funnel_dir, tmp_path):
    ev = read_event_stream(spark, staged_funnel_dir)
    out_dir = str(tmp_path / "out.parquet")
    q = (
        funnel_stream(ev.select("event_id", "user_id", "ts_sec", "event_type"))
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    q.stop()

    got_df = spark.read.parquet(out_dir)
    # last emitted row per user = final state (stage is monotone)
    final = {
        r["user_id"]: (r["signup_ts"], r["view_ts"], r["purchase_ts"])
        for r in got_df.orderBy("stage").collect()
    }
    want = _batch_truth(spark)
    assert set(final) == set(want)
    diffs = {u: (final[u], want[u]) for u in want if final[u] != want[u]}
    assert not diffs, f"{len(diffs)} mismatches, e.g. {list(diffs.items())[:3]}"


def test_multi_chunk_group_sorts_globally(spark, tmp_path):
    """A group whose micro-batch spans multiple Arrow chunks must be
    processed in GLOBAL (ts_sec, prio, event_id) order, not per-chunk:
    the signup (earliest ts) is placed at the END of the file and
    maxRecordsPerBatch is dropped to 4, so per-chunk sorting would see
    the views/purchases before the signup and strand the user at
    stage 1."""
    import pandas as pd

    src = tmp_path / "in"
    os.makedirs(src)
    n = 19
    rows = pd.DataFrame(
        {
            "event_id": list(range(1, n + 1)) + [n + 1],
            # views/purchases first in file order (ts 20..), signup last (ts 10)
            "ts": [(20 + i) * 10**9 for i in range(n)] + [10 * 10**9],
            "user_id": [7] * (n + 1),
            "event_type": ["view" if i % 2 == 0 else "purchase" for i in range(n)]
            + ["signup"],
            "value": [0.0] * (n + 1),
            "props": ["{}"] * (n + 1),
        }
    )
    pq.write_table(pa.Table.from_pandas(rows, preserve_index=False), src / "p.parquet")

    with arrow_chunk_size(spark, 4):
        ev = read_event_stream(spark, str(src))
        out_dir = str(tmp_path / "out.parquet")
        q = (
            funnel_stream(ev.select("event_id", "user_id", "ts_sec", "event_type"))
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "cp"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()
    r = spark.read.parquet(out_dir).orderBy(F.desc("stage")).first()
    # global order: signup@10, first view@20 (>=10), first purchase@21 (>=20)
    assert (r["signup_ts"], r["view_ts"], r["purchase_ts"], r["stage"]) == (
        10,
        20,
        21,
        3,
    )


def test_tie_resolution_matches_batch_predicate(spark, tmp_path):
    """signup and view at the SAME ts: batch's ts >= s counts the
    view; the stream's stage-priority sort must agree."""
    import pandas as pd

    src = tmp_path / "in"
    os.makedirs(src)
    rows = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": [10 * 10**9, 10 * 10**9, 20 * 10**9],
            "user_id": [7, 7, 7],
            "event_type": ["view", "signup", "purchase"],
            "value": [0.0, 0.0, 0.0],
            "props": ["{}", "{}", "{}"],
        }
    )
    pq.write_table(pa.Table.from_pandas(rows, preserve_index=False), src / "p.parquet")

    ev = read_event_stream(spark, str(src))
    out_dir = str(tmp_path / "out.parquet")
    q = (
        funnel_stream(ev.select("event_id", "user_id", "ts_sec", "event_type"))
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    r = spark.read.parquet(out_dir).orderBy(F.desc("stage")).first()
    # view at ts==signup ts qualifies (ts >= s), purchase follows
    assert (r["signup_ts"], r["view_ts"], r["purchase_ts"], r["stage"]) == (
        10,
        10,
        20,
        3,
    )
