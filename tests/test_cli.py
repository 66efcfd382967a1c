"""End-to-end CLI test: produce drops → consume (availableNow) →
history sink has every event, sessionized — the reference's
producer+consumer run loop (README.md run commands) as one in-process
round trip."""

from __future__ import annotations

import pytest

import os

from msstreamingstack_spark.__main__ import main


@pytest.mark.slow
def test_produce_consume_roundtrip(spark, tmp_path):
    drops = str(tmp_path / "drops")
    hist = str(tmp_path / "hist")
    cp = str(tmp_path / "cp")

    rc = main(
        [
            "produce", "--out", drops,
            "--batches", "4", "--batch-size", "5", "--gap-sec", "2400",
        ]
    )
    assert rc == 0
    assert len(os.listdir(drops)) == 4

    rc = main(
        [
            "consume", "--source", drops, "--checkpoint", cp,
            "--parquet-out", hist, "--once",
        ]
    )
    assert rc == 0

    out = spark.read.parquet(hist)
    assert out.count() == 20  # every produced event reached the sink
    assert "session_id" in out.columns


def test_query_subcommand_runs_and_unknown_rejected(spark, capsys):
    rc = main(["query", "tpch_q1", "--sf-dir", "/root/testdata/sf0.001", "--rows", "3"])
    assert rc == 0
    rc = main(["query", "no_such_query_xyz"])
    assert rc == 2


def test_query_skew_robust_flag(spark, capsys):
    """--skew-robust selects the bounded-partition twin where one
    exists and errors (exit 2) where the plan is already bounded."""
    rc = main([
        "query", "token_budget_sample",
        "--sf-dir", "/root/testdata/sf0.001", "--rows", "2",
        "--skew-robust",
    ])
    assert rc == 0
    rc = main([
        "query", "tpch_q1",
        "--sf-dir", "/root/testdata/sf0.001", "--skew-robust",
    ])
    assert rc == 2
    assert "no skew_robust twin" in capsys.readouterr().err


def test_query_skew_robust_auto_mode(spark, capsys):
    """--skew-robust auto probes the top-key share and routes via the
    measured crossover (operators/skew_dispatch.py); a query with no
    dispatch entry errors BEFORE any session work (exit 2)."""
    rc = main([
        "query", "topk_customers_per_segment",
        "--sf-dir", "/root/testdata/sf0.001", "--rows", "2",
        "--skew-robust", "auto",
    ])
    assert rc == 0
    err = capsys.readouterr().err
    assert "top-key share" in err and "crossover" in err
    rc = main([
        "query", "tpch_q1",
        "--sf-dir", "/root/testdata/sf0.001", "--skew-robust", "auto",
    ])
    assert rc == 2
    assert "no skew auto-dispatch entry" in capsys.readouterr().err


def test_ingest_subcommand_end_to_end(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    drops = str(tmp_path / "doc_drops")
    os.makedirs(drops)
    texts = {
        1: "alpha beta gamma delta epsilon zeta eta theta",
        2: "zebra yak xylophone walrus vulture tiger snake",  # = eval doc
        3: "a a a a a a",                                      # repetitive
    }
    tbl = pa.table(
        {
            "doc_id": pa.array(list(texts), pa.int64()),
            "text": pa.array(list(texts.values()), pa.string()),
            "lang": pa.array(["en"] * 3, pa.string()),
            "source": pa.array(["crawl"] * 3, pa.string()),
            "n_chars": pa.array([len(t) for t in texts.values()], pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(drops, "b0.parquet"))
    ev = str(tmp_path / "eval.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([100], pa.int64()),
                "text": pa.array([texts[2]], pa.string()),
                "lang": pa.array(["en"], pa.string()),
                "source": pa.array(["bench"], pa.string()),
                "n_chars": pa.array([len(texts[2])], pa.int64()),
            }
        ),
        ev,
    )
    accept, reject = str(tmp_path / "acc"), str(tmp_path / "rej")
    rc = main(
        [
            "ingest", "--source", drops, "--eval-parquet", ev,
            "--accept", accept, "--reject", reject,
            "--checkpoint", str(tmp_path / "icp"), "--once",
        ]
    )
    assert rc == 0
    assert {r["doc_id"] for r in spark.read.parquet(accept).collect()} == {1}
    rej = {
        r["doc_id"]: r["reject_reason"]
        for r in spark.read.parquet(reject).collect()
    }
    assert rej == {2: "contaminated", 3: "too_repetitive"}


def test_cli_dedup_increment(tmp_path, capsys):
    from msstreamingstack_spark.__main__ import main

    store = str(tmp_path / "store")
    out1 = str(tmp_path / "fresh1")
    rc = main([
        "dedup-increment",
        "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--store", store, "--label", "inc1", "--out", out1,
    ])
    assert rc == 0
    assert "fresh docs registered" in capsys.readouterr().out
    # replay with the same label: same count, store unchanged
    rc = main([
        "dedup-increment",
        "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--store", store, "--label", "inc1",
    ])
    assert rc == 0


def test_cli_mv_and_compact(tmp_path, capsys):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from msstreamingstack_spark.__main__ import main

    # small event drop (generator-encoded int64-nanos ts)
    from msstreamingstack_spark.sources.generator import drop_batches

    drops = str(tmp_path / "drops")
    drop_batches(drops, n_batches=2, batch_size=6, t0_sec=1_700_000_000)

    mv = str(tmp_path / "mv")
    rc = main(["mv", "--source", drops, "--mv", mv,
               "--checkpoint", str(tmp_path / "cp")])
    assert rc == 0
    assert pq.read_table(mv).num_rows > 0

    dst = str(tmp_path / "mv_compact")
    rc = main(["compact", "--src", mv, "--dst", dst, "--target-mb", "64"])
    assert rc == 0
    assert "compacted" in capsys.readouterr().out
    assert pq.read_table(dst).num_rows == pq.read_table(mv).num_rows


@pytest.mark.slow
def test_cli_verify_subset(tmp_path):
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "-m", "msstreamingstack_spark", "verify",
         "--names", "tpch_q1,heavy_hitters_exact",
         "--sf-dir", "/root/testdata/sf0.01"],
        capture_output=True, text=True, timeout=420,
    )
    assert r.returncode == 0, r.stdout + r.stderr
    assert "2/2 queries match" in r.stdout


def test_cli_verify_unknown_name():
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "-m", "msstreamingstack_spark", "verify",
         "--names", "no_such_query"],
        capture_output=True, text=True, timeout=120,
    )
    assert r.returncode == 2


def test_cli_neardup(spark, tmp_path, capsys):
    """neardup subcommand drains document drops and writes per-batch
    verdict parquet; an exact re-crawl under a new id is flagged."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    drops = str(tmp_path / "nd_drops")
    os.makedirs(drops)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten eleven"
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1, 2], pa.int64()),
                "text": pa.array([base, other], pa.string()),
                "lang": pa.array(["en"] * 2, pa.string()),
                "source": pa.array(["crawl"] * 2, pa.string()),
                "n_chars": pa.array([len(base), len(other)], pa.int64()),
            }
        ),
        os.path.join(drops, "b0.parquet"),
    )
    # drop 2: verbatim re-crawl of doc 1 under a new id
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([10], pa.int64()),
                "text": pa.array([base], pa.string()),
                "lang": pa.array(["en"], pa.string()),
                "source": pa.array(["crawl"], pa.string()),
                "n_chars": pa.array([len(base)], pa.int64()),
            }
        ),
        os.path.join(drops, "b1.parquet"),
    )
    os.utime(os.path.join(drops, "b0.parquet"), (1_700_000_000, 1_700_000_000))
    os.utime(os.path.join(drops, "b1.parquet"), (1_700_000_010, 1_700_000_010))

    out = str(tmp_path / "nd_out")
    rc = main([
        "neardup", "--source", drops, "--out", out,
        "--checkpoint", str(tmp_path / "nd_cp"),
    ])
    assert rc == 0
    assert "1 docs flagged" in capsys.readouterr().out
    verdicts = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert verdicts[10]["is_neardup"] is True
    assert verdicts[10]["matched_doc"] == 1
    assert verdicts[10]["est_jaccard"] == 1.0
    assert verdicts[1]["is_neardup"] is False


def test_catalog_writes_one_row_per_query(tmp_path, monkeypatch, capsys):
    """catalog renders the registry as a markdown table, one row per
    query, without a Spark session; the removed --audit flag is now an
    argparse usage error."""
    from pyspark.sql import SparkSession

    from msstreamingstack_spark.queries import REGISTRY

    def _no_session(self):
        raise AssertionError("catalog must not start a Spark session")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", _no_session)

    out = tmp_path / "QUERIES.md"
    assert main(["catalog", "--out", str(out)]) == 0
    lines = out.read_text().splitlines()
    assert lines[0] == (
        "# Query catalog (generated: `python -m msstreamingstack_spark catalog`)"
    )
    for name in REGISTRY:
        assert sum(ln.startswith(f"| `{name}` | ") for ln in lines) == 1, name
    assert sum(ln.startswith("| `") for ln in lines) == len(REGISTRY)

    with pytest.raises(SystemExit) as exc:
        main(["catalog", "--audit"])
    assert exc.value.code == 2
    assert "--audit" in capsys.readouterr().err
