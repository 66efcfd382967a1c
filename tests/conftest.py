from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from msstreamingstack_spark.session import get_spark  # noqa: E402


# ---------------------------------------------------------------------------
# Two-tier suite (r12, verdict task #2). The default `pytest tests/`
# run is the FAST tier: smoke + every equivalence/invariant pin —
# the external driver's verify budget could not finish the ~30 min
# full suite (VERIFY_r11 tests_ok=false on timeout, zero failures).
# The SLOW tier (exhaustive property sweeps and per-query oracle
# parity already covered by `python -m msstreamingstack_spark
# verify`) stays runnable:
#   pytest tests/ --runslow        # everything
#   pytest tests/ -m slow          # slow tier only
# ---------------------------------------------------------------------------
def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="also run tests marked slow (full property/oracle sweeps)",
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: exhaustive property/oracle sweep — excluded from the "
        "default run; opt in with --runslow or -m slow",
    )


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow"):
        return
    markexpr = config.getoption("-m", default="") or ""
    if "slow" in markexpr:
        return  # explicit -m selection governs
    skip = pytest.mark.skip(
        reason="slow tier: opt in with --runslow (or -m slow)"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


# Session confs every test (and fixture) must leave as the session
# started with them. Operators pass their overwrite mode per write
# instead of setting it on the session: a leaked ``dynamic`` silently
# turns every later static overwrite into a dynamic one; a leaked Arrow
# chunk size re-chunks every later pandas UDF.
ARROW_CHUNK_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"
GUARDED_CONFS = (
    "spark.sql.sources.partitionOverwriteMode",
    ARROW_CHUNK_CONF,
)
_CONF_BASELINE: dict[str, str] = {}  # recorded when the session starts


@contextmanager
def arrow_chunk_size(spark, n: int):
    """Run the block with pandas UDF input cut into Arrow chunks of at
    most ``n`` rows, so one group spans several chunks; restores the
    previous size on exit."""
    prev = spark.conf.get(ARROW_CHUNK_CONF)
    spark.conf.set(ARROW_CHUNK_CONF, str(n))
    try:
        yield
    finally:
        spark.conf.set(ARROW_CHUNK_CONF, prev)


@pytest.fixture(autouse=True)
def no_session_conf_leak():
    """Fail a test that leaves a guarded session conf changed, and
    restore the conf so one leak does not cascade into later tests.
    Compares against the session's start values, so a leak from a
    module fixture fails the first test that runs after it."""
    yield
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()  # never starts a session
    if active is None or not _CONF_BASELINE:
        return
    now = {k: active.conf.get(k) for k in _CONF_BASELINE}
    leaked = {k: (v, now[k]) for k, v in _CONF_BASELINE.items() if now[k] != v}
    for k, (v, _) in leaked.items():
        active.conf.set(k, v)
    if leaked:
        pytest.fail(f"session confs leaked (start value, now): {leaked}")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="msstreamingstack-tests", cpus=8, shuffle_partitions=8)
    _CONF_BASELINE.update({k: spark.conf.get(k) for k in GUARDED_CONFS})
    yield spark


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correctness() -> str:
    return SF_CORRECTNESS
