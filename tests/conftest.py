"""Shared fixtures: one local SparkSession per test run."""

from __future__ import annotations

import hashlib
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


def h32(s: str) -> int:
    """First 32 bits of md5(s): the hashlib reference the engines'
    `numerics.h32` and `h32_sql` are checked against."""
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def plan_text(df) -> str:
    """The executed physical plan of ``df``, as plan-shape tests assert on it."""
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    import tempfile

    s = (SparkSession.builder.master("local[4]")
         .appName("excel_to_db_spark-tests")
         .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="e2db_wh_"))
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.legacy.parquet.nanosAsLong", "true")
         .config("spark.ui.enabled", "false")
         # The full suite shares this one JVM for 650+ tests; the
         # default 1g heap OOMs once enough cut blocks accumulate
         # (r10: java.lang.OutOfMemoryError in test_graphlp mid-suite,
         # the failure class physical.release records for the sf1
         # sweeps).
         .config("spark.driver.memory", "6g")
         .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(autouse=True)
def _release_spark_blocks(request):
    """Deterministically free cached tables and cut RDD blocks after
    every test that touched the shared session (``physical.release``):
    the ContextCleaner's async sweep falls behind a 650-test run and
    the heap fills with unreachable-but-unreleased blocks.

    INVARIANT this sweep imposes (ADVICE r10): no module- or
    session-scoped cache may hold a DataFrame across tests. The
    unpersist covers ``physical.cut`` blocks, whose LINEAGE IS
    TRUNCATED — a cut frame retained by one test and reused
    by a later one would fail unrecoverably once its blocks are
    freed here. Keep module-level caches to plain values, or scope a
    DataFrame cache to a single test."""
    yield
    if "spark" in request.fixturenames:
        from excel_to_db_spark.operators import physical

        try:
            physical.release(request.getfixturevalue("spark"))
        except Exception:
            pass


@pytest.fixture()
def jobs_of(spark):
    """``jobs_of(fn)`` -> ``(fn(), number of Spark jobs fn submitted)``,
    counted through the status tracker under a job group of its own."""
    sc = spark.sparkContext

    def run(fn):
        group = f"job-budget-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store is fed by the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    return run


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def registry():
    from excel_to_db_spark.queries import REGISTRY
    return REGISTRY


@pytest.fixture(scope="session")
def demo_xlsx():
    """The demo workbook the paper-surface keys read (see
    ``queries.parity.DEMO_XLSX``)."""
    from excel_to_db_spark.queries.parity import DEMO_XLSX

    return DEMO_XLSX
