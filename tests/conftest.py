"""Shared fixtures: one session-scoped SparkSession, fixture dirs."""

from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from andb_spark.session import build_session

    s = build_session(
        "andb_tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


def statement_jobs(spark, fn) -> int:
    """Spark jobs submitted while ``fn()`` runs: everything submitted
    under a fresh job group, AQE query-stage jobs included (they
    inherit the group). Waits for the listener bus to drain so the
    status tracker has seen every job before counting."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
