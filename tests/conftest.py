"""Shared fixtures: one session-scoped SparkSession, fixture dirs."""

from __future__ import annotations

import os
import re
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


_EXPR_IDS = re.compile(r"#\d+L?")
_HELPER_VIEWS = re.compile(r"\b\w*?_[0-9a-f]{8}\b")
# Column-API higher-order functions number their lambda variables
_LAMBDA_VARS = re.compile(r"(lambda \w+?)_\d+#")


def _norm_plan(text: str) -> str:
    text = _LAMBDA_VARS.sub(r"\1#", _EXPR_IDS.sub("#", text))
    return _HELPER_VIEWS.sub("<view>", text).strip()


def explain_plan(engine, sql: str) -> str:
    """EXPLAIN's optimized logical plan of ``sql`` without its header
    notes, with expression ids and helper view names normalized."""
    logical = engine.execute(f"explain {sql}").rows[0][0]
    return _norm_plan("\n".join(
        ln for ln in logical.splitlines() if not ln.startswith("-- ")
    ))


def fetched_plan(engine, sql: str) -> str:
    """The optimized logical plan of the frame that executing ``sql``
    fetches, normalized like ``explain_plan``."""
    frames = []
    fetch = engine._fetch
    engine._fetch = lambda df: frames.append(df) or fetch(df)
    try:
        engine.execute(sql)
    finally:
        del engine._fetch
    return _norm_plan(
        frames[-1]._jdf.queryExecution().optimizedPlan().toString()
    )
