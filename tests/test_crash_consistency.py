"""Crash-injection sweep over the manifest write path.

The storage model's durability claim (SCALE.md §6.1): the catalog
JSON's ``os.replace`` is the single commit point; a crash anywhere
else leaves either the old or the new table state, never a mix —
staged segment dirs become VACUUM-able orphans, and transaction undo
markers roll half-applied transactions back on reopen.

These tests *enforce* that claim mechanically: run a fixed statement
sequence, crash at EVERY commit boundary in turn (before the catalog
save, and after it but before garbage pruning), reopen a fresh engine
over the surviving warehouse, and require a consistent state — the
table readable, its contents exactly one of the states a clean run
passes through, and VACUUM able to sweep the wreckage.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from andb_spark.api import AnalyticsEngine


class _Crash(RuntimeError):
    pass


# The statement sequence exercises every write shape: append (fast
# path + Spark path), CoW UPDATE/DELETE, full rewrite, TRUNCATE,
# matview refresh. Small data — the point is commit boundaries.
_OPS = [
    "create table ct (k int, v int)",
    "insert into ct values (1, 10), (2, 20), (3, 30)",
    "insert into ct select id, id from range(100, 140)",
    "update ct set v = 0 where k = 2",
    "create materialized view ctv as"
    " select count(*) as n, sum(v) as s from ct",
    "delete from ct where k >= 120",
    "refresh materialized view ctv",
    "insert into ct values (7, 70)",
    "truncate table ct",
    "insert into ct values (9, 90)",
]


def _run_clean(spark) -> tuple[list, int]:
    """Clean run: collect the set of observable states after each
    statement, and count the catalog saves the sequence performs."""
    wh = tempfile.mkdtemp(prefix="crash_clean_")
    eng = AnalyticsEngine(wh, spark=spark)
    saves = 0
    orig = AnalyticsEngine._save_catalog

    def counting(self):
        nonlocal saves
        saves += 1
        return orig(self)

    AnalyticsEngine._save_catalog = counting
    states = []
    try:
        for op in _OPS:
            eng.execute(op)
            states.append(_observe(eng))
    finally:
        AnalyticsEngine._save_catalog = orig
        shutil.rmtree(wh, ignore_errors=True)
    return states, saves


def _observe(eng) -> tuple:
    rows = tuple(sorted(eng.execute("select * from ct").rows))
    mv = (
        tuple(sorted(eng.execute("select * from ctv").rows))
        if "ctv" in eng.catalog["tables"]
        else None
    )
    return rows, mv


@pytest.mark.parametrize("when", ["before_save", "after_save"])
def test_crash_at_every_commit_boundary_is_consistent(spark, when):
    states, n_saves = _run_clean(spark)
    valid = {s[0] for s in states} | {()}  # () = pre-create/empty
    valid_mv = {s[1] for s in states} | {None}
    orig = AnalyticsEngine._save_catalog

    for k in range(1, n_saves + 1):
        wh = tempfile.mkdtemp(prefix=f"crash_{when}_{k}_")
        eng = AnalyticsEngine(wh, spark=spark)
        calls = 0

        def crashing(self):
            nonlocal calls
            calls += 1
            if calls == k:
                if when == "before_save":
                    # crash with staged segments on disk, durable
                    # catalog still at the previous state
                    raise _Crash(f"pre-save crash #{k}")
                orig(self)  # the commit point lands...
                raise _Crash(f"post-save crash #{k}")  # ...pruning not
            return orig(self)

        AnalyticsEngine._save_catalog = crashing
        try:
            for op in _OPS:
                eng.execute(op)
        except Exception as ex:
            # the engine wraps statement errors; the crash must be the
            # root cause, not some unrelated failure
            root = ex
            while root.__cause__ is not None:
                root = root.__cause__
            assert isinstance(root, _Crash), (k, when, ex)
        finally:
            AnalyticsEngine._save_catalog = orig

        # "process death": reopen a FRESH engine over the warehouse
        eng2 = AnalyticsEngine(wh, spark=spark)
        if "ct" in eng2.catalog["tables"]:
            got = _observe(eng2)
            assert got[0] in valid, (k, when, got[0])
            assert got[1] in valid_mv, (k, when, got[1])
            # wreckage (staged orphan dirs) is sweepable, and the
            # table still reads identically afterwards
            eng2.execute("vacuum ct")
            assert _observe(eng2)[0] == got[0], (k, when)
            # and the engine still accepts new commits
            eng2.execute("insert into ct values (42, 420)")
            assert (42, 420) in set(
                eng2.execute("select * from ct").rows
            ), (k, when)
        shutil.rmtree(wh, ignore_errors=True)


def test_crash_between_dv_sidecar_and_catalog_save(spark, tmp_path):
    """A deletion-vector DELETE writes its sidecar, then saves the
    catalog (the commit point). Dying in between leaves the sidecar
    unreachable: the reopened table still has the row, and VACUUM
    sweeps the orphan."""
    wh = str(tmp_path / "wh")
    eng = AnalyticsEngine(wh, spark=spark)
    e = eng.execute
    e("create table dv (k int, v int)")
    e("insert into dv select id, id from range(0, 100)")
    e("insert into dv values (500, 5)")
    dv_dir = os.path.join(wh, "dv", "_dv")
    orig = AnalyticsEngine._save_catalog

    def crashing(self):
        raise _Crash("crash at the DV commit point")

    AnalyticsEngine._save_catalog = crashing
    try:
        with pytest.raises(Exception):
            e("delete from dv where k = 7")
    finally:
        AnalyticsEngine._save_catalog = orig
    assert len(os.listdir(dv_dir)) == 1  # written, never committed
    eng2 = AnalyticsEngine(wh, spark=spark)
    assert "dvs" not in eng2._meta("dv")
    assert eng2.execute("select count(*) from dv where k = 7").rows == [(1,)]
    eng2.execute("vacuum dv")
    assert os.listdir(dv_dir) == []
    assert eng2.execute("delete from dv where k = 7").effect_rows == 1
    assert eng2.execute("select count(*) from dv").rows == [(100,)]


def test_crash_mid_transaction_then_reopen_rolls_back(spark):
    """Crash INSIDE an explicit transaction (after some statements
    committed their intermediate durable state): reopen must restore
    the pre-transaction snapshot via the undo marker, regardless of
    which statement the crash interrupted."""
    import json

    import subprocess

    for crash_after in (1, 2):
        wh = tempfile.mkdtemp(prefix="crash_txn_")
        eng = AnalyticsEngine(wh, spark=spark)
        e = eng.execute
        e("create table t (a int)")
        e("insert into t values (1), (2)")
        baseline = sorted(e("select * from t").rows)
        e("begin")
        stmts = ["update t set a = 99 where a = 1", "insert into t values (3)"]
        for s_ in stmts[:crash_after]:
            e(s_)
        # "die": mark the owner dead so a reopen recovers instead of
        # refusing (the live-owner guard is its own test)
        proc = subprocess.Popen(["true"])
        proc.wait()
        marker = json.load(open(eng._txn_snap_path))
        marker["__txn_pid"] = proc.pid
        json.dump(marker, open(eng._txn_snap_path, "w"))
        eng._txn = None

        eng2 = AnalyticsEngine(wh, spark=spark)
        assert sorted(eng2.execute("select * from t").rows) == baseline, (
            crash_after
        )
        assert not os.path.exists(eng2._txn_snap_path)
        shutil.rmtree(wh, ignore_errors=True)
