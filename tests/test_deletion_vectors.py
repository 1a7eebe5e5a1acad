"""Deletion vectors (api.py: ``_dv_collect``, ``_dv_hits``,
``_stage_dvs``, ``_read_files``' ``_dv_filter``).

A small UPDATE, DELETE or literal ON CONFLICT DO UPDATE commits the
parquet row positions of the rows it removes as a per-file sidecar
plus, for UPDATE and upsert, one driver-staged segment of the new
rows; no data file is rewritten. These tests pin what every reader of
the manifest must then do with those positions:

- the footer-derived counts (``andb_segments``, OPTIMIZE's ``rows``,
  MERGE's and ON CONFLICT's ``effect_rows``) subtract them;
- time travel, CLONE (current and ``VERSION AS OF``), ROLLBACK and
  RESTORE read each version through its own deletion vectors.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from andb_spark.api import AnalyticsEngine, _zone_dnf


@pytest.fixture()
def engine(spark, tmp_path):
    eng = AnalyticsEngine(str(tmp_path / "wh"), spark=spark)
    yield eng
    eng.close()


def _count(engine, t: str) -> int:
    return engine.execute(f"select count(*) from {t}").rows[0][0]


def _rows(engine, sql: str) -> list:
    return sorted(engine.execute(sql).rows)


def test_segment_rows_and_optimize_rows_are_live_counts(engine, monkeypatch):
    e = engine.execute
    e("create table sv (k int, v int)")
    e("insert into sv select id, id from range(0, 4000)")
    e("insert into sv values (90001, 1), (90002, 2)")
    assert e("delete from sv where k between 10 and 29").effect_rows == 20
    assert e("update sv set v = -1 where k = 40").effect_rows == 1
    assert engine._meta("sv")["dvs"], "the statements above take DVs"
    seg = e(
        "select sum(n_rows), sum(deleted_rows) from andb_segments"
        " where table_name = 'sv'"
    ).rows[0]
    assert seg == (_count(engine, "sv"), 21)
    # OPTIMIZE packs only the small files; the large one keeps its DV,
    # so the reported rows must subtract it
    big = max(engine._data_files("sv"), key=os.path.getsize)
    monkeypatch.setattr(
        type(engine), "OPTIMIZE_FILE_BYTES", os.path.getsize(big) - 1
    )
    rows = e("optimize sv").rows[0][2]
    assert big in engine._data_files("sv") and engine._meta("sv")["dvs"]
    assert rows == _count(engine, "sv") == 4002 - 20


def _twin(engine, con, ddl: str, *stmts: str) -> None:
    for sql in (ddl, *stmts):
        engine.execute(sql)
        con.execute(sql)


def _same(engine, con, t: str) -> None:
    sql = f"select * from {t} order by k"
    assert engine.execute(sql).rows == con.execute(sql).fetchall()


def test_effect_rows_match_duckdb_on_files_carrying_dvs(engine):
    """MERGE counts its inserts as staged rows minus the affected
    files' rows: those files carry DVs here, so the footer count must
    subtract them. ON CONFLICT DO UPDATE runs over the same files."""
    con = duckdb.connect()
    _twin(
        engine, con, "create table kv (k int primary key, v int)",
        "insert into kv select i, i from range(0, 300) r(i)",
        "insert into kv values (1000, 1), (1001, 1)",
        "delete from kv where k between 10 and 19",
        "update kv set v = 7 where k = 30",
        "create table src (k int, v int)",
        "insert into src values (20, 0), (21, 0), (500, 5), (501, 5)",
    )
    assert engine._meta("kv")["dvs"]
    sql = (
        "merge into kv using src on kv.k = src.k"
        " when matched then update set v = src.v"
        " when not matched then insert values (src.k, src.v)"
    )
    got = engine.execute(sql).effect_rows
    want = con.execute(
        "update kv set v = src.v from src where kv.k = src.k"
    ).fetchall()[0][0]
    want += con.execute(
        "insert into kv select * from src"
        " where k not in (select k from kv)"
    ).fetchall()[0][0]
    assert got == want == 4
    _same(engine, con, "kv")
    _twin(engine, con, "select 1", "delete from kv where k between 40 and 44")
    sql = (
        "insert into kv values (50, 0), (51, 0), (2000, 2)"
        " on conflict (k) do update set v = excluded.v"
    )
    assert engine._meta("kv")["dvs"]
    assert engine.execute(sql).effect_rows == con.execute(sql).fetchall()[0][0]
    _same(engine, con, "kv")


def test_upsert_on_unique_key_spelled_in_another_case(engine):
    """The UNIQUE set keeps the case its DDL used (``Code``), the rows
    the upsert collects carry the column's own name (``code``)."""
    con = duckdb.connect()
    _twin(
        engine, con,
        "create table uc (k int, code varchar, v int, unique (Code))",
        "insert into uc select i, 'c' || i, i from range(0, 300) r(i)",
        "insert into uc values (1000, 'c1000', 1)",
    )
    sql = (
        "insert into uc values (7, 'c20', 0), (8, 'c21', 0),"
        " (2000, 'c2000', 2) on conflict (code) do update"
        " set v = excluded.v"
    )
    assert engine.execute(sql).effect_rows == con.execute(sql).fetchall()[0][0]
    assert engine._meta("uc")["dvs"], "the upsert takes DVs"
    _same(engine, con, "uc")


def test_dvs_and_small_segments_keep_exact_zones(engine):
    """A DV keeps the zone of the rows it deletes, and a small
    driver-staged segment (an UPDATE's post-images) every value of
    its columns: a scan whose predicate misses them leaves the DV
    filter out or skips the segment, and reads still match DuckDB."""
    con = duckdb.connect()
    _twin(
        engine, con,
        "create table zk (k int primary key, code varchar, v int)",
        "insert into zk select i, 'c' || i, i from range(0, 500) r(i)",
        "delete from zk where k between 100 and 109",
        "update zk set v = -1 where k in (300, 450)",
    )
    meta = engine._meta("zk")
    paths, dvs = engine._segment_paths("zk"), meta["dvs"]

    def cut(cond: str):
        return engine._dv_filter("zk", paths, dvs, _zone_dnf(cond))

    assert cut("k = 200") is None and cut("code = 'c7'") is None
    assert cut("k = 105") and cut("k = 450") and cut("k >= 400")
    post = engine._segments_of(meta)[-1]
    assert engine._stats_of("zk")[post]["__vals"]["k"] == [300, 450]
    assert post not in engine._zone_scan_entries("zk", "k = 400")
    assert post in engine._zone_scan_entries("zk", "k = 450")
    for sql in (
        "select * from zk where k = 200",
        "select * from zk where k = 105",
        "select * from zk where k = 450",
        "select * from zk where k between 95 and 104",
        "select * from zk where code in ('c7', 'c300', 'c101')",
        "select count(*), sum(v) from zk where k >= 400",
    ):
        assert _rows(engine, sql) == sorted(con.execute(sql).fetchall()), sql
    _same(engine, con, "zk")


@pytest.mark.parametrize("interpret_rows", [0, 10**9])
def test_dv_membership_tests_agree(engine, monkeypatch, interpret_rows):
    """Both spellings of the DV membership test (``_dv_member``): the
    compiled ``array_contains`` past ``_DV_INTERPRET_ROWS`` scanned
    rows, the interpreted ``exists`` below it."""
    monkeypatch.setattr(
        AnalyticsEngine, "_DV_INTERPRET_ROWS", interpret_rows
    )
    con = duckdb.connect()
    _twin(
        engine, con, "create table mt (k int primary key, v int)",
        "insert into mt select i, i from range(0, 2000) r(i)",
        "delete from mt where k in (0, 255, 256, 511, 1024, 1999)",
        "update mt set v = -1 where k between 700 and 720",
    )
    cut = engine._dv_filter(
        "mt", engine._segment_paths("mt"), engine._meta("mt")["dvs"]
    )
    assert ("exists(" in cut) == bool(interpret_rows)
    _same(engine, con, "mt")
    sql = "select count(*), sum(v) from mt where k >= 250"
    assert engine.execute(sql).rows == con.execute(sql).fetchall()


def test_versions_clones_rollback_and_restore_read_their_dvs(engine):
    e = engine.execute
    e("create table tv (k int, v int)")
    e("insert into tv select id, id from range(0, 1000)")
    e("insert into tv values (5000, 5)")
    before = _rows(engine, "select * from tv")
    v_before = engine._meta("tv")["vnum"]
    e("delete from tv where k between 100 and 109")
    e("update tv set v = -1 where k = 200")
    assert engine._meta("tv")["dvs"]
    after = _rows(engine, "select * from tv")
    assert len(after) == len(before) - 10
    # a pre-delete version still shows the deleted rows
    assert _rows(engine, f"select * from tv version as of {v_before}") == before
    # clones match the rows of the version they copy
    e("create table tc clone tv")
    assert _rows(engine, "select * from tc") == after
    e(f"create table th clone tv version as of {v_before}")
    assert _rows(engine, "select * from th") == before
    # the clone owns re-keyed DVs: VACUUM on the source cannot touch it
    e("vacuum tv")
    assert _rows(engine, "select * from tc") == after
    # ROLLBACK restores the DV map of the snapshot
    e("begin")
    e("delete from tv where k between 300 and 309")
    e("update tv set v = -2 where k = 400")
    assert _count(engine, "tv") == len(after) - 10
    e("rollback")
    assert _rows(engine, "select * from tv") == after
    assert sorted(os.listdir(os.path.join(engine.warehouse, "tv", "_dv"))) == (
        sorted(dv["dv"][4:] for dv in engine._meta("tv")["dvs"].values())
    )
    # RESTORE moves the DV map with the manifest
    e("delete from tv where k = 600")
    v_cur = engine._meta("tv")["vnum"]
    e(f"restore table tv version as of {v_cur - 1}")
    assert _rows(engine, "select * from tv") == after


def test_dv_past_half_a_file_folds_by_rewrite(engine):
    """Deleting more than half of a file's rows rewrites it without
    them: the new manifest no longer names the file or its DV."""
    e = engine.execute
    e("create table hf (k int, v int)")
    e("insert into hf select id, id from range(0, 100)")
    e("insert into hf select id, id from range(100, 200)")
    e("delete from hf where k < 10")
    (first,) = engine._meta("hf")["dvs"]
    assert e("delete from hf where k < 60").effect_rows == 50
    assert "dvs" not in engine._meta("hf")
    assert not any(f.endswith(first) for f in engine._data_files("hf"))
    assert _count(engine, "hf") == 140
