"""Write-path job budget: the PK/UNIQUE/CHECK probes at the staged-write
choke point (api.py::_check_staged_constraints) probe only what a
statement could have broken, in at most two Spark actions; literal
VALUES writes decide their constraints on the driver
(api.py::_decide_literal_constraints, _try_literal_upsert).

- Per-statement Spark job budgets on a table carrying a PRIMARY KEY, a
  UNIQUE and a CHECK (counted with conftest.statement_jobs, AQE stage
  jobs included).
- The changed-column skip rule, both ways: an UPDATE that can break a
  constraint still raises and leaves no residue; one that cannot (and
  every DELETE) submits no probe job at all.
- MERGE / ON CONFLICT ``effect_rows`` now come from the staged footers;
  each case is checked against DuckDB's row counts.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from andb_spark.api import AnalyticsEngine, EngineError
from conftest import statement_jobs

DDL = (
    "create table {t} (k bigint primary key, cust bigint,"
    " code varchar unique, price double check (price >= 0),"
    " status varchar, odate date)"
)
PLAIN_DDL = (
    "create table {t} (k bigint, cust bigint, code varchar,"
    " price double, status varchar, odate date)"
)
LOAD = (
    "insert into {t} select id, id % 150, 'c' || cast(id as varchar),"
    " id * 1.5, 'O', date '1996-01-01' from range(0, 2000) r(id)"
)


def _build(engine, t: str, ddl: str = DDL) -> None:
    e = engine.execute
    e(ddl.format(t=t))
    e(LOAD.format(t=t))
    # a second segment, so copy-on-write DML keeps untouched files
    e(
        f"insert into {t} values"
        " (5000, 1, 'c5000', 2.0, 'F', date '1997-01-01')"
    )


@pytest.fixture()
def engine(spark, tmp_path):
    eng = AnalyticsEngine(str(tmp_path / "wh"), spark=spark)
    yield eng
    eng.close()


def _files(engine, t: str) -> tuple[list[str], list[str]]:
    """Live data files plus the raw table-dir listing (a failed
    statement must leave no staged segment behind)."""
    return (
        engine._data_files(t),
        sorted(os.listdir(os.path.join(engine.warehouse, t))),
    )


def test_statement_job_budgets(spark, engine):
    _build(engine, "t")
    e = engine.execute
    budgets = [
        (
            "insert into t values"
            " (10000001, 5, 'c10000001', 12.5, 'F', date '1997-02-03')",
            1,
        ),
        ("update t set price = price + 7 where k = 1234", 1),
        ("delete from t where k between 100 and 120", 1),
        (
            "insert into t values"
            " (200, 1, 'c200', 3.0, 'F', date '1997-01-01'),"
            " (300, 1, 'c300', 4.0, 'F', date '1997-01-01'),"
            " (10000002, 1, 'c10000002', 4.0, 'F', date '1997-01-01')"
            " on conflict (k) do update"
            " set price = excluded.price, status = excluded.status",
            2,
        ),
        (
            "insert into t values"
            " (10000003, 1, 'c10000003', 4.0, 'F', date '1997-01-01'),"
            " (10000004, 1, 'c10000004', 4.0, 'F', date '1997-01-01')"
            " on conflict (k) do nothing",
            1,
        ),
    ]
    for sql, budget in budgets:
        n = statement_jobs(spark, lambda: e(sql))
        assert n <= budget, (sql, n, budget)
    assert e("select count(*) from t").rows == [(2000 - 21 + 1 + 2 + 2,)]


def test_integer_key_append_runs_no_job(spark, engine):
    """With no string key, the footer zone maps rule out every base
    file for a fresh integer key, and the CHECK runs over a
    LocalRelation: a 1-row literal append submits no Spark job."""
    e = engine.execute
    e(
        "create table ik (k bigint primary key, v double check (v >= 0),"
        " d date)"
    )
    e("insert into ik select id, id * 0.5, date '1996-01-01'"
      " from range(0, 2000) r(id)")
    sql = "insert into ik values (5000, 1.5, date '1997-02-03')"
    assert statement_jobs(spark, lambda: e(sql)) == 0
    with pytest.raises(EngineError, match="CHECK constraint failed"):
        e("insert into ik values (5001, -1.5, null)")
    assert e("select count(*), max(k) from ik").rows == [(2001, 5000)]


def test_append_past_32_manifest_entries_runs_no_job(spark, engine):
    """A read names every manifest entry as a root path: past Spark's
    default listing threshold (32 paths) it would list them with a
    job, so a 1-row append after 40 others would submit one."""
    e = engine.execute
    e("create table ma (k bigint primary key, v double)")
    for k in range(40):
        e(f"insert into ma values ({k}, 0.5)")
    assert len(engine._segments_of(engine._meta("ma"))) > 32
    sql = "insert into ma values (40, 0.5)"
    assert statement_jobs(spark, lambda: e(sql)) == 0
    assert e("select count(*), sum(k) from ma").rows == [(41, 820)]


@pytest.mark.parametrize(
    "setlist, where, match",
    [
        # onto a key in the rewritten file / in an untouched file
        ("k = 7", "k = 8", "PRIMARY KEY constraint violated"),
        ("k = 5000", "k = 8", "violates primary key constraint"),
        ("code = 'c7'", "k = 8", r"unique constraint on t \(code\) in"),
        ("code = 'c5000'", "k = 8", r"unique constraint on t \(code\)$"),
        ("price = price - 100000", "k = 9", "CHECK constraint"),
    ],
)
def test_update_of_constrained_column_still_probes(
    engine, setlist, where, match
):
    _build(engine, "t")
    before = _files(engine, "t")
    with pytest.raises(EngineError, match=match):
        engine.execute(f"update t set {setlist} where {where}")
    assert _files(engine, "t") == before
    assert engine.execute(
        "select k, code, price from t where k in (7, 8, 9) order by k"
    ).rows == [(7, "c7", 10.5), (8, "c8", 12.0), (9, "c9", 13.5)]


def test_unchanged_constraints_submit_no_probe_job(spark, engine):
    """An UPDATE of an unconstrained column, and a DELETE, submit
    exactly the jobs the same statement submits on an identical table
    declared without constraints: no probe job at all."""
    _build(engine, "c")
    _build(engine, "p", PLAIN_DDL)
    for sql in (
        "update {t} set status = 'P' where k = 4321 or k = 17",
        "delete from {t} where k between 40 and 60",
    ):
        jobs = {
            t: statement_jobs(spark, lambda: engine.execute(sql.format(t=t)))
            for t in ("c", "p")
        }
        assert jobs["c"] == jobs["p"], (sql, jobs)
    assert (
        engine.execute("select * from c order by k").rows
        == engine.execute("select * from p order by k").rows
    )


def test_user_merge_keeps_multi_match_guard(engine):
    """Only the ON CONFLICT lowering skips the ANSI multiple-match
    guard; a user-written MERGE still raises before staging."""
    e = engine.execute
    e("create table mt (k int primary key, v int)")
    e("insert into mt values (1, 10), (2, 20)")
    e("create table ms (k int, v int)")
    e("insert into ms values (1, 11), (1, 12)")
    before = _files(engine, "mt")
    with pytest.raises(EngineError, match="more than one source row"):
        e(
            "merge into mt using ms on mt.k = ms.k"
            " when matched then update set v = ms.v"
        )
    assert _files(engine, "mt") == before


def _twin(engine, con, ddl: str, rows: str) -> None:
    engine.execute(ddl)
    con.execute(ddl)
    engine.execute(f"insert into kv values {rows}")
    con.execute(f"insert into kv values {rows}")


def _same_table(engine, con) -> None:
    sql = "select k, v from kv order by k"
    assert engine.execute(sql).rows == con.execute(sql).fetchall()


def test_on_conflict_do_update_effect_rows_match_duckdb(engine):
    con = duckdb.connect()
    _twin(
        engine, con, "create table kv (k int primary key, v int)",
        "(1, 1), (2, 2), (3, 3), (4, 4)",
    )
    sql = (
        "insert into kv values (2, 20), (4, 40), (7, 70), (8, 80)"
        " on conflict (k) do update set v = excluded.v"
    )
    assert engine.execute(sql).effect_rows == con.execute(sql).fetchall()[0][0]
    _same_table(engine, con)


def test_merge_delete_and_insert_effect_rows_match_duckdb(engine):
    """WHEN MATCHED THEN DELETE + WHEN NOT MATCHED THEN INSERT; the
    DuckDB side spells the same change as DELETE ... USING plus an
    anti-joined INSERT (its MERGE postdates the pinned version)."""
    con = duckdb.connect()
    _twin(
        engine, con, "create table kv (k int primary key, v int)",
        "(1, 1), (2, 2), (3, 3), (4, 4)",
    )
    for c in (engine.execute, con.execute):
        c("create table src (k int, v int)")
        c("insert into src values (2, 0), (3, 0), (9, 90), (10, 100)")
    n = engine.execute(
        "merge into kv using src on kv.k = src.k"
        " when matched then delete"
        " when not matched then insert values (src.k, src.v)"
    ).effect_rows
    con.execute(
        "create table ins as select * from src"
        " where k not in (select k from kv)"
    )
    dele = con.execute("delete from kv using src where kv.k = src.k")
    dele = dele.fetchall()[0][0]
    added = con.execute("insert into kv select * from ins").fetchall()[0][0]
    assert (dele, added) == (2, 2)
    assert n == dele + added
    _same_table(engine, con)


def test_broad_change_fallback_effect_rows_match_duckdb(engine):
    """An upsert hitting >= 80% of the files (here 4 of the 5, the
    fifth being CREATE's empty segment) takes the full-rewrite
    fallback — keep nothing, rewrite every file: the footer-derived
    insert count must still match."""
    con = duckdb.connect()
    _twin(
        engine, con, "create table kv (k int primary key, v int)", "(1, 1)"
    )
    for k in (2, 3, 4):
        sql = f"insert into kv values ({k}, {k})"
        engine.execute(sql)
        con.execute(sql)
    assert len(engine._data_files("kv")) == 5
    sql = (
        "insert into kv values (1, 10), (2, 20), (3, 30), (4, 40),"
        " (5, 50) on conflict (k) do update set v = excluded.v"
    )
    assert engine.execute(sql).effect_rows == con.execute(sql).fetchall()[0][0]
    # every old file was rewritten: the manifest is the one new segment
    assert len(engine._segments_of(engine._meta("kv"))) == 1
    _same_table(engine, con)


def test_broad_and_past_half_changes_take_copy_on_write(engine):
    """Deletion vectors serve small changes only: a DELETE hitting
    >= 80% of the files rewrites them all into one segment, and one
    that would mark more than half of a file's rows deleted rewrites
    that file — neither leaves a deletion vector, and both report
    DuckDB's effect_rows."""
    con = duckdb.connect()
    _twin(engine, con, "create table kv (k int primary key, v int)", "(0, 0)")

    def both(sql: str):
        got = engine.execute(sql).effect_rows
        assert got == con.execute(sql).fetchall()[0][0], sql

    for lo in (10, 20, 30):
        both(f"insert into kv select i, i from range({lo}, {lo + 10}) r(i)")
    both("delete from kv where k between 15 and 16")  # 1 file: a DV
    assert len(engine._meta("kv")["dvs"]) == 1
    both("delete from kv where k % 10 = 0")  # 4 of the 5 files
    assert "dvs" not in engine._meta("kv")
    assert len(engine._segments_of(engine._meta("kv"))) == 1
    both("insert into kv select i, i from range(40, 50) r(i)")
    files = engine._data_files("kv")
    both("delete from kv where k between 40 and 45")  # 6 of its 10 rows
    assert "dvs" not in engine._meta("kv")
    assert len(set(files) - set(engine._data_files("kv"))) == 1
    _same_table(engine, con)


def test_on_conflict_do_nothing_duplicate_source_effect_rows(engine):
    """DO NOTHING keeps the FIRST source row per key (Postgres order).
    DuckDB raises on in-batch duplicate keys, so its side runs the
    keep-first source explicitly."""
    con = duckdb.connect()
    _twin(
        engine, con, "create table kv (k int primary key, v int)",
        "(1, 1), (2, 2)",
    )
    rows = [(2, 20), (5, 50), (5, 51), (6, 60), (6, 61), (6, 62)]
    vals = ", ".join(f"({k}, {v})" for k, v in rows)
    n = engine.execute(
        f"insert into kv values {vals} on conflict (k) do nothing"
    ).effect_rows
    ordered = ", ".join(f"({k}, {v}, {o})" for o, (k, v) in enumerate(rows))
    expected = con.execute(
        "insert into kv select k, v from ("
        "  select *, row_number() over (partition by k order by o) rn"
        f"  from (values {ordered}) s(k, v, o)"
        ") where rn = 1 on conflict (k) do nothing"
    ).fetchall()[0][0]
    assert n == expected == 2
    _same_table(engine, con)
