"""Each statement owns the sequence values it reserves.

A reservation advances the sequence in memory; the statement settles
it when it ends. A statement that only plans (plain EXPLAIN,
``DESCRIBE <query>``, view and macro DDL, PREPARE) restores the
previous value, in memory and on disk. Every other statement persists
its reservations, including one that fails after reserving (DuckDB
keeps consumed values too), and a write persists them with its own
commit."""

from __future__ import annotations

import pytest

from andb_spark.api import AnalyticsEngine, EngineError


def _current(engine, name: str):
    return engine.catalog["sequences"][name]["current"]


def test_plan_only_statements_restore_their_reservations(spark, tmp_path):
    wh = str(tmp_path / "whown")
    eng = AnalyticsEngine(wh, spark=spark)
    eng.execute("create table p (x int)")
    eng.execute("insert into p values (1), (2), (3)")
    eng.execute("create sequence s")
    assert eng.execute("select nextval('s') as n").rows == [(1,)]
    for sql in (
        "explain select nextval('s') as n",
        "explain select nextval('s') as n, x from p",
        "describe select nextval('s') as n, x from p",
        "create view v as select nextval('s') as n, x from p",
        "explain select * from v",
        "describe select * from v",
        "prepare pv as select * from v",
        "create macro nx(a) as a + nextval('s')",
        "create or replace view v as select nextval('s') as n, x from p",
    ):
        eng.execute(sql)
        assert _current(eng, "s") == 1, sql
    eng.close()
    eng = AnalyticsEngine(wh, spark=spark)
    assert _current(eng, "s") == 1
    eng.execute("drop view v")
    assert _current(eng, "s") == 1
    assert eng.execute("select nextval('s') as n").rows == [(2,)]
    eng.close()


def test_executing_statements_persist_their_reservations(spark, tmp_path):
    wh = str(tmp_path / "whkeep")
    eng = AnalyticsEngine(wh, spark=spark)
    eng.execute("create table p (x int)")
    eng.execute("insert into p values (1), (2), (3)")
    eng.execute("create sequence s")
    eng.execute("create view nv as select nextval('s') as n, x from p")
    assert sorted(eng.execute("select * from nv").rows) == [
        (1, 1), (2, 2), (3, 3)
    ]
    assert _current(eng, "s") == 3
    eng.execute("explain analyze select * from nv")
    assert _current(eng, "s") == 6
    # fails on the duplicate key after reserving both values
    eng.execute("create table k (id int primary key, v int)")
    with pytest.raises(EngineError, match="duplicate"):
        eng.execute(
            "insert into k values (1, nextval('s')), (1, nextval('s'))"
        )
    assert _current(eng, "s") == 8
    # a write's own commit carries the block it filled
    eng.execute("create sequence ids")
    eng.execute(
        "create table d (id bigint default nextval('ids'), x int)"
    )
    eng.execute("insert into d (x) select x from p")
    eng.close()
    eng = AnalyticsEngine(wh, spark=spark)
    assert _current(eng, "s") == 8
    assert eng.execute("select count(*) as n from k").rows == [(0,)]
    top = eng.execute("select max(id) as m from d").rows[0][0]
    assert eng.execute("select nextval('ids') as n").rows == [(top + 1,)]
    eng.close()


def test_only_a_relation_reference_binds_a_view(spark, tmp_path):
    """A view binds, and runs its nextval pre-pass, only where a
    statement names it as a relation: a column of another table (in
    DDL or in a SELECT) spelled like the view leaves the sequence
    alone. DuckDB advances it on neither statement."""
    eng = AnalyticsEngine(str(tmp_path / "whrel"), spark=spark)
    eng.execute("create table p (x int)")
    eng.execute("insert into p values (1), (2), (3)")
    eng.execute("create sequence s")
    eng.execute("create view v as select nextval('s') as n, x from p")
    assert _current(eng, "s") is None
    eng.execute("create table k (id int primary key, v int)")
    assert _current(eng, "s") is None
    assert eng.execute("select v from k").rows == []
    assert _current(eng, "s") is None
    assert sorted(eng.execute("select n from v").rows) == [
        (1,), (2,), (3,)
    ]
    assert _current(eng, "s") == 3
    eng.close()


@pytest.mark.parametrize(
    "sql",
    [
        "select * from (pivot v on q using sum(amt))",
        "with c as (pivot v on q using sum(amt)) select * from c",
        "unpivot (pivot v on q using sum(amt)) on a, b into name k value val",
        "select * from (v join w using (q))",
        "explain pivot v on q using sum(amt)",
        "describe pivot v on q using sum(amt)",
    ],
)
def test_a_nested_relation_reference_rebinds_the_view(spark, tmp_path, sql):
    """A view read from inside parentheses — a PIVOT/UNPIVOT subject
    anywhere in the statement, the first item of a parenthesised join
    — is rebound by that statement, so it reads its base table as of
    the statement, not as of its last binding."""
    eng = AnalyticsEngine(str(tmp_path / "whnest"), spark=spark)
    eng.execute("create table t (q varchar, amt int)")
    eng.execute("insert into t values ('a', 1)")
    eng.execute("create view v as select q, amt from t")
    eng.execute("create view w as select q from t")
    eng.execute("select * from v")
    eng.execute("insert into t values ('b', 2)")
    bound = []
    rebind = eng._bind_view
    eng._bind_view = lambda name: bound.append(name) or rebind(name)
    res = eng.execute(sql)
    if not sql.startswith(("explain", "describe")):
        assert "2" in repr(res.rows)
    assert "v" in bound
    eng.close()
