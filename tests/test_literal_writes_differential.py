"""Driver-side literal writes: every decision the literal INSERT and
ON CONFLICT paths make on the driver (api.py::_decide_literal_constraints,
_try_literal_upsert), checked case by case three ways:

- against the forced-Spark path (the literal paths monkeypatched away):
  the same table, the same ``effect_rows`` and, for a violation, the
  exact same message;
- against DuckDB: the same table and ``effect_rows``, and an error
  where DuckDB errors. Cases DuckDB has no twin for (varchar(n)
  truncation, DO NOTHING over in-batch duplicates, CHECK/NOT NULL on
  a conflicting row's unwritten columns, the fallback spellings) are
  compared with the forced-Spark path only;
- the path each statement took: ``driver`` cases must be decided by a
  literal path (a result, or a violation it raised), fallback cases
  must reach the Spark path.

The base table is loaded as five segments of ten rows with even keys,
so a key between two stored keys is inside every zone map of its
segment and the probe has to read the file.
"""

from __future__ import annotations

import re

import duckdb
import pytest

from andb_spark.api import AnalyticsEngine, EngineError

DDL = (
    "create table {t} (k bigint primary key, code varchar unique,"
    " a int, b varchar, d date, price double check (price >= 0),"
    " qty int not null, unique (a, b))"
)
LOAD = [
    "insert into {t} select id * 2, 'c' || cast(id * 2 as varchar), id,"
    " 'b' || cast(id % 3 as varchar), date '1996-01-01' + cast(id as int),"
    f" id * 1.5, id from range({lo}, {lo + 10}) r(id)"
    for lo in range(0, 50, 10)
]
ROW = "({k}, '{code}', {a}, {b}, {d}, {price}, {qty})"


def row(k, code=None, a=None, b="null", d="date '1999-09-09'", price=1.0,
        qty=1) -> str:
    return ROW.format(
        k=k, code=code or f"n{k}", a="null" if a is None else a, b=b, d=d,
        price=price, qty=qty,
    )


def upsert(rows: list[str], tail: str = "do update set price ="
           " excluded.price, qty = excluded.qty", keys: str = "k") -> str:
    return (
        f"insert into {{t}} values {', '.join(rows)}"
        f" on conflict ({keys}) {tail}"
    )


def insert(rows: list[str]) -> str:
    return f"insert into {{t}} values {', '.join(rows)}"


class _Trio:
    """One engine with the literal paths, one forced onto the Spark
    path, one DuckDB connection; each case gets its own table."""

    def __init__(self, spark, tmp):
        self.fast = AnalyticsEngine(str(tmp / "fast"), spark=spark)
        self.slow = AnalyticsEngine(str(tmp / "slow"), spark=spark)
        self.slow._try_literal_append = lambda *a, **k: None
        self.slow._try_literal_upsert = lambda *a, **k: None
        self.con = duckdb.connect()
        self.decided: list[bool] = []
        for attr in ("_try_literal_append", "_try_literal_upsert"):
            setattr(self.fast, attr, self._spy(getattr(self.fast, attr)))
        self.n = 0

    def _spy(self, fn):
        def wrapped(*a, **k):
            try:
                out = fn(*a, **k)
            except EngineError:
                self.decided.append(True)
                raise
            self.decided.append(out is not None)
            return out

        return wrapped

    def table(self, ddl: str, load: list[str], duck: bool) -> str:
        """A fresh table ``t<n>``; the forced-Spark engine's twin is
        ``s<n>``, since both engines bind their tables as views of
        the one Spark session."""
        self.n += 1
        t = f"t{self.n}"
        for sql in [ddl, *load]:
            self.fast.execute(sql.format(t=t))
            self.slow.execute(sql.format(t=f"s{self.n}"))
            if duck:
                self.con.execute(sql.format(t=t))
        return t


@pytest.fixture(scope="module")
def trio(spark, tmp_path_factory):
    tr = _Trio(spark, tmp_path_factory.mktemp("litdiff"))
    yield tr
    tr.fast.close()
    tr.slow.close()


def _outcome(fn, sql, name=None):
    try:
        return ("ok", fn(sql).effect_rows)
    except EngineError as e:
        msg = str(e)
        return ("err", msg if name is None else re.sub(
            rf"\b{name}\b", "t" + name[1:], msg
        ))


def _rows(fetch, t):
    return fetch(f"select * from {t} order by all")


def run_case(trio, stmt, *, driver, duck=True, ddl=DDL, load=LOAD):
    t = trio.table(ddl, load, duck)
    sql = stmt.format(t=t)
    trio.decided.clear()
    got = _outcome(trio.fast.execute, sql)
    assert trio.decided[-1:] == [driver], (sql, trio.decided)
    twin = "s" + t[1:]
    want = _outcome(trio.slow.execute, stmt.format(t=twin), twin)
    assert got == want, sql
    table = _rows(lambda q: trio.fast.execute(q).rows, t)
    assert table == _rows(lambda q: trio.slow.execute(q).rows, twin)
    if duck:
        try:
            duck_out = ("ok", trio.con.execute(sql).fetchall()[0][0])
        except duckdb.Error:
            duck_out = ("err", None)
        assert got[0] == duck_out[0], (sql, got, duck_out)
        if got[0] == "ok":
            assert got[1] == duck_out[1], sql
        assert table == _rows(lambda q: trio.con.execute(q).fetchall(), t)
    return got


# ------------------------------------------------------ literal INSERT --

NN = "column {c} of {t} violates NOT NULL"
CHECK = "CHECK constraint failed: {t}"
PK_BATCH = (
    "PRIMARY KEY constraint violated on {t}: duplicate key (k) in the"
    " written rows"
)
PK_BASE = "duplicate key violates primary key constraint on {t} (k)"
UQ = "duplicate key violates unique constraint on {t} ({cols})"


def _err(got, template, trio, **kw):
    assert got == ("err", template.format(t=f"t{trio.n}", **kw))


@pytest.mark.parametrize(
    "stmt, template, kw",
    [
        # NOT NULL: an omitted NOT NULL column, a NULL primary key
        ("insert into {t} (k, code, price) values (1001, 'x', 1.0)", NN,
         {"c": "qty"}),
        (insert([row("null")]), NN, {"c": "k"}),
        # two NULLs: the staged footer check names the last declared one
        (insert([row("null", qty="null")]), NN, {"c": "qty"}),
        # CHECK false
        (insert([row(1001, price=-0.5)]), CHECK, {}),
        # in-batch primary key duplicate
        (insert([row(1001), row(1001, code="other")]), PK_BATCH, {}),
        # composite UNIQUE, in batch and against the base
        (insert([row(1001, a=500, b="'x'"), row(1003, a=500, b="'x'")]),
         UQ + " in the written rows", {"cols": "a, b"}),
        (insert([row(1001, a=7, b="'b1'")]), UQ, {"cols": "a, b"}),
        # string key against the base
        (insert([row(1001, code="c18")]), UQ, {"cols": "code"}),
        # a primary key inside its segment's zone map, held by a row
        (insert([row(32)]), PK_BASE, {}),
        # precedence: a base hit of an earlier set outranks a later
        # in-batch duplicate, which outranks CHECK
        (insert([row(32, code="z"), row(1001, code="z")]), PK_BASE, {}),
        (insert([row(1001, code="c4"), row(1001, code="z")]), PK_BATCH, {}),
        (insert([row(1001, code="c4", price=-1.0)]), UQ, {"cols": "code"}),
    ],
)
def test_literal_insert_violation(trio, stmt, template, kw):
    got = run_case(trio, stmt, driver=True)
    _err(got, template, trio, **kw)


@pytest.mark.parametrize(
    "stmt",
    [
        # CHECK true and CHECK NULL
        insert([row(1001, price=0.0), row(1003, price="null")]),
        # a key inside the zone map that no row holds: the probe runs
        insert([row(33), row(35, code="c35x")]),
        # NULL-keyed composite UNIQUE rows never collide
        insert([row(1001, a=7), row(1003, a=7), row(1005, b="'b1'")]),
        # date and string values, a quote inside a string
        insert([row(1001, code="it''s", d="DATE '2001-12-31'")]),
        # a backslash is Spark's to unescape: taken by the Spark path
        insert([row(1001, code="a\\b")]),
    ],
)
def test_literal_insert_ok(trio, stmt):
    got = run_case(trio, stmt, driver="\\" not in stmt)
    assert got[0] == "ok"


def test_date_key_decided_on_driver(trio):
    ddl = "create table {t} (d date primary key, v int check (v > 0))"
    load = ["insert into {t} values (date '1996-01-01', 1),"
            " (date '1996-03-01', 2)"]
    got = run_case(
        trio, "insert into {t} values (date '1996-02-01', 3)",
        driver=True, ddl=ddl, load=load,
    )
    assert got == ("ok", 1)
    got = run_case(
        trio, "insert into {t} values (date '1996-03-01', 3)",
        driver=True, ddl=ddl, load=load,
    )
    _err(got, "duplicate key violates primary key constraint on {t} (d)",
         trio)


@pytest.mark.parametrize(
    "values",
    [
        "(1, date '1997-2-3')",     # not zero-padded
        "(1, date '1997-02-30')",   # no such day
        "(1, '1997-02-03')",        # a bare string into a date column
    ],
)
def test_fallback_date_spellings(trio, values):
    """Date spellings the driver cannot prove identical take the Spark
    path (no DuckDB twin: their casts differ between the engines)."""
    run_case(
        trio, f"insert into {{t}} values {values}", driver=False,
        duck=False, ddl="create table {t} (k int primary key, d date)",
        load=[],
    )


def test_varchar_truncation_duplicates(trio):
    """varchar(n) truncates before the in-batch duplicate check (DuckDB
    does not truncate, so the forced-Spark path is the reference)."""
    ddl = "create table {t} (k int primary key, s varchar(3) unique)"
    got = run_case(
        trio, "insert into {t} values (1, 'abcd'), (2, 'abce')",
        driver=True, duck=False, ddl=ddl, load=[],
    )
    _err(got, UQ + " in the written rows", trio, cols="s")


# ----------------------------------------------- literal ON CONFLICT --


@pytest.mark.parametrize(
    "stmt, effect",
    [
        # DO UPDATE: matched and new keys, only new, only matched
        (upsert([row(4, code="c4", price=9.5, qty=3), row(1001)]), 2),
        (upsert([row(1001), row(1003)]), 2),
        (upsert([row(4, code="c4", price=9.5), row(90, code="c90")]), 2),
        # DO NOTHING: matched and new keys, all new
        (upsert([row(4, code="c4"), row(1001)], "do nothing"), 1),
        (upsert([row(1001), row(1003)], "do nothing"), 2),
        # a UNIQUE string arbiter, and a composite one whose NULL-keyed
        # rows always insert
        (upsert([row(4, code="c4", price=7.0), row(1001)],
                "do update set price = excluded.price", keys="code"), 2),
        (upsert([row(6, code="c6", a=3, b="'b0'", price=8.0),
                 row(1001, a=None), row(1003, a=None)],
                "do update set price = excluded.price", keys="a, b"), 3),
        # a SET expression other than excluded.<same column>
        (upsert([row(8, code="c8", price=2.0)],
                "do update set qty = excluded.qty + 1"), 1),
    ],
)
def test_literal_upsert_matches_duckdb(trio, stmt, effect):
    got = run_case(trio, stmt, driver=True)
    assert got == ("ok", effect)


def test_check_on_non_set_column_staged_probe(trio):
    """A CHECK whose columns are not all SET from excluded.<same
    column> is decided by the staged probe over the rewritten rows
    (no DuckDB twin: 1.0 fails this statement shape with an internal
    error, 'Not all columns required for the CHECK constraint are
    present in the UPDATED chunk')."""
    ddl = (
        "create table {t} (k int primary key, lo int, hi int,"
        " check (hi >= lo))"
    )
    load = ["insert into {t} values (1, 5, 10), (2, 5, 10)"]
    sql = (
        "insert into {t} values (1, 0, {hi}), (3, 0, 1)"
        " on conflict (k) do update set hi = excluded.hi"
    )
    assert run_case(
        trio, sql.format(t="{t}", hi=7), driver=True, duck=False, ddl=ddl,
        load=load,
    ) == ("ok", 2)
    # the updated row keeps lo = 5: 4 >= 5 fails only after the rewrite
    got = run_case(
        trio, sql.format(t="{t}", hi=4), driver=True, duck=False, ddl=ddl,
        load=load,
    )
    _err(got, CHECK, trio)


@pytest.mark.parametrize(
    "stmt, template, kw",
    [
        # DO UPDATE over an in-batch duplicate key
        (upsert([row(4, code="c4"), row(4, code="c4")]),
         "ON CONFLICT DO UPDATE command cannot affect row a second time:"
         " duplicate conflict keys in the source rows", {}),
        # an inserted row whose UNIQUE value sits in the rewritten file
        (upsert([row(4, code="c4"), row(1001, code="c6")]),
         UQ + " in the written rows", {"cols": "code"}),
        # ... and in an untouched file
        (upsert([row(4, code="c4"), row(1001, code="c60")]), UQ,
         {"cols": "code"}),
        # a SET-from-excluded CHECK failing on a matched row
        (upsert([row(4, code="c4", price=-2.0)]), CHECK, {}),
        # a CHECK no SET names, failing on an inserted row
        (upsert([row(4, code="c4"), row(1001, price=-2.0)],
                "do update set qty = excluded.qty"), CHECK, {}),
        # NOT NULL on a SET target outranks the duplicate UNIQUE value
        (upsert([row(4, code="c4", qty="null"), row(1001, code="c60")]),
         NN, {"c": "qty"}),
    ],
)
def test_literal_upsert_violation(trio, stmt, template, kw):
    got = run_case(trio, stmt, driver=template.startswith("ON CONFLICT"))
    _err(got, template, trio, **kw)


@pytest.mark.parametrize(
    "stmt",
    [
        # DO NOTHING keeps the first row per key (DuckDB raises)
        upsert([row(1001, code="x1"), row(1001, code="x2"), row(4)],
               "do nothing"),
        # a conflicting row's unwritten columns are not checked (DuckDB
        # checks the proposed row before it resolves the conflict)
        upsert([row(4, code="c4", price=3.0, qty="null")],
               "do update set price = excluded.price"),
        upsert([row(4, code="c4", price=-3.0)], "do nothing"),
    ],
)
def test_literal_upsert_matches_spark_path(trio, stmt):
    got = run_case(trio, stmt, driver=True, duck=False)
    assert got[0] == "ok"


def test_upsert_varchar_key_falls_back(trio):
    """A varchar(n) arbiter is compared untruncated by the MERGE
    lowering, so the literal path leaves it to Spark."""
    ddl = "create table {t} (s varchar(3) primary key, v int)"
    got = run_case(
        trio,
        "insert into {t} values ('abcd', 1) on conflict (s)"
        " do update set v = excluded.v",
        driver=False, duck=False, ddl=ddl,
        load=["insert into {t} values ('abc', 0)"],
    )
    assert got[0] == "err"
