"""One surface-rewrite pipeline (``AnalyticsEngine._SURFACE_PASSES``,
applied by ``_rewrite_surfaces``): every SQL-to-plan path — SELECT,
EXPLAIN, EXPLAIN ANALYZE, DESCRIBE, CTAS, INSERT ... SELECT, CREATE
VIEW — runs the same passes in the same order. So a statement the
SELECT path accepts plans identically everywhere, EXPLAIN's header
names the rewrites that fired, and no path leaves a per-statement
temp view behind in the shared session."""

from __future__ import annotations

import re

import pytest

from andb_spark.api import AnalyticsEngine, EngineError

# per-statement helper views: `_<kind>_<hex>` rewrite views and
# `<table>__v<n>_<hex>` time-travel bindings (base tables and user
# views are bound under their own plain names)
_HELPER = re.compile(r"^_|__v\d+_")


def helper_views(spark) -> set[str]:
    return {
        t.name for t in spark.catalog.listTables()
        if t.isTemporary and _HELPER.search(t.name)
    }


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    e = AnalyticsEngine(str(tmp_path_factory.mktemp("whpipe")), spark=spark)
    run = e.execute
    run("create table t (k int, v int)")                 # version 2
    run("insert into t values (1, 10), (2, 20)")         # version 3
    run("insert into t values (3, 30), (4, 40)")         # version 4
    run("create table u (w int)")
    run("insert into u values (7), (8), (9), (6)")
    run("create table trades (tid int, sym varchar, ts int)")
    run("insert into trades values (1, 'A', 3), (2, 'A', 7)")
    run("create table quotes (sym varchar, qt int, px double)")
    run("insert into quotes values ('A', 2, 1.5), ('A', 6, 1.7)")
    run("create table pts (pid int, ts int)")
    run("insert into pts values (1, 5), (2, 50)")
    run("create table iv (iid int, lo int, hi int)")
    run("insert into iv values (10, 0, 10), (11, 40, 60)")
    run("create sequence seq_leak")
    run("create table pk (id int primary key, v int)")
    run("insert into pk values (1, 10)")
    yield e
    e.close()


TIME_TRAVEL = "select * from t version as of 3"
LIMIT_COMMA = "select * from t order by k limit 1, 2"


@pytest.mark.parametrize("query", [TIME_TRAVEL, LIMIT_COMMA])
def test_every_path_plans_what_select_runs(spark, eng, query):
    """`VERSION AS OF` and MySQL-style `LIMIT off, n` are pipeline
    passes, so every path that plans a query accepts them, not just
    SELECT (Spark alone refuses time travel on a temp view and cannot
    parse the comma LIMIT)."""
    e = eng.execute
    want = e(query).rows
    assert want == (
        [(1, 10), (2, 20)] if query == TIME_TRAVEL else [(2, 20), (3, 30)]
    )
    before = helper_views(spark)
    tag = "tt" if query == TIME_TRAVEL else "lc"

    assert e(f"explain {query}").rows
    assert e(f"explain analyze {query}").rows[0][1] == len(want)
    assert [r[:2] for r in e(f"describe {query}").rows] == [
        ("k", "int"), ("v", "int"),
    ]
    e(f"create table {tag}_c as {query}")
    assert e(f"select * from {tag}_c order by k").rows == want
    e(f"create table {tag}_i (k int, v int)")
    e(f"insert into {tag}_i {query}")
    assert e(f"select * from {tag}_i order by k").rows == want
    e(f"create view {tag}_v as {query}")
    assert e(f"select * from {tag}_v order by k").rows == want

    assert helper_views(spark) == before


@pytest.mark.parametrize("query", [
    # sequence fill over a FROM query binds an `_nv_` view
    "select nextval('seq_leak') as id, k from t",
    "select * from t using sample 2 rows",
    "select k, sum(v) over (order by k rows between 1 preceding and"
    " 1 following exclude current row) as s from t",
    "select * exclude (v) from t",
    "select columns('k|v') from t",
    "select * replace (v + 1 as v) from t",
])
def test_explain_drops_every_view_it_binds(spark, eng, query):
    """Plain EXPLAIN drops the views of every pass — sequence fill,
    sample, window EXCLUDE, star EXCLUDE, COLUMNS and REPLACE
    included — not only those its header names."""
    before = helper_views(spark)
    assert eng.execute(f"explain {query}").rows
    assert helper_views(spark) == before


@pytest.mark.parametrize("query, line", [
    (
        "with q as (select sym, qt, px from quotes)"
        " select tid, px from trades tr asof join q"
        " on tr.sym = q.sym and tr.ts >= q.qt",
        "-- with: ",
    ),
    (
        "select distinct on (k) k, v from t order by k, v",
        "-- distinct on: rewritten onto row_number()=1",
    ),
    (
        "select tid, px from trades tr asof join quotes q"
        " on tr.sym = q.sym and tr.ts >= q.qt",
        "-- asof join: rewritten onto union+window (one shuffle)",
    ),
    (
        "select pid, iid from pts p join iv i on p.ts between i.lo and i.hi",
        "-- range join: bucketed equi-join (andb.range_bucket_seconds=",
    ),
    (
        "select k from t qualify row_number() over (order by v desc) = 1",
        "-- qualify: window filter via per-statement view",
    ),
    (
        "select k from t where k > any (select w from u)",
        "-- any/all: quantified comparison via scalar aggregates",
    ),
    (
        "select k from t union by name select w from u",
        "-- union by name: lowered onto unionByName",
    ),
    (
        "select k from t order by k fetch first 1 rows with ties",
        "-- fetch with ties: top-k set plus the rows tied with its"
        " boundary",
    ),
    (
        "select * from t positional join u",
        "-- positional join: distributed zipWithIndex",
    ),
    (
        "select k from t where k > 3",
        "-- zone maps: ",
    ),
])
def test_explain_header_names_each_rewrite(spark, eng, query, line):
    """One statement per header-emitting rewrite; its header line
    keeps its text."""
    before = helper_views(spark)
    header = eng.execute(f"explain {query}").rows[0][0]
    assert any(
        ln.startswith(line) for ln in header.splitlines()
    ), header
    assert helper_views(spark) == before



@pytest.mark.parametrize("tag, query", [
    # the dialect normalization wraps skewness/kurtosis in DuckDB's
    # bias correction; a second run corrects twice
    (
        "sk",
        "select round(skewness(v), 6) as s, round(kurtosis(v), 6) as ku"
        " from t",
    ),
    # it names an unaliased string cast `CAST(v AS VARCHAR)`; a
    # second run renames it `CAST(v AS string)`
    ("ca", "select cast(v as varchar), k from t where k = 1"),
])
def test_dialect_normalized_once_on_every_path(eng, tag, query):
    """execute() normalizes the DuckDB dialect once per statement;
    planning a CTAS source or a DESCRIBE body must not normalize it
    again, and a stored view body is normalized once at replan."""
    e = eng.execute
    want = e(query)
    e(f"create table {tag}_c as {query}")
    got = e(f"select * from {tag}_c")
    assert (got.columns, got.rows) == (want.columns, want.rows)
    e(f"create view {tag}_v as {query}")
    got = e(f"select * from {tag}_v")
    assert (got.columns, got.rows) == (want.columns, want.rows)
    assert [r[0] for r in e(f"describe {query}").rows] == want.columns


# a QUALIFY source binds a per-statement view before the statement
# fails; `nope` is the unresolved column every failing form names last
QUAL = "select k from t qualify row_number() over (order by v) = 1"
QUAL_SRC = (
    "(select k as id, v from t"
    " qualify row_number() over (order by v) = 1) s"
)
LIFTED = f"k in ({QUAL})"


@pytest.mark.parametrize("stmt", [
    # SELECT over each surface
    f"{QUAL} order by nope",
    "select nope from (select distinct on (k) k, v from t"
    " order by k, v) d",
    "with q as (select sym, qt, px from quotes) select tid, nope"
    " from trades tr asof join q on tr.sym = q.sym and tr.ts >= q.qt",
    "select nope from t positional join u",
    "select k from t union by name select w from u order by nope",
    "select nope from (select * replace (v + 1 as v) from t) s",
    "select * exclude (v) from t version as of 3 where nope = 1",
    "select nope from (select columns('k|v') from t) s",
    "select k, nope from t where k > any (select w from u)",
    "select nextval('seq_leak') as id, k from t version as of 3"
    " where nope = 1",
    "select nope from (select * from t using sample 2 rows) s",
    "select nope from t version as of 3",
    # CTAS / INSERT ... SELECT: unresolved, arity, PK violation
    f"create table leak_c as {QUAL} order by nope",
    f"insert into u {QUAL} order by nope",
    "insert into u select k, v from t"
    " qualify row_number() over (order by v) = 1",
    "insert into pk select 1 as id, v from t"
    " qualify row_number() over (order by v) = 1",
    "insert into pk values (1, 5) on conflict (id)"
    " do update set v = nope",
    # DML with lifted WHERE subqueries; the last is a quantified
    # refusal after a successful lift
    f"update t set v = nope where {LIFTED}",
    f"delete from t where {LIFTED} and nope = 1",
    f"update t set v = 0 where {LIFTED} and k + 1 > any (select w from u)",
    # subquery DML sources
    f"merge into pk using {QUAL_SRC} on pk.id = s.id"
    " when matched then update set v = s.nope",
    f"update pk set v = s.nope from {QUAL_SRC} where pk.id = s.id",
    f"delete from pk using {QUAL_SRC} where pk.id = s.nope",
    f"copy ({QUAL}) to '{{tmp}}/out' format nope",
    # planning-only and catalog statements over a query
    f"explain analyze {QUAL} order by nope",
    f"describe {QUAL} order by nope",
    f"summarize {QUAL} order by nope",
    f"create view leak_v as {QUAL} order by nope",
    f"create materialized view leak_mv as {QUAL} order by nope",
    # EXECUTE re-enters execute(): the nested statement scope
    "execute leak_p",
])
def test_failing_statement_leaves_no_helper_view(
    spark, eng, tmp_path, stmt
):
    """Every statement class that binds helper views drops them when
    it fails, whichever step fails: the statement owns its views."""
    eng.execute(f"prepare leak_p as {QUAL} order by nope")
    before = helper_views(spark)
    with pytest.raises(EngineError):
        eng.execute(stmt.format(tmp=tmp_path))
    assert helper_views(spark) == before
    assert eng.execute("select count(*) from t").rows == [(4,)]
