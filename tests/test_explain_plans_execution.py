"""EXPLAIN plans what executes: for every surface rewrite pass,
EXPLAIN's optimized plan equals the plan execution fetches.

- The quantified-comparison rewrite and ``FETCH … WITH TIES`` build one
  lazy plan: EXPLAIN runs no Spark job, and execution runs no more jobs
  than the eager lowerings these plans replaced.
- LIMIT p%, POSITIONAL JOIN and nextval over FROM need a pre-pass (a
  row count, partition offsets, a sequence block). EXPLAIN runs it as
  execution does, so the plans match; it runs no more jobs than
  execution, and the statement restores the sequence values it
  reserved.
- EXPLAIN ANALYZE executes: the views it binds run the plan a SELECT
  runs, and it advances the sequences they call."""

from __future__ import annotations

import duckdb
import pytest

from andb_spark.api import AnalyticsEngine
from conftest import explain_plan, fetched_plan, statement_jobs


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    e = AnalyticsEngine(str(tmp_path_factory.mktemp("whplan")), spark=spark)
    e.execute(
        "create table p as select cast(id as int) as x,"
        " cast(id % 100 as int) as k from range(10000)"
    )
    e.execute(
        "create table s as select cast(id % 15000 as int) as v,"
        " cast(id % 100 as int) as k from range(20000)"
    )
    e.execute(
        "create table iv as select cast(id as int) as k,"
        " cast(id * 50 as int) as lo, cast(id * 50 + 20 as int) as hi"
        " from range(100)"
    )
    e.execute("create sequence sq")
    e.execute("create macro twice(a) as a * 2")
    yield e
    e.close()


# (statement, Spark jobs it ran before it had one plan: eager stats
# collect, persisted correlated stats, collected or checkpointed
# WITH TIES top set)
STATEMENTS = [
    ("select x from p where x > any (select v from s)", 5),
    ("select x from p where x = any (select v from s)", 6),
    ("select x from p where x <> all (select v from s where v > 10)", 6),
    ("select x from p where x > all (select v from s where s.k = p.k)", 9),
    ("select x from p where x = any (select v from s where s.k = p.k)", 8),
    ("select k, x from p order by k fetch first 5 rows with ties", 4),
    ("select k, x from p order by k fetch first 9000 rows with ties", 6),
]


@pytest.mark.parametrize("sql, parent_jobs", STATEMENTS)
def test_explain_shows_the_plan_execution_runs(spark, eng, sql, parent_jobs):
    assert explain_plan(eng, sql) == fetched_plan(eng, sql)
    assert statement_jobs(spark, lambda: eng.execute(f"explain {sql}")) == 0
    assert statement_jobs(spark, lambda: eng.execute(sql)) <= parent_jobs


# (statement, Spark jobs EXPLAIN runs, Spark jobs its execution ran
# while EXPLAIN still planned a second, job-free shape: the LIMIT p%
# count, the POSITIONAL JOIN checkpoints and partition counts; nextval
# over FROM ran 7 then, and 5 since its fill reads the row count from
# the dense index's partition counts, which EXPLAIN collects too)
PREPASS_STATEMENTS = [
    ("select x from p limit 10%", 2, 3),
    ("select x from p order by x limit 10% offset 5", 2, 3),
    ("select * from p positional join s", 6, 11),
    ("select nextval('sq') as n, x from p", 3, 5),
]


@pytest.mark.parametrize("sql, explain_jobs, parent_jobs", PREPASS_STATEMENTS)
def test_explain_runs_the_prepasses_execution_runs(
    spark, eng, sql, explain_jobs, parent_jobs
):
    assert explain_plan(eng, sql) == fetched_plan(eng, sql)
    explained = statement_jobs(spark, lambda: eng.execute(f"explain {sql}"))
    executed = statement_jobs(spark, lambda: eng.execute(sql))
    assert explained <= explain_jobs
    assert explained <= executed <= parent_jobs


# One statement per _SURFACE_PASSES entry, each one the pass rewrites.
SURFACE_STATEMENTS = {
    "_expand_macros": "select twice(x) as y from p",
    "_rewrite_from_first": "from p select x where x < 5",
    "_rewrite_star_exclude": "select * exclude (k) from p",
    "_rewrite_limit_comma": "select x from p order by x limit 5, 10",
    "_rewrite_fetch_first":
        "select x from p order by x offset 2 rows fetch first 3 rows only",
    # CREATE TABLE AS commits the rows as version 2
    "_bind_versions": "select count(*) as n from p version as of 2",
    "_rewrite_sequence_calls": "select nextval('sq') as n",
    "_rewrite_pivot_statement": "pivot p on k in (1, 2) using sum(x)",
    "_rewrite_window_exclude":
        "select x, sum(x) over (order by x rows between 1 preceding"
        " and 1 following exclude current row) as w from p",
    "_bind_ctes_for_surfaces":
        "with c as (select v, k from s) select x, v from p"
        " asof join c on p.k = c.k and p.x >= c.v",
    "_lift_engine_subqueries":
        "select count(*) as n from (select k, x from p qualify"
        " row_number() over (partition by k order by x) = 1) t",
    "_rewrite_union_by_name":
        "select x, k from p union all by name select k, v as x from s",
    "_rewrite_distinct_on":
        "select distinct on (k) k, x from p order by k, x",
    "_rewrite_asof":
        "select x, v from p asof join s on p.k = s.k and p.x >= s.v",
    "_rewrite_range_join":
        "select x, lo from p join iv on p.k = iv.k"
        " and p.x between iv.lo and iv.hi",
    "_rewrite_positional_join": "select * from p positional join s",
    "_rewrite_columns_projection": "select columns('x|k') from p",
    "_rewrite_select_replace": "select * replace (x + 1 as x) from p",
    "_rewrite_qualify":
        "select k, x from p qualify"
        " row_number() over (partition by k order by x) = 1",
    "_rewrite_quantified": "select x from p where x > any (select v from s)",
}
# USING SAMPLE lowers onto TABLESAMPLE, whose Sample node draws a fresh
# random seed each time it is planned: two plans of one statement never
# print alike, so plan equality cannot be asserted for it.
UNCOMPARABLE_PASSES = {"_rewrite_using_sample"}


def _passes_that_rewrote(engine, sql: str) -> set[str]:
    """The _SURFACE_PASSES entries whose pass changed the text while
    EXPLAIN planned ``sql``."""
    names = {n for n, _note in AnalyticsEngine._SURFACE_PASSES}
    rewrote: set[str] = set()

    def spy(name):
        real = getattr(engine, name)

        def run(stmt):
            out = real(stmt)
            if out != stmt:
                rewrote.add(name)
            return out

        return run

    for n in names:
        setattr(engine, n, spy(n))
    try:
        engine.execute(f"explain {sql}")
    finally:
        for n in names:
            delattr(engine, n)
    return rewrote


def test_every_surface_pass_has_a_statement():
    names = {n for n, _note in AnalyticsEngine._SURFACE_PASSES}
    assert set(SURFACE_STATEMENTS) | UNCOMPARABLE_PASSES == names


@pytest.mark.parametrize("name", sorted(SURFACE_STATEMENTS))
def test_surface_pass_explains_the_plan_execution_runs(eng, name):
    sql = SURFACE_STATEMENTS[name]
    assert name in _passes_that_rewrote(eng, sql)
    assert explain_plan(eng, sql) == fetched_plan(eng, sql)


def test_explain_analyze_runs_the_views_it_binds(spark, tmp_path):
    """EXPLAIN ANALYZE executes, so the views it names bind to the plan
    a SELECT runs: a LIMIT p% view limits, a POSITIONAL JOIN view takes
    the distributed offsets (no single-partition window), and a nextval
    view advances its sequence (DuckDB 1.0: by the row count under
    EXPLAIN ANALYZE, not at all under EXPLAIN)."""
    e = AnalyticsEngine(str(tmp_path / "whea"), spark=spark)
    con = duckdb.connect()
    e.execute(
        "create table q as select cast(id as int) as x from range(1000)"
    )
    e.execute("create view v as select x from q limit 10%")
    assert e.execute("select count(*) as n from v").rows == [(100,)]
    assert e.execute("explain analyze select * from v").rows[0][1] == 100
    e.execute("create view pj as select * from q positional join v")
    r = e.execute("explain analyze select * from pj").rows[0]
    assert r[1] == 1000
    assert "SinglePartition" not in r[0], r[0]
    for run in (e.execute, con.execute):
        run("create table t3 (x int)")
        run("insert into t3 values (1), (2), (3)")
        run("create sequence s")
        run("create view nv as select nextval('s') as n, x from t3")
        run("explain select * from nv")
        run("explain analyze select * from nv")
    sql = "select nextval('s') as n"
    assert e.execute(sql).rows == con.execute(sql).fetchall() == [(4,)]
    e.close()
