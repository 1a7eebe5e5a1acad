"""EXPLAIN plans what executes: the quantified-comparison rewrite and
``FETCH … WITH TIES`` build one lazy plan that EXPLAIN prints and
execution fetches, EXPLAIN runs no Spark job, and execution runs no
more jobs than the eager lowerings these plans replaced."""

from __future__ import annotations

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
