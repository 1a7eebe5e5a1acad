"""The DuckDB dialect is a pure text → text seam: importing it starts
neither pyspark nor the engine, and it normalizes fixed statements
with no Spark session."""

from __future__ import annotations

import os
import re
import subprocess
import sys

import pytest

from andb_spark.sql import dialect
from andb_spark.sql.scan import EngineError

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_dialect_import_loads_no_spark_and_no_engine():
    code = (
        "import sys, andb_spark.sql.dialect; "
        "print([m for m in ('pyspark', 'andb_spark.api')"
        " if m in sys.modules])"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=_ROOT, check=True,
        capture_output=True, text=True,
    )
    assert out.stdout.strip() == "[]"


@pytest.mark.parametrize(
    "stmt, expected",
    [
        # list index: 1-based, NULL out of bounds
        ("select xs[2] from t", "select try_element_at(xs, 2) from t"),
        # strftime: C89 directives become a Java pattern
        (
            "select strftime(d, '%Y-%m-%d') from t",
            "select date_format((d), 'yyyy-MM-dd') from t",
        ),
        # DuckDB's default null order on an unqualified ASC key
        (
            "select k from t order by k",
            "select k from t order by k nulls last ",
        ),
        # renames in one pass; a literal spelling the name stays
        (
            "select len(xs), list_value(1, 2) from t where s = 'len('",
            "select size(xs), array(1, 2) from t where s = 'len('",
        ),
    ],
)
def test_normalize_without_engine(stmt, expected):
    assert dialect.normalize(stmt) == expected


def test_list_sort_orders_nulls_last_without_engine():
    out = dialect.normalize("select list_sort(xs) from t")
    assert re.fullmatch(
        r"select concat\(sort_array\(filter\(\(xs\), (_\w+) -> \1 is"
        r" not null\)\), filter\(\(xs\), (_\w+) -> \2 is null\)\)"
        r" from t",
        out,
    ), out


def test_caret_refuses_without_engine():
    with pytest.raises(EngineError, match="differs between dialects"):
        dialect.normalize("select 2 ^ 3 as x")


def test_lambda_names_are_deterministic_without_engine():
    for stmt in (
        "select product(x) from t group by k",
        "select list_sum(xs) from t",
        "select struct_pack(a := 1, b := list_sum(xs)) as s from t",
    ):
        out = dialect.normalize(stmt)
        assert "->" in out, out
        assert dialect.normalize(stmt) == out, stmt


def test_lambda_names_never_shadow_a_user_column(spark, tmp_path):
    """A column named like an underscore-prefixed four-hex lambda
    variable is read, not captured, inside the lambdas the templates
    build around it."""
    import duckdb

    from andb_spark.api import AnalyticsEngine

    eng = AnalyticsEngine(str(tmp_path / "whlv"), spark=spark)
    con = duckdb.connect()
    for run in (eng.execute, con.execute):
        run("create table lv (_a1b2 int[], ys int[])")
        run(
            "insert into lv values ([1, 2], [1]), ([3], [2, null]),"
            " ([4], null)"
        )
    sql = (
        "select list_has_all(_a1b2, ys) as h, list_sum(_a1b2) as s"
        " from lv order by s"
    )
    assert eng.execute(sql).rows == con.execute(sql).fetchall()
    eng.close()
