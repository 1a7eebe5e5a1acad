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
