"""andb_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference system (wotchin/AnDB, see SURVEY.md), re-expressed Spark-first:
the logical plan is declared with the DataFrame / Spark SQL API and
Catalyst + Tungsten pick the physical strategy. The reference's Volcano
executor, slotted pages, B+tree, WAL and buffer pool (its storage/ and
executor/ trees) have no behavioral surface here — Parquet + Catalyst
subsume them (SURVEY.md §4).

Layout:
    session.py    SparkSession factory tuned for OLAP at scale
    catalog.py    table registry over the driver parquet fixtures
    api.py        SQL entry point mirroring the reference's
                  execute_simple_query (andb/entrance.py:16-55)
    sql/          literal-aware text scans and the DuckDB dialect
                  normalization (pure text → text)
    functions/    scalar/vector/text function library (JVM-side exprs)
    operators/    relational + LLM-pipeline operators (dedup, similarity,
                  as-of join, multimodal plumbing)
    streaming/    Structured Streaming windows over the events table
"""

import importlib

__version__ = "0.1.0"

# Re-exports resolve on first use, so importing a pure-text module
# such as andb_spark.sql.dialect does not start pyspark.
_LAZY = {
    "build_session": "andb_spark.session",
    "get_session": "andb_spark.session",
    "TABLES": "andb_spark.catalog",
    "load_table": "andb_spark.catalog",
    "register_tables": "andb_spark.catalog",
}


def __getattr__(name: str):
    if name in _LAZY:
        return getattr(importlib.import_module(_LAZY[name]), name)
    raise AttributeError(f"module 'andb_spark' has no attribute {name!r}")

__all__ = [
    "build_session",
    "get_session",
    "TABLES",
    "load_table",
    "register_tables",
    "__version__",
]
