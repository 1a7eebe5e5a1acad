"""MinHash-LSH dedup is one lazy plan around one per-document aggregate.

- Building the registry job runs no Spark job.
- The executed plan caches nothing: the aggregate's exchange runs once
  and every other reference to it is a ReusedExchange.
- The write runs a fixed, small number of jobs.
- Edge-case documents (a repeated shingle, fewer than 3 tokens, empty
  and NULL text) give exactly the pairs the DuckDB oracle gives."""

from __future__ import annotations

import duckdb

from andb_spark.catalog import load_table
from andb_spark.operators import dedup as DD
from andb_spark.workloads import all_oracles
from andb_spark.workloads.pipeline import d_minhash_lsh
from conftest import statement_jobs


def _final_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_building_runs_no_job(spark, sf_dir):
    # attach first: the session's first read of a table runs its own
    # (memoized) job, which is no part of the builder
    load_table(spark, sf_dir, "documents")
    assert statement_jobs(spark, lambda: d_minhash_lsh(spark, sf_dir)) == 0


def test_one_aggregate_exchange_serves_every_branch(spark, sf_dir):
    df = d_minhash_lsh(spark, sf_dir)
    df.collect()
    final = _final_plan(df)
    assert "InMemoryRelation" not in final
    assert "InMemoryTableScan" not in final
    computed = reused = 0
    for ln in final.splitlines():
        node = ln.lstrip(" :+-")
        if "Exchange hashpartitioning(doc_id#" not in node:
            continue
        if node.startswith("ReusedExchange"):
            reused += 1
        elif node.startswith("Exchange"):
            computed += 1
    assert computed == 1, final
    assert reused >= 1, final


def test_write_job_count(spark, sf_dir, tmp_path):
    df = d_minhash_lsh(spark, sf_dir)
    out = str(tmp_path / "pairs")
    assert statement_jobs(spark, lambda: df.write.parquet(out)) == 4


_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    # repeated shingles: the set is {a b c, b c a, c a b}
    (3, "a b c a b c a b c"),
    (4, "a b c a b c a b c d"),
    (5, "a b c"),
    # fewer than 3 tokens, empty and NULL text: no shingle, no pair
    (6, "two words"),
    (7, "two words"),
    (8, ""),
    (9, ""),
    (10, None),
    (11, None),
    (12, "  spaced   out \t words  here "),
    (13, "spaced out words here"),
    (14, "spaced out words there"),
]


def test_edge_case_documents_match_duckdb(spark):
    df = spark.createDataFrame(_DOCS, "doc_id bigint, text string")
    got = sorted(
        tuple(r)
        for r in DD.minhash_lsh_pairs(
            df, "text", "doc_id", num_hashes=8, rows_per_band=2,
            threshold=0.5,
        ).collect()
    )
    con = duckdb.connect()
    con.execute("create table documents (doc_id bigint, text varchar)")
    con.executemany("insert into documents values (?, ?)", _DOCS)
    want = sorted(
        tuple(r) for r in con.execute(all_oracles()["d_minhash_lsh"]).fetchall()
    )
    assert got == want
    # the edge cases are exercised, not vacuous: repeated-shingle and
    # whitespace-normalized documents pair up
    assert (3, 4, 0.75) in got and (12, 13, 1.0) in got
    assert not {6, 7, 8, 9, 10, 11} & {i for p in got for i in p[:2]}
