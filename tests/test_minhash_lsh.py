"""MinHash-LSH dedup is one lazy plan around one per-document aggregate.

- Building any LSH builder (the three registry jobs and ``band_table``)
  runs no Spark job.
- No executed LSH plan caches anything or sorts to aggregate: the
  aggregate's exchange runs once and every other reference to it is a
  ReusedExchange; integer min-hashes keep it a hash aggregate.
- The write and the incremental and audit jobs run a fixed, small
  number of jobs.
- The base hash, the signatures and the bands equal DuckDB's over
  edge-case shingles, and edge-case documents (a repeated shingle,
  fewer than 3 tokens, empty and NULL text) give exactly the pairs the
  DuckDB oracle gives."""

from __future__ import annotations

import hashlib
import itertools
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from andb_spark.catalog import load_table
from andb_spark.operators import dedup as DD
from andb_spark.workloads import all_oracles
from andb_spark.workloads import pipeline as P
from andb_spark.workloads.pipeline import d_minhash_lsh
from conftest import statement_jobs


def _band_table(spark, sf_dir):
    return DD.band_table(load_table(spark, sf_dir, "documents"), "text", "doc_id")


LSH_BUILDERS = {
    "d_minhash_lsh": d_minhash_lsh,
    "d_incremental_minhash": P.d_incremental_minhash,
    "d_lsh_recall_audit": P.d_lsh_recall_audit,
    "band_table": _band_table,
}


def _final_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_building_runs_no_job(spark, sf_dir):
    # attach first: the session's first read of a table runs its own
    # (memoized) job, which is no part of the builder
    load_table(spark, sf_dir, "documents")
    assert statement_jobs(spark, lambda: d_minhash_lsh(spark, sf_dir)) == 0


@pytest.mark.parametrize("name", sorted(set(LSH_BUILDERS) - {"d_minhash_lsh"}))
def test_lsh_builders_run_no_job(spark, sf_dir, name):
    load_table(spark, sf_dir, "documents")
    build = LSH_BUILDERS[name]
    assert statement_jobs(spark, lambda: build(spark, sf_dir)) == 0


@pytest.mark.parametrize("name", sorted(LSH_BUILDERS))
def test_lsh_plans_neither_cache_nor_sort_to_aggregate(spark, sf_dir, name):
    df = LSH_BUILDERS[name](spark, sf_dir)
    df.collect()
    final = _final_plan(df)
    for node in ("SortAggregate", "InMemoryRelation", "InMemoryTableScan"):
        assert node not in final, final
    assert "HashAggregate(keys=[doc_id" in final, final


# Spark jobs per collect on the sf0.001 fixture (the md5-string min-hash
# regime, with its checkpoints and persists, ran 23 and 17 at sf0.01,
# most of them while building)
@pytest.mark.parametrize(
    "name, jobs",
    [("d_incremental_minhash", 11), ("d_lsh_recall_audit", 8)],
)
def test_lsh_job_counts(spark, sf_dir, name, jobs):
    df = LSH_BUILDERS[name](spark, sf_dir)
    assert statement_jobs(spark, df.collect) == jobs


def test_audit_samples_above_the_aggregate_exchange(spark, sf_dir):
    """The recall audit's sample predicate is evaluated on the
    aggregate's output, after its exchange, so it never runs in the
    scan's stage (the single-task stage a predicate pushed below the
    fan-out exchange fell into)."""
    df = P.d_lsh_recall_audit(spark, sf_dir)
    df.collect()
    lines = [
        re.sub(r"^\*\(\d+\) |#\d+L?", "", ln.lstrip(" :+-"))
        for ln in _final_plan(df).splitlines()
    ]
    sample = [
        i for i, node in enumerate(lines)
        if node.startswith("Filter") and f"base_min < {P._AUDIT_BUCKET}" in node
    ]
    assert sample, lines
    for i in sample:
        assert lines[i + 1].startswith("ObjectHashAggregate(keys=[doc_id"), lines
        assert lines[i + 2].startswith("AQEShuffleRead"), lines


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


def _md5_prefixed(prefix: str) -> str:
    """The first shingle 'zN y x' whose md5 starts with ``prefix``."""
    for i in itertools.count():
        sh = f"z{i} y x"
        if hashlib.md5(sh.encode()).hexdigest().startswith(prefix):
            return sh


_HASH_DOCS = [
    (1, "a b c"),
    # non-ASCII: md5 of the UTF-8 bytes in both engines
    (2, "naïve café über straße"),
    (3, "日本語 の テキスト です"),
    (4, "emoji 😀 in text"),
    # repeated shingles count once in the minimum
    (5, "a b c a b c a b c"),
    # base hashes with leading hex zeros
    (6, _md5_prefixed("000")),
    (7, _md5_prefixed("0") + " w"),
]


def test_minhash_definition_matches_duckdb(spark):
    df = spark.createDataFrame(_HASH_DOCS, "doc_id bigint, text string")
    con = duckdb.connect()
    con.execute("create table documents (doc_id bigint, text varchar)")
    con.executemany("insert into documents values (?, ?)", _HASH_DOCS)
    ctes = f"""
        WITH docs AS (
            SELECT doc_id, {P._SHINGLES} AS sh
            FROM (SELECT doc_id, {P._WORDS.format(col='text')} AS w
                  FROM documents)
        ),
        sh AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
        {P._LSH_BANDS}"""

    base = {
        tuple(r)
        for r in df.select(F.explode(DD.shingles("text")).alias("shingle"))
        .selectExpr("shingle", f"{DD.base_hash_sql('shingle')} AS x")
        .collect()
    }
    want = set(con.execute(
        f"{ctes} SELECT shingle, {P._BASE_HASH.format(col='shingle')}"
        " FROM sh"
    ).fetchall())
    assert base == want
    assert ("a b c", 7276384) in base
    assert min(x for _, x in base) < 16 ** 4  # a leading-zeros md5

    sigs = {
        (r["doc_id"], tuple(r["sig"]))
        for r in DD.minhash_signatures(df, "text", "doc_id", 8).collect()
    }
    assert sigs == {
        (d, tuple(sig))
        for d, sig in con.execute(
            f"{ctes} SELECT doc_id, list(min_hash ORDER BY h) FROM mh"
            " GROUP BY doc_id"
        ).fetchall()
    }
    assert len(sigs) == len(_HASH_DOCS)
    assert all(0 <= v < DD.MERSENNE_31 for _, sig in sigs for v in sig)

    bands = {tuple(r) for r in DD.band_table(df, "text", "doc_id").collect()}
    assert bands == set(con.execute(
        f"{ctes} SELECT doc_id, band, band_sig FROM bands"
    ).fetchall())
