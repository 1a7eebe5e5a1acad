"""Focused tests for the r15 optimization-round internals: the
size-derived fan-out width, the fixture attach memo (including the
correctness-critical dir-change rebind), and the per-session function
registration."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from andb_spark.catalog import load_table, register_tables
from andb_spark.operators import dedup as DD
from andb_spark.session import build_session

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    return build_session("test_r15_opt")


def test_spread_width_is_size_derived_and_bounded(spark):
    d = load_table(spark, SF001, "documents")
    target = spark.sparkContext.defaultParallelism
    out = DD.spread_small_input(d)
    width = out.rdd.getNumPartitions()
    # a ~64 KiB fixture must not fan out to the full core count —
    # the r15 regression was 32 near-empty tasks on sub-MB input
    assert 1 <= width <= max(2, target // 4)


def test_spread_keeps_wide_input_untouched(spark):
    d = load_table(spark, SF001, "documents").repartition(64)
    out = DD.spread_small_input(d)
    # already at/above parallelism: no extra shuffle is added
    assert out is d


def test_spread_results_unchanged(spark):
    d = load_table(spark, SF001, "documents")
    pairs = DD.minhash_lsh_pairs(
        d, "text", "doc_id", num_hashes=8, rows_per_band=2, threshold=0.5
    )
    direct = (
        d.select(
            "doc_id", F.explode(DD.shingles("text")).alias("shingle")
        )
        .groupBy("doc_id")
        .count()
        .count()
    )
    # the width choice must not change WHAT is computed, only where
    assert pairs.columns == ["id_a", "id_b", "jaccard"]
    assert direct == d.filter(F.size(DD.shingles("text")) > 0).count()


def test_register_tables_rebinds_on_dir_change(spark):
    register_tables(spark, SF001)
    n_small = spark.table("orders").count()
    register_tables(spark, SF01)
    n_big = spark.table("orders").count()
    # the attach memo must never serve a stale dir's views
    assert n_big > n_small
    register_tables(spark, SF001)
    assert spark.table("orders").count() == n_small


def test_load_table_memo_is_per_dir(spark):
    a = load_table(spark, SF001, "orders")
    b = load_table(spark, SF001, "orders")
    c = load_table(spark, SF01, "orders")
    assert a is b  # plan handle reused within (session, dir, table)
    assert c is not a
    assert c.count() != a.count()


def test_incremental_minhash_matches_duckdb(spark):
    """The one lazy incremental near-dup plan (no persist, no
    checkpoint) returns exactly the DuckDB oracle's pairs at sf0.01."""
    import duckdb

    from andb_spark.catalog import table_path
    from andb_spark.workloads import all_oracles
    from andb_spark.workloads.pipeline import d_incremental_minhash

    got = [tuple(r) for r in d_incremental_minhash(spark, SF01).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{table_path(SF01, 'documents')}')"
    )
    want = con.execute(all_oracles()["d_incremental_minhash"]).fetchall()
    assert got == [tuple(r) for r in want]
    assert got  # the sf0.01 increment has near-duplicates in history


def test_recall_audit_sample_pass_is_parallel(spark):
    """The recall audit's corpus-wide sample pass must not run at
    1-task scan parallelism (the r15 finding: one 1.1 s task while 31
    cores idle) — spread_small_input must widen it whenever the
    size-derived width exceeds the scan's split count (sf0.1's ~600
    KiB documents table → ~10 partitions at 64 KiB each; sf0.01 is
    under one 64 KiB unit and correctly stays at width 1)."""
    d = load_table(spark, "/root/testdata/sf0.1", "documents")
    assert d.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    out = DD.spread_small_input(d)
    assert out.rdd.getNumPartitions() > 1


def test_staged_write_output_sizing(spark, tmp_path):
    """A small change set must land as ~one file regardless of how
    many near-empty partitions its plan tail produced (guide §6 —
    pre-r15, an INSERT OR IGNORE batch landed as 32 files / 25 KiB);
    the session var must disable the sizing for layouts that need
    raw partitioning."""
    import glob
    import os

    from andb_spark.api import AnalyticsEngine

    eng = AnalyticsEngine(str(tmp_path / "wh"), spark=spark)
    e = eng.execute
    e("create table sz (k bigint)")
    e("insert into sz select id from range(0, 3000)")

    def seg_file_counts():
        return sorted(
            len(glob.glob(os.path.join(d, "*.parquet")))
            for d in glob.glob(str(tmp_path / "wh" / "sz" / "v-*"))
        )

    # range(0,3000) plans at full parallelism; the sized write lands one file
    assert max(seg_file_counts()) == 1, seg_file_counts()
    eng.session_vars["andb.stage_sizing_max_bytes"] = 0
    e("insert into sz select id from range(3000, 6000)")
    assert max(seg_file_counts()) > 1, seg_file_counts()
    assert e("select count(*) as n from sz").rows == [(6000,)]
    eng.close()


def test_register_all_idempotent(spark):
    from andb_spark.functions.register import register_all

    register_all(spark)
    register_all(spark)  # second call is a no-op, function still works
    row = spark.sql(
        "select cosine_similarity(array(1.0, 0.0), array(1.0, 0.0)) as s"
    ).collect()[0]
    assert abs(row["s"] - 1.0) < 1e-9
