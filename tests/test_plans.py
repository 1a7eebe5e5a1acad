"""Physical-plan property tests — the scale contract.

Correctness is the oracle's job (tools/compare.py); these tests pin the
*plan shapes* that make the same queries viable at 100 TB on a real
cluster: filters pushed to the parquet scan, columns pruned, small dims
broadcast instead of shuffling the fact side, top-k without a full
sort, and no row-at-a-time Python in any hot path.

They read the executed plan AFTER running the query so AQE's final
(re-planned) strategy is what's asserted, not the static guess.
"""

from __future__ import annotations

import re

import pytest

from andb_spark.workloads import all_queries

QUERIES = all_queries()


def final_plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    df.collect()  # drive AQE to its final plan
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_filters_reach_parquet_scan(spark, sf_dir):
    plan = final_plan(spark, sf_dir, "q6_forecast_revenue")
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed, f"no PushedFilters in plan:\n{plan}"
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed.group(1), f"{col} not pushed: {pushed.group(1)}"


def test_q6_column_pruning(spark, sf_dir):
    plan = final_plan(spark, sf_dir, "q6_forecast_revenue")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, f"no ReadSchema in plan:\n{plan}"
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    # 11-column table, 4-column query: the scan must not read the rest.
    assert read_cols == {
        "l_shipdate",
        "l_discount",
        "l_quantity",
        "l_extendedprice",
    }, read_cols


def test_q5_broadcasts_dimension_joins(spark, sf_dir):
    plan = final_plan(spark, sf_dir, "q5_region_revenue")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # The star chain must not sort-merge the tiny dims.
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 2


def test_q3_topk_avoids_full_sort(spark, sf_dir):
    plan = final_plan(spark, sf_dir, "q3_top_revenue")
    assert "TakeOrderedAndProject" in plan, plan


def test_q1_partial_aggregation(spark, sf_dir):
    """Map-side combine: two HashAggregates (partial + final) around the
    exchange, so the shuffle carries group rows, not raw rows."""
    plan = final_plan(spark, sf_dir, "q1_pricing_summary")
    assert len(re.findall(r"HashAggregate", plan)) >= 2, plan


def test_ivf_assign_broadcasts_centroids(spark, sf_dir):
    plan = final_plan(spark, sf_dir, "v_ivf_assign")
    assert "Broadcast" in plan, plan


def test_no_python_row_udfs_in_hot_paths(spark, sf_dir):
    """Every relational/pipeline/vector query must stay JVM-side:
    BatchEvalPython (row-at-a-time Python UDF) is banned. ArrowEvalPython
    / mapInPandas appear only where the Arrow path is the documented
    design: the multimodal decode stages and the Bloom filter's
    broadcast-bitset probe (operators/bloom.py — probe positions are
    still computed JVM-side)."""
    from andb_spark.workloads import pipeline, relational, tpch_extra, vectors

    allowed_pandas = {
        "m_image_meta", "m_audio_meta", "m_resize", "m_frame_sample",
        "m_image_embed", "m_embed_topk", "d_bloom_dedup", "d_bloom_bound",
        # real-codec round trips: Arrow mapInPandas IS the design for
        # byte-level decode (bounded 400-doc slice, never the hot path)
        "m_image_decode", "m_audio_decode",
    }
    names = (
        list(relational.QUERIES)
        + list(tpch_extra.QUERIES)
        + list(pipeline.QUERIES)
        + list(vectors.QUERIES)
    )
    # library-only sketch/iterative ops live outside the driver
    # registry but are still hot-path queries — look them up in the
    # full library so this lint keeps covering them
    from andb_spark.workloads import library_queries

    lib = library_queries()
    offenders = []
    for name in names:
        df = lib[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "BatchEvalPython" in plan:
            offenders.append((name, "BatchEvalPython"))
        if name not in allowed_pandas and (
            "ArrowEvalPython" in plan or "MapInPandas" in plan
        ):
            offenders.append((name, "pandas-path"))
    assert not offenders, offenders


def test_tpch_extra_no_cartesian_products(spark, sf_dir):
    """None of the adapted TPC-H shapes may degrade to a cartesian or
    nested-loop join — the correlated subqueries are all expressed as
    aggregate-then-join / semi-join, which must plan as hash joins.
    Exception: the two scalar-subquery queries join a ONE-ROW broadcast
    (the threshold) with no key — that is a BroadcastNestedLoopJoin by
    construction and is O(n) work."""
    from andb_spark.workloads import tpch_extra

    scalar_bnlj_ok = {"q11_important_suppliers", "q22_idle_customers"}
    for name in tpch_extra.QUERIES:
        plan = final_plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, (name, plan)
        if name not in scalar_bnlj_ok:
            assert "BroadcastNestedLoopJoin" not in plan, (name, plan)


def test_q4_exists_plans_as_semi_join(spark, sf_dir):
    """EXISTS must become a semi-join (no row duplication before the
    count), not a deduplicated inner join."""
    plan = final_plan(spark, sf_dir, "q4_priority_exists")
    assert "LeftSemi" in plan, plan


def test_q21_plans_without_expand(spark, sf_dir):
    """q21 counts suppliers per order from (order, supplier) pairs
    instead of two countDistincts in one aggregate, which Catalyst
    plans as an Expand that doubles every lineitem row before the
    shuffle."""
    plan = final_plan(spark, sf_dir, "q21_waiting_suppliers")
    assert "Expand" not in plan, plan


def test_q2_keeps_semi_join_and_one_shuffle(spark, sf_dir):
    """q2 filters lineitem to the wanted parts with a LeftSemi join and
    shuffles the result once, on l_partkey: the per-part count and the
    min-over-part window both reuse that one partitioning."""
    plan = final_plan(spark, sf_dir, "q2_min_ship_supplier")
    # AQE's toString echoes the initial plan too — read the final
    final = plan.split("== Initial Plan ==")[0]
    assert "LeftSemi" in final, final
    shuffles = re.findall(r"(?<!\w)Exchange (\w+\([^)]*\))", final)
    assert len(shuffles) == 1, final
    assert shuffles[0].startswith("hashpartitioning(l_partkey#"), shuffles


def test_q8_star_join_broadcasts_dims(spark, sf_dir):
    """The 6-way market-share star join must broadcast its dimension
    sides — at most one shuffle join (the lineitem-orders fact-fact
    edge) is acceptable."""
    plan = final_plan(spark, sf_dir, "q8_market_share")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert plan.count("SortMergeJoin") <= 1, plan


def test_range_join_is_equi_join(spark, sf_dir):
    """The bucketed interval join must plan as a hash equi-join on
    (bucket, key) — never the nested-loop theta join Spark gives a raw
    BETWEEN predicate."""
    plan = final_plan(spark, sf_dir, "a_range_join")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_asof_join_single_shuffle(spark, sf_dir):
    """The as-of join is union+window — it must shuffle once on the
    partition key, never produce a cartesian/range join explosion."""
    plan = final_plan(spark, sf_dir, "a_asof_join")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_heavy_hitters_partial_agg_and_topk(spark, sf_dir):
    """Vocabulary top-k: the token count must partial-aggregate before
    the shuffle (one row per (token, partition) crosses) and the top-50
    must be TakeOrderedAndProject, never a global sort."""
    plan = final_plan(spark, sf_dir, "t_heavy_hitters")
    assert "partial_count" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert not re.search(r"\bSort\b(?!MergeJoin)", plan), plan


def test_tfidf_broadcasts_document_frequency(spark, sf_dir):
    """The df (vocabulary-sized) side of the TF-IDF join must broadcast —
    the corpus-sized tf side never shuffles for the join."""
    plan = final_plan(spark, sf_dir, "t_tfidf")
    assert "BroadcastHashJoin" in plan, plan


def test_quality_filter_broadcasts_medians(spark, sf_dir):
    """The per-source median table (strata-sized) must broadcast; the
    corpus side of the threshold join must not shuffle."""
    plan = final_plan(spark, sf_dir, "p_quality_filter")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_signlsh_probe_is_scan_filter(spark, sf_dir):
    """The sign-LSH ANN probe is a pure scan filter + TakeOrdered: no
    join, no aggregation, no shuffle anywhere in the plan."""
    plan = final_plan(spark, sf_dir, "v_lsh_topk")
    assert "TakeOrderedAndProject" in plan, plan
    for op in ("Join", "Exchange", "HashAggregate"):
        assert op not in plan, f"{op} in signlsh plan:\n{plan}"


def test_hash_sample_is_pure_scan_filter(spark, sf_dir):
    """Deterministic sampling composes as a filter directly over the
    scan — no shuffle, no materialization barrier."""
    plan = final_plan(spark, sf_dir, "p_sample_hash")
    assert "Exchange" not in plan, plan
    assert "Filter" in plan, plan


def test_prefix_sum_never_single_partitions_the_data(spark, sf_dir):
    """The two-phase prefix sum's scale contract: the DATA-sized window
    runs partitioned by _pid (hash exchange), and the only
    SinglePartition stages are over the tiny per-partition subtotal
    table (broadcast back). A naive global-ordered window would put the
    whole corpus through one partition."""
    plan = final_plan(spark, sf_dir, "p_pack_shards")
    # The corpus-side running sum is partitioned on the staging pid.
    assert re.search(r"hashpartitioning\(_pid", plan), plan
    # Subtotal offsets come back as a broadcast, not a data shuffle.
    assert "BroadcastExchange" in plan, plan
    # The window that sums the corpus weight column must carry a
    # partition spec (windowspecdefinition(_pid, ...)); the only
    # unpartitioned window is the offsets one over _psum (tiny).
    data_windows = [
        ln for ln in plan.splitlines()
        if "Window [sum(n_chars" in ln
    ]
    assert data_windows, plan
    assert all("windowspecdefinition(_pid" in ln for ln in data_windows), plan


def test_decontaminate_probes_broadcast_eval_set(spark, sf_dir):
    """The decontamination scale claim: the eval set's distinct n-grams
    broadcast, so the corpus side reaches the join as a pure
    scan+generate probe. The final plan's only hash exchanges are the
    tiny eval-gram distinct and the per-doc count aggregate."""
    plan = final_plan(spark, sf_dir, "d_decontaminate")
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, plan
    assert final.count("Exchange hashpartitioning") == 2, plan


def test_chunking_is_shuffle_free(spark, sf_dir):
    """Context-window chunking must stay a narrow stage: tokenize,
    explode the chunk-index sequence, slice — no hash shuffle at all;
    the only exchange is the range partitioning of the output sort."""
    plan = final_plan(spark, sf_dir, "t_chunking")
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 0, plan
    assert final.count("Exchange rangepartitioning") == 1, plan


def test_sessionize_two_bounded_shuffles(spark, sf_dir):
    """Batch sessionization: both windows share one spec, so the fact
    table is exchanged ONCE on user_id (the session rollup's
    groupBy(user_id, sid) is satisfied by that same partitioning); the
    only other hash exchange is the bounded session-length histogram."""
    plan = final_plan(spark, sf_dir, "q_sessionize")
    final = plan.split("== Initial Plan ==")[0]
    keys = re.findall(r"Exchange hashpartitioning\((\w+)", final)
    assert sorted(keys) == ["n_events", "user_id"], final


def test_reuse_advisor_finds_shared_scans_and_projections(spark, sf_dir):
    """SparkCruise-style workload advisor (plans/reuse.py): over a
    slice of the registered workload it must (a) fingerprint scans from
    the static plan without executing anything, (b) surface the
    documents (doc_id, text) slice that the dedup/text pipeline reads
    repeatedly as a projection candidate, and (c) rank by reuse count."""
    from andb_spark.plans.reuse import analyze_workload, recommendations
    from andb_spark.workloads import all_queries

    names = [
        "q6_forecast_revenue", "q1_pricing_summary",  # lineitem readers
        "d_exact_dedup", "d_exact_dup_groups", "d_fingerprint_dup_groups",
        "t_fingerprint", "t_entropy",                 # documents readers
    ]
    report = analyze_workload(all_queries(), spark, sf_dir, names=names)
    assert report.scans, "no scan fingerprints extracted"
    # static fingerprinting saw both tables with their true widths
    assert report.table_width["documents"] == 5
    assert report.table_width["lineitem"] >= 10
    recs = recommendations(report, min_queries=3)
    proj = [r for r in recs if r["kind"] == "projection"]
    docs_proj = [r for r in proj if r["table"] == "documents"]
    assert docs_proj, recs
    # the dedup/text readers touch only (doc_id, text) — a 2/5 slice
    assert set(docs_proj[0]["columns"]) <= {"doc_id", "text"}
    assert docs_proj[0]["n_queries"] >= 5
    # ranking: first recommendation serves the most queries
    assert recs == sorted(recs, key=lambda r: -r["n_queries"])


def test_reuse_filter_splitter_handles_nesting_and_strings():
    # the reuse advisor splits PushedFilters with the shared splitter
    from andb_spark.sql.scan import split_items

    assert split_items("IsNotNull(a), GreaterThan(b,3)") == [
        "IsNotNull(a)", "GreaterThan(b,3)"
    ]
    # literal lists and quoted strings must not fragment
    assert split_items('In(c, [1,2,3]), StringContains(d, "x,y")') == [
        "In(c, [1,2,3])", 'StringContains(d, "x,y")'
    ]
    assert split_items("Or(And(Eq(a,1),Eq(b,2)), IsNull(c))") == [
        "Or(And(Eq(a,1),Eq(b,2)), IsNull(c))"
    ]


def test_reuse_advisor_skips_streaming_and_records_errors(spark, sf_dir):
    from andb_spark.plans.reuse import analyze_workload

    def boom(spark, sf_dir):
        raise RuntimeError("builder regression")

    qs = {"s_stream_fake": boom, "q_bad": boom}
    report = analyze_workload(qs, spark, sf_dir)
    # streaming name skipped silently (never invoked), failure recorded
    assert "s_stream_fake" not in report.errors
    assert "builder regression" in report.errors["q_bad"]


def test_hybrid_rrf_towers_are_topk_and_windows_bounded(spark, sf_dir):
    """v_hybrid_rrf's scale contract: the global ranking work happens
    in TakeOrdered top-k towers; every window (rank assignment) runs
    AFTER a limit, over <= 50-row candidate sets — there must be no
    Window directly over the corpus-sized scan, and the 1-row BM25
    stats side must broadcast."""
    plan = final_plan(spark, sf_dir, "v_hybrid_rrf")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # each Window sits above the 50-row candidate cut (TakeOrdered or
    # GlobalLimit), never directly above a corpus-sized scan
    for m in re.finditer(r"Window ", plan):
        below = plan[m.start():]
        lim = min(
            (
                x
                for x in (
                    below.find("TakeOrderedAndProject"),
                    below.find("GlobalLimit"),
                )
                if x != -1
            ),
            default=-1,
        )
        scan = below.find("FileScan")
        assert lim != -1 and (scan == -1 or lim < scan), (
            "Window not fed by a bounded candidate set:\n" + plan
        )


def test_lsh_and_rerank_topk_are_shuffle_free(spark, sf_dir):
    """The LSH-bucketed and two-stage-rerank ANN towers must answer
    from scan + filter + TakeOrdered — no hash/range exchange of the
    embedding table (the whole point of the bucket/candidate
    pre-filter at corpus scale)."""
    for name in ("v_lsh_topk", "v_rerank_topk"):
        plan = final_plan(spark, sf_dir, name)
        assert "Exchange hashpartitioning" not in plan, (name, plan)
        assert "Exchange rangepartitioning" not in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)


def test_bm25_broadcasts_corpus_stats(spark, sf_dir):
    """BM25 joins each document row against 1-row corpus stats and the
    per-term document frequencies — both broadcast; the corpus itself
    is never hash-exchanged."""
    plan = final_plan(spark, sf_dir, "t_bm25_topk")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan, plan


def test_q19_broadcasts_part_and_pushes_filters(spark, sf_dir):
    """The OR-of-ANDs join must broadcast the filtered part side and
    push the lineitem base predicates into the parquet scan."""
    plan = final_plan(spark, sf_dir, "q19_or_of_ands")
    assert "BroadcastHashJoin" in plan, plan
    assert re.search(r"PushedFilters: \[[^\]]", plan), plan


def test_simhash_pairs_is_equality_join(spark, sf_dir):
    """SimHash banded candidate pairing must be an equality join on
    (band, key) — never an all-pairs comparison."""
    plan = final_plan(spark, sf_dir, "d_simhash_pairs")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_values_list_broadcasts_literal_relation(spark, sf_dir):
    """The inline VALUES lookup must broadcast the literal relation
    onto the orders scan — a 5-row LocalTableScan must never put the
    fact side through a shuffle to meet it."""
    plan = final_plan(spark, sf_dir, "q_values_list")
    assert "BroadcastHashJoin" in plan, plan
    assert "LocalTableScan" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_select_except_prunes_scan(spark, sf_dir):
    """`* EXCEPT (c_name, c_acctbal)` must reach the parquet scan as a
    projection — the excluded columns are never read."""
    plan = final_plan(spark, sf_dir, "q_select_except")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, f"no ReadSchema in plan:\n{plan}"
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert read_cols == {"c_custkey", "c_nationkey", "c_mktsegment"}, (
        read_cols
    )


def test_named_window_plans_single_window_exec(spark, sf_dir):
    """Two functions over one named WINDOW spec must share ONE
    WindowExec (and therefore one sort) — the reuse is physical."""
    plan = final_plan(spark, sf_dir, "q_named_window")
    final = plan.split("== Initial Plan ==")[0]  # AQE echoes both
    assert final.count("Window [") == 1, final
    # both functions live in that one node…
    wline = next(l for l in final.splitlines() if "Window [" in l)
    assert "rank(" in wline and "sum(" in wline, wline
    # …fed by one partition-key exchange (the other exchange is the
    # final ORDER BY's range partitioning)
    assert final.count("Exchange hashpartitioning") == 1, final


def test_unpivot_is_expand_no_join(spark, sf_dir):
    """UNPIVOT must plan as a generate/expand over the scan — never a
    self-join or cartesian against a names table."""
    plan = final_plan(spark, sf_dir, "q_unpivot_sql")
    assert "CartesianProduct" not in plan, plan
    assert "Join" not in plan, plan


def test_asof_nearest_one_shuffle_two_sorts(spark, sf_dir):
    """direction='nearest' runs both time walks over the SAME key
    exchange: exactly one hash shuffle and two sorts — never a second
    exchange and never a join."""
    plan = final_plan(spark, sf_dir, "a_asof_nearest")
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1, final
    assert final.count("Sort [") == 2, final
    assert "SortMergeJoin" not in final, final
    assert "BroadcastNestedLoopJoin" not in final, final


def test_union_by_name_all_adds_no_shuffle(spark, tmp_path):
    """UNION ALL BY NAME lowers onto a plain Union over the branch
    plans — concatenation, no exchange, no join. (The no-ALL spelling
    legitimately shuffles for its dedup; ALL must not.)"""
    from andb_spark.api import AnalyticsEngine

    eng = AnalyticsEngine(str(tmp_path / "whpln"), spark=spark)
    eng.execute("create table pa (k int, a varchar(4))")
    eng.execute("insert into pa values (1,'x'), (2,'y')")
    eng.execute("create table pb (b double, k int)")
    eng.execute("insert into pb values (0.5, 3)")
    mark = len(eng._stmt_views)
    stmt = eng._rewrite_union_by_name(
        "select k, a from pa union all by name select b, k from pb"
    )
    try:
        df = eng.spark.sql(stmt)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "Union" in final, final
        assert "Exchange" not in final, final
        assert "Join" not in final, final
    finally:
        eng._release_views(mark)  # as execute() does at statement end
    eng.close()


def test_select_replace_is_pure_projection(spark, tmp_path):
    """Star-REPLACE expands to an explicit projection: the executed
    plan is project-over-scan inside one WholeStageCodegen span — no
    exchange, no join, nothing the textual expansion could have
    added."""
    from andb_spark.api import AnalyticsEngine

    eng = AnalyticsEngine(str(tmp_path / "whplr"), spark=spark)
    eng.execute("create table pr (k int, v int, w int)")
    eng.execute("insert into pr values (1, 2, 3)")
    mark = len(eng._stmt_views)
    stmt = eng._rewrite_select_replace(
        "select * replace (v * 2 as v) from pr"
    )
    # textual expansion binds no views
    assert len(eng._stmt_views) == mark
    df = eng.spark.sql(stmt)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    # `*(1)` = whole-stage-codegen stage 1: project + scan fused
    assert "*(1) Project" in plan, plan
    eng.close()


def test_columns_projection_is_pure_projection(spark, tmp_path):
    """COLUMNS('regex') expands to an explicit projection exactly like
    star-REPLACE: project-over-scan in one WholeStageCodegen span, no
    exchange/join added by the textual expansion; the aggregate
    fan-out form plans as an ordinary partial/final aggregate."""
    from andb_spark.api import AnalyticsEngine

    eng = AnalyticsEngine(str(tmp_path / "whplc"), spark=spark)
    eng.execute("create table pc (ab int, ac int, bd int)")
    eng.execute("insert into pc values (1, 2, 3)")
    mark = len(eng._stmt_views)
    stmt = eng._rewrite_columns_projection(
        "select columns('a.*') from pc"
    )
    # textual expansion binds no views
    assert len(eng._stmt_views) == mark
    df = eng.spark.sql(stmt)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    # the expansion collapses into the scan itself: column pruning
    # reaches the parquet reader (only the matched columns read) —
    # or, at worst, a single codegen projection
    assert (
        "ReadSchema: struct<ab:int,ac:int>" in plan
        or "*(1) Project" in plan
    ), plan
    # aggregate fan-out: partial+final HashAggregate, nothing more
    stmt = eng._rewrite_columns_projection(
        "select min(columns(*)) from pc"
    )
    assert len(eng._stmt_views) == mark
    plan = eng.spark.sql(stmt)._jdf.queryExecution().executedPlan()
    assert plan.toString().count("HashAggregate") >= 2, plan.toString()
    eng.close()


def test_window_exclude_shares_one_sort(spark, tmp_path):
    """The EXCLUDE lowerings (peer subtraction, min/max value
    splits, frame-clamp gaps) compose MANY helper windows, all over
    the same partition/order — Catalyst must fuse them into Window
    execs over ONE Exchange and ONE Sort, or the rewrite silently
    multiplies shuffles at scale. Pins the heaviest r13 shape:
    a not-containing RANGE frame EXCLUDE CURRENT ROW (frame + gap
    cumulatives) next to a min/max EXCLUDE GROUP (two value-split
    windows + partition-wide NULL branch)."""
    from andb_spark.api import AnalyticsEngine

    eng = AnalyticsEngine(str(tmp_path / "whxs"), spark=spark)
    eng.execute("create table wx (g int, k int, v double)")
    eng.execute(
        "insert into wx values (1,1,10),(1,2,20),(1,2,25),(2,3,30)"
    )
    mark = len(eng._stmt_views)
    df = eng._plan_engine_select(
        "select g, k,"
        " sum(v) over (partition by g order by k range between"
        " unbounded preceding and 2 preceding exclude current row)"
        " as x,"
        " min(v) over (partition by g order by k range between"
        " unbounded preceding and current row exclude group) as m,"
        " avg(v) over (partition by g order by k range between"
        " unbounded preceding and current row exclude ties) as t,"
        " max(v) over (partition by g order by k rows between"
        " 2 preceding and 2 following exclude group) as cg"
        " from wx"
    )
    try:
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        eng._release_views(mark)  # as execute() does at statement end
    # AQE's toString echoes the initial plan too — count the final
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1, final
    assert final.count("Sort [") <= 2, final
    eng.close()
