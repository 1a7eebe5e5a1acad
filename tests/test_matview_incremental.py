"""Incremental materialized-view refresh (api._incremental_refresh).

The reference has no materialized views at all; ours pair the manifest
write path's file lineage with the classic self-maintainable-aggregate
result (SUM/COUNT/MIN/MAX under insert-only deltas) so that REFRESH
after appends costs O(delta read) + O(view rewrite), never O(base).
These tests pin: result parity with a full recompute, the mode actually
taken (incremental vs full vs noop), fallback on copy-on-write base
rewrites, and rejection of non-self-maintainable query shapes.
"""

from __future__ import annotations

import pytest

from andb_spark.api import AnalyticsEngine, _matview_plan


@pytest.fixture()
def engine(spark, tmp_path):
    return AnalyticsEngine(str(tmp_path / "wh"), spark=spark)


MV_SQL = (
    "select g, count(*) as n, sum(v) as total, min(v) as lo,"
    " max(v) as hi, avg(v) as mean from base where v >= 0 group by g"
)


def _seed(e):
    e("create table base (g text, v int)")
    e("insert into base values ('a', 1), ('a', 2), ('b', 3), ('b', -9)")
    e(f"create materialized view mv as {MV_SQL}")


def _mv_rows(e):
    return e("select * from mv order by g").rows


def _full_rows(e):
    return e(f"select * from ({MV_SQL}) order by g").rows


def test_plan_parser_accepts_self_maintainable_shape():
    plan = _matview_plan(MV_SQL)
    assert plan is not None
    assert plan["base"] == "base"
    assert plan["groups"] == ["g"]
    assert plan["aggs"] == [
        ("n", "sum"),
        ("total", "sum"),
        ("lo", "min"),
        ("hi", "max"),
        ("__mv_s__mean", "sum"),
        ("__mv_c__mean", "sum"),
    ]
    assert plan["out_cols"] == ["g", "n", "total", "lo", "hi", "mean"]
    # AVG decomposes into a hidden SUM+COUNT state pair the state
    # query computes in place of the avg item
    assert plan["derive"] == [("mean", "__mv_s__mean", "__mv_c__mean")]
    assert plan["hidden"] == ["__mv_s__mean", "__mv_c__mean"]
    assert "avg(" not in plan["state_sql"]
    assert "sum(v) as __mv_s__mean" in plan["state_sql"]
    assert "count(v) as __mv_c__mean" in plan["state_sql"]


@pytest.mark.parametrize(
    "sql",
    [
        # compound expressions that the greedy agg regex USED to
        # fullmatch (inner capture `a)/count(*` etc.) — merging those
        # with SUM/MIN silently corrupts the view, so the balanced-
        # paren guard must route them to full refresh
        "select g, sum(v)/count(*) as avg_v from base group by g",
        "select g, sum(a)/sum(b) as ratio from base group by g",
        "select g, min(a)*max(b) as x from base group by g",
        "select g, avg(distinct v) as a from base group by g",
        # aliases colliding with the reserved hidden-state prefix
        "select g, sum(v) as __mv_s__x from base group by g",
        "select g, count(distinct v) as n from base group by g",
        "select g, sum(v) as s from base group by g having sum(v) > 1",
        "select b.g, sum(b.v) as s from base b join other o on b.g = o.g"
        " group by b.g",
        "select g, sum(v) as s from base group by g order by g",
        "select sum(v) as s from base group by g",  # key not in output
        "select g, sum(v) from base group by g",  # un-aliased aggregate
        "select g, v from base",  # no aggregate at all
        "select g, sum(v) as s from (select * from base) group by g",
    ],
)
def test_plan_parser_rejects_non_incremental_shapes(sql):
    assert _matview_plan(sql) is None


def test_refresh_after_append_is_incremental_and_correct(engine):
    e = engine.execute
    _seed(e)
    assert _mv_rows(e) == [
        ("a", 2, 3, 1, 2, 1.5),
        ("b", 1, 3, 3, 3, 3.0),
    ]
    # the hidden AVG state pair never surfaces through SELECT
    assert e("select * from mv").columns == [
        "g", "n", "total", "lo", "hi", "mean",
    ]

    # three appends: existing group, new group, filtered-out row
    e("insert into base values ('a', 10), ('c', 7), ('c', -1)")
    e("refresh materialized view mv")
    assert engine.catalog["tables"]["mv"]["matview_last_refresh"] == (
        "incremental"
    )
    assert _mv_rows(e) == _full_rows(e)
    assert _mv_rows(e) == [
        ("a", 3, 13, 1, 10, 13 / 3),
        ("b", 1, 3, 3, 3, 3.0),
        ("c", 1, 7, 7, 7, 7.0),
    ]

    # refresh with no base change: noop, zero rows rewritten
    r = e("refresh materialized view mv")
    assert r.effect_rows == 0
    assert engine.catalog["tables"]["mv"]["matview_last_refresh"] == "noop"


def test_incremental_refresh_reads_only_delta_files(engine, monkeypatch):
    """The defining query must be re-run over ONLY the appended files —
    observed through _read_files, which the incremental path uses to
    bind the base name to the delta."""
    e = engine.execute
    _seed(e)
    before = set(engine._data_files("base"))
    e("insert into base values ('a', 100)")
    delta = set(engine._data_files("base")) - before
    assert delta  # the INSERT appended, not rewrote

    seen_paths: list[list[str]] = []
    orig = AnalyticsEngine._read_files

    def spy(self, name, paths):
        seen_paths.append(list(paths))
        return orig(self, name, paths)

    monkeypatch.setattr(AnalyticsEngine, "_read_files", spy)
    e("refresh materialized view mv")
    assert engine.catalog["tables"]["mv"]["matview_last_refresh"] == (
        "incremental"
    )
    assert seen_paths and set(seen_paths[0]) == delta


def test_cow_rewrite_falls_back_to_full_then_recovers(engine):
    e = engine.execute
    _seed(e)
    # UPDATE rewrites base files (copy-on-write) — lineage continuity
    # broken, refresh must take the full path and stay correct
    e("update base set v = 50 where g = 'a' and v = 2")
    e("refresh materialized view mv")
    assert engine.catalog["tables"]["mv"]["matview_last_refresh"] == "full"
    assert _mv_rows(e) == _full_rows(e)

    # the full refresh re-anchored the seen set: a subsequent append
    # goes incremental again
    e("insert into base values ('b', 8)")
    e("refresh materialized view mv")
    assert engine.catalog["tables"]["mv"]["matview_last_refresh"] == (
        "incremental"
    )
    assert _mv_rows(e) == _full_rows(e)


@pytest.mark.parametrize(
    "dml",
    [
        "delete from base where v = 2",
        "update base set v = 40 where v = 1",
    ],
)
def test_deletion_vector_dml_refreshes_like_full(engine, dml):
    """A deletion-vector DELETE or UPDATE keeps every base file in the
    manifest (the UPDATE appends its new rows as a new file): only the
    DV in the lineage identity shows the refresh that the seen files
    lost rows, so it must not merge the change in as an insertion."""
    e = engine.execute
    _seed(e)
    e(
        "create materialized view sc as select g, count(*) as n,"
        " sum(v) as total from base group by g"
    )
    e("insert into base values ('a', 5), ('c', 6)")
    e("refresh materialized view sc")
    e(dml)
    assert engine._meta("base")["dvs"], "the DML takes a deletion vector"
    e("refresh materialized view sc")
    assert engine.catalog["tables"]["sc"]["matview_last_refresh"] == "full"
    assert e("select * from sc order by g").rows == e(
        "select g, count(*) as n, sum(v) as total from base"
        " group by g order by g"
    ).rows


def test_non_sm_view_always_full_refresh(engine):
    """A compound aggregate expression (the exact shape the greedy
    regex used to mis-parse as SUM-mergeable) must take the full path
    every time — and stay correct."""
    e = engine.execute
    e("create table base (g text, v int)")
    e("insert into base values ('a', 1), ('b', 2)")
    e(
        "create materialized view mv as"
        " select g, sum(v)/count(*) as a from base group by g"
    )
    e("insert into base values ('a', 3)")
    e("refresh materialized view mv")
    assert engine.catalog["tables"]["mv"]["matview_last_refresh"] == "full"
    assert e("select * from mv order by g").rows == [("a", 2.0), ("b", 2.0)]


def test_avg_view_incremental_refresh(engine):
    """AVG alone: hidden-state decomposition end-to-end — refresh after
    append goes incremental, values equal the full recompute, the
    stored hidden columns never leak into SELECT results."""
    e = engine.execute
    e("create table base (g text, v int)")
    e("insert into base values ('a', 1), ('a', 2), ('b', 7), ('b', null)")
    e(
        "create materialized view mv as"
        " select g, avg(v) as mean from base group by g"
    )
    assert e("select * from mv order by g").rows == [("a", 1.5), ("b", 7.0)]
    e("insert into base values ('a', 6), ('c', null)")
    e("refresh materialized view mv")
    assert engine.catalog["tables"]["mv"]["matview_last_refresh"] == (
        "incremental"
    )
    r = e("select * from mv order by g")
    assert r.columns == ["g", "mean"]
    # avg ignores NULL inputs; an all-NULL group averages to NULL
    assert r.rows == [("a", 3.0), ("b", 7.0), ("c", None)]
    assert r.rows == e(
        "select g, avg(v) as mean from base group by g order by g"
    ).rows


def test_global_aggregate_view_incremental(engine):
    e = engine.execute
    e("create table base (g text, v int)")
    e("insert into base values ('a', 1), ('b', 2)")
    e(
        "create materialized view mv as"
        " select count(*) as n, sum(v) as total, max(v) as hi from base"
    )
    e("insert into base values ('c', 10)")
    e("refresh materialized view mv")
    assert engine.catalog["tables"]["mv"]["matview_last_refresh"] == (
        "incremental"
    )
    assert e("select * from mv").rows == [(3, 13, 10)]


# ---------------------------------------------------------- fuzz arm --
# Random append/update/delete/refresh interleavings: after every
# REFRESH the view must equal the full recompute, whichever path
# (incremental merge, full fallback, noop) the engine chose for each
# individual refresh along the way.

from hypothesis import given, settings, strategies as st  # noqa: E402

_ROW = st.tuples(
    st.sampled_from(["a", "b", "c", "d"]),
    st.integers(min_value=-50, max_value=50),
)
_OP = st.one_of(
    st.tuples(st.just("insert"), st.lists(_ROW, min_size=1, max_size=5)),
    st.tuples(
        st.just("update"),
        st.sampled_from(["a", "b", "c", "d"]),
        st.integers(min_value=-50, max_value=50),
    ),
    st.tuples(st.just("delete"), st.sampled_from(["a", "b", "c", "d"])),
    st.tuples(st.just("optimize")),  # compaction breaks file lineage
    st.tuples(st.just("alter_add")),  # metadata-only schema change
    # r4 autorefresh now fires on these too (CoW upsert / full rewrite)
    st.tuples(
        st.just("merge"),
        st.sampled_from(["a", "b", "e"]),
        st.integers(min_value=-50, max_value=50),
    ),
    st.tuples(st.just("overwrite"), st.lists(_ROW, min_size=1, max_size=3)),
    st.tuples(st.just("refresh")),
)


@settings(max_examples=8, deadline=None)
@given(
    ops=st.lists(_OP, min_size=1, max_size=5),
    autorefresh=st.booleans(),
    compact_thr=st.sampled_from([0, 2, 4]),
)
def test_random_dml_refresh_interleaving_matches_full_recompute(
    spark, tmp_path_factory, ops, autorefresh, compact_thr
):
    import tempfile

    eng = AnalyticsEngine(
        tempfile.mkdtemp(prefix="mvfuzz_"), spark=spark
    )
    e = eng.execute
    _seed(e)
    # random maintenance modes: the invariant must hold with eager
    # per-append refresh and threshold compaction interleaved too
    if autorefresh:
        e("set andb.matview_autorefresh = on")
    if compact_thr:
        e(f"set andb.auto_compact = {compact_thr}")
    modes = set()
    n_alters = 0
    n_merges = 0
    for op in ops:
        if op[0] == "insert":
            vals = ", ".join(f"('{g}', {v})" for g, v in op[1])
            # explicit column list: alter_add may have widened the
            # schema (added columns fill with NULL)
            e(f"insert into base (g, v) values {vals}")
        elif op[0] == "update":
            e(f"update base set v = {op[2]} where g = '{op[1]}'")
        elif op[0] == "optimize":
            e("optimize base")
        elif op[0] == "alter_add":
            n_alters += 1
            e(f"alter table base add column extra{n_alters} int")
        elif op[0] == "delete":
            e(f"delete from base where g = '{op[1]}'")
        elif op[0] == "merge":
            n_merges += 1
            src = f"msrc{n_merges}"
            e(f"create table {src} (g text, v int)")
            e(f"insert into {src} values ('{op[1]}', {op[2]})")
            # one source row: a target row can never multi-match
            e(
                f"merge into base using {src} on base.g = {src}.g"
                f" when matched then update set v = {src}.v"
                f" when not matched then insert (g, v)"
                f" values ({src}.g, {src}.v)"
            )
        elif op[0] == "overwrite":
            ncols = len(eng.catalog["tables"]["base"]["columns"])
            rows = ", ".join(
                "("
                + ", ".join([f"'{g}'", str(v)] + ["null"] * (ncols - 2))
                + ")"
                for g, v in op[1]
            )
            e(f"insert overwrite base values {rows}")
        else:
            e("refresh materialized view mv")
            modes.add(eng.catalog["tables"]["mv"]["matview_last_refresh"])
            assert _mv_rows(e) == _full_rows(e)
    e("refresh materialized view mv")
    modes.add(eng.catalog["tables"]["mv"]["matview_last_refresh"])
    assert _mv_rows(e) == _full_rows(e)
    assert modes <= {"incremental", "full", "noop"}


def test_autorefresh_tracks_appends_and_respects_transactions(engine):
    """SET andb.matview_autorefresh = on: an INSERT into the base
    refreshes dependent views immediately (incrementally), without an
    explicit REFRESH; inside a transaction the refresh is deferred so
    ROLLBACK cannot leave the view reflecting revoked rows."""
    e = engine.execute
    _seed(e)
    e("set andb.matview_autorefresh = on")
    e("insert into base values ('a', 10), ('c', 7)")
    # no explicit REFRESH — the append did it
    assert engine.catalog["tables"]["mv"]["matview_last_refresh"] == (
        "incremental"
    )
    assert _mv_rows(e) == _full_rows(e)

    # inside a transaction: view does NOT move until after COMMIT
    before = _mv_rows(e)
    e("begin")
    e("insert into base values ('d', 99)")
    assert _mv_rows(e) == before
    e("rollback")
    assert _mv_rows(e) == before
    assert _mv_rows(e) == _full_rows(e)  # base was rolled back too

    e("insert into base values ('d', 42)")
    assert _mv_rows(e) == _full_rows(e)
    assert any(r[0] == "d" for r in _mv_rows(e))

    from andb_spark.api import EngineError

    with pytest.raises(EngineError, match="autorefresh"):
        e("set andb.matview_autorefresh = maybe")


def test_autorefresh_outside_a_statement_drops_its_delta_view(engine):
    """The streaming sinks commit through ``_overwrite_all`` outside
    execute(); the incremental refresh such a commit triggers must
    still drop the delta-file view it bound."""
    e = engine.execute
    _seed(e)
    e("set andb.matview_autorefresh = on")
    spark = engine.spark

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    before = temp_views()
    batch = spark.createDataFrame([("a", 5), ("e", 6)], "g string, v int")
    engine._overwrite_all(appends={"base": batch})
    assert engine.catalog["tables"]["mv"]["matview_last_refresh"] == (
        "incremental"
    )
    assert temp_views() == before
    assert _mv_rows(e) == _full_rows(e)


def test_plan_parser_rejects_nondeterministic_expressions():
    """Time-dependent / random expressions make delta-only re-runs
    unsound (history rows were filtered with yesterday's current_date):
    the parser must route them to the full path."""
    for sql in (
        "select g, count(*) as n from base where d >= current_date"
        " group by g",
        "select g, sum(v) as s from base where ts < current_timestamp"
        " group by g",
        "select g, count(*) as n from base where rand() < 0.5 group by g",
        "select max(now()) as t from base",
    ):
        assert _matview_plan(sql) is None, sql


def test_autorefresh_deferred_refresh_replays_at_commit(engine):
    """An append inside BEGIN...COMMIT must refresh dependent views at
    COMMIT time (deferred, not dropped)."""
    e = engine.execute
    _seed(e)
    e("set andb.matview_autorefresh = on")
    before = _mv_rows(e)
    e("begin")
    e("insert into base values ('d', 99)")
    assert _mv_rows(e) == before  # not yet — rows are uncommitted
    e("commit")
    assert any(r[0] == "d" for r in _mv_rows(e))
    assert _mv_rows(e) == _full_rows(e)


def test_alter_base_invalidates_lineage_and_forces_full_refresh(engine):
    """A metadata-only ALTER on the base changes no file, so the
    lineage noop/incremental check alone would wrongly report the view
    current; the ALTER must drop the anchor so REFRESH re-runs (and
    re-validates) the defining query."""
    e = engine.execute
    _seed(e)
    e("alter table base add column extra int")
    assert "matview_seen" not in engine.catalog["tables"]["mv"]
    e("refresh materialized view mv")
    assert engine.catalog["tables"]["mv"]["matview_last_refresh"] == "full"
    assert _mv_rows(e) == _full_rows(e)

    # dropping a column the view depends on: REFRESH must now raise
    # rather than serve stale data built from the dropped column
    e("alter table base drop column v")
    with pytest.raises(Exception):
        e("refresh materialized view mv")


def test_auto_compact_reanchors_current_views(engine, monkeypatch):
    """With autorefresh + auto_compact both on, a compaction event must
    not demote the continuous aggregate to O(base): the post-compaction
    re-anchor keeps the next refresh incremental."""
    e = engine.execute
    _seed(e)
    monkeypatch.setattr(type(engine), "OPTIMIZE_FILE_BYTES", 4096)
    e("set andb.matview_autorefresh = on")
    e("set andb.auto_compact = 2")
    for i in range(3):  # appends cross the threshold -> compaction runs
        e(f"insert into base values ('a', {i + 20})")
    assert _mv_rows(e) == _full_rows(e)
    e("insert into base values ('b', 30)")
    # the refresh after the compaction event stayed incremental
    assert engine.catalog["tables"]["mv"]["matview_last_refresh"] == (
        "incremental"
    )
    assert _mv_rows(e) == _full_rows(e)


def test_concurrent_select_during_incremental_refresh(engine, monkeypatch):
    """The delta partial is bound to a UNIQUE temp view, never the
    base's session-global one — a SELECT issued while the incremental
    refresh is materializing must see the FULL base table (the round-3
    rebind-restore pattern exposed the delta-only binding here)."""
    e = engine.execute
    _seed(e)
    e("insert into base values ('a', 10), ('c', 7)")
    full_n = e("select count(1) as n from base").rows[0][0]

    observed = []
    orig = AnalyticsEngine._stage_version

    def spy(self, name, df, base=None):
        if name == "mv":  # mid-refresh: the delta view is live now
            observed.append(e("select count(1) as n from base").rows[0][0])
        return orig(self, name, df, base=base)

    monkeypatch.setattr(AnalyticsEngine, "_stage_version", spy)
    e("refresh materialized view mv")
    assert engine.catalog["tables"]["mv"]["matview_last_refresh"] == (
        "incremental"
    )
    assert observed == [full_n]
    assert _mv_rows(e) == _full_rows(e)


def test_autorefresh_tracks_cow_dml_and_overwrites(engine):
    """ADVICE r3: continuous-aggregate mode must track EVERY base
    mutation, not just appends — UPDATE/DELETE (copy-on-write),
    TRUNCATE and INSERT OVERWRITE all refresh dependent views at
    commit, via the always-sound full path (lineage broke)."""
    e = engine.execute
    _seed(e)
    e("set andb.matview_autorefresh = on")

    e("update base set v = 20 where g = 'a' and v = 2")
    assert _mv_rows(e) == _full_rows(e)
    e("delete from base where g = 'b'")
    assert _mv_rows(e) == _full_rows(e)
    assert all(r[0] != "b" for r in _mv_rows(e))
    e("insert overwrite base values ('z', 5), ('z', 7)")
    assert _mv_rows(e) == _full_rows(e) == [("z", 2, 12, 5, 7, 6.0)]
    e("truncate table base")
    assert _mv_rows(e) == _full_rows(e) == []


def test_optimize_preserves_avg_state_and_stripped_state_falls_back(
    engine,
):
    """OPTIMIZE [ZORDER] of an AVG view must PRESERVE the hidden state
    pair (it reads the files' own schema, not the declared one), so
    refresh stays incremental. And if the state ever IS stripped (a
    declared-schema rewrite forced through engine internals here), the
    per-file guard must route the next refresh to the full path —
    never a silent NULL-state merge — and the one after recovers."""
    e = engine.execute
    e("create table base (g int, v int)")
    e("insert into base values (1, 1), (1, 3), (2, 8)")
    e(
        "create materialized view mv as"
        " select g, avg(v) as mean from base group by g"
    )
    e("optimize mv zorder by (g)")  # full rewrite, hidden state rides
    import pyarrow.parquet as pq

    assert all(
        "__mv_s__mean" in pq.ParquetFile(p).schema_arrow.names
        for p in engine._data_files("mv")
    )
    e("insert into base values (1, 5)")
    e("refresh materialized view mv")
    assert engine.catalog["tables"]["mv"]["matview_last_refresh"] == (
        "incremental"
    )
    assert _mv_rows(e) == [(1, 3.0), (2, 8.0)]

    # force-strip the state (declared-schema rewrite through internals
    # — the exact shape the review's corruption scenario needs)
    engine._stage_version("mv", engine._read_table("mv"))
    engine._commit_staged("mv")
    e("insert into base values (2, 2)")
    e("refresh materialized view mv")
    assert engine.catalog["tables"]["mv"]["matview_last_refresh"] == "full"
    assert _mv_rows(e) == [(1, 3.0), (2, 5.0)]
    e("insert into base values (1, 11)")
    e("refresh materialized view mv")
    assert engine.catalog["tables"]["mv"]["matview_last_refresh"] == (
        "incremental"
    )
    assert _mv_rows(e) == [(1, 5.0), (2, 5.0)]


def test_column_named_like_base_table_falls_back_to_full(engine):
    """`extract(minute from ts)` over a base table ALSO named ts: the
    FROM-token rewrite would be ambiguous, so the refresh must take
    the full path and stay correct (round-4 review finding)."""
    e = engine.execute
    e("create table ts (ts timestamp, v int)")
    e(
        "insert into ts values (timestamp '2024-01-01 00:00:10', 1),"
        " (timestamp '2024-01-01 00:00:20', 2)"
    )
    e(
        "create materialized view mvx as"
        " select sum(extract(minute from ts)) as total_minute from ts"
    )
    before = e("select * from mvx").rows
    assert before and before[0][0] is not None
    e("insert into ts values (timestamp '2024-01-01 00:01:00', 3)")
    e("refresh materialized view mvx")
    assert engine.catalog["tables"]["mvx"]["matview_last_refresh"] == "full"
    assert e("select * from mvx").rows == e(
        "select sum(extract(minute from ts)) as total_minute from ts"
    ).rows
