"""End-to-end SQL surface tests for AnalyticsEngine — the translation of
the reference's e2e smoke script (tests/unit/test_execution.py:19-60:
DDL, inserts, deletes, updates, filters, group/having, joins, index
create/use, explain) with actual result assertions the reference lacks.
"""

from __future__ import annotations

import os

import pytest

from andb_spark.api import AnalyticsEngine, EngineError
from conftest import explain_plan, fetched_plan


@pytest.fixture()
def engine(spark, tmp_path):
    return AnalyticsEngine(str(tmp_path / "wh"), spark=spark)


def test_reference_e2e_script(engine):
    """Mirrors test_execution.py:19-60 statement-for-statement (t1/t2
    fixtures from FIXTURES.md §A), asserting results."""
    e = engine.execute
    e("create table t1 (a int not null, b text)")
    assert e("insert into t1 values (1, 'aaa'), (2, 'bbb'), (3, null)").effect_rows == 3
    e("insert into t1 values (4, 'ccc'), (4, 'ccc'), (4, 'ccc')")
    # NOT NULL enforcement (relation.py:122-123 behavior)
    with pytest.raises(EngineError, match="NOT NULL"):
        e("insert into t1 values (null, 'x')")

    r = e("select a, b from t1 where a > 2 order by a")
    assert r.rows == [(3, None), (4, "ccc"), (4, "ccc"), (4, "ccc")]

    r = e("select a, count(1) as n from t1 group by a having count(1) > 1 order by a")
    assert r.rows == [(4, 3)]

    e("create table t2 (a int, city text)")
    e(
        "insert into t2 values (1, 'beijing'), (2, 'shanghai'),"
        " (3, 'guangdong'), (4, 'shenzhen')"
    )
    # implicit cross join + equi join (test_execution.py:48-55)
    r = e("select count(1) as n from t1, t2")
    assert r.rows == [(6 * 4,)]
    r = e(
        "select t1.a, t2.city from t1 join t2 on t1.a = t2.a"
        " where t1.b is not null order by t1.a, t2.city"
    )
    assert r.rows[0] == (1, "beijing") and len(r.rows) == 5

    # UPDATE with and without WHERE (update.py semantics)
    assert e("update t2 set city = 'bj' where a = 1").effect_rows == 1
    assert e("select city from t2 where a = 1").rows == [("bj",)]
    # DELETE with WHERE then full DELETE (delete.py semantics)
    assert e("delete from t1 where a = 4").effect_rows == 3
    assert e("select count(1) as n from t1").rows == [(3,)]
    assert e("delete from t1").effect_rows == 3

    # index DDL is metadata with validation (utility.py:24-40)
    e("create index idx1 on t2 (a)")
    with pytest.raises(EngineError, match="not in"):
        e("create index idx2 on t2 (nope)")
    e("drop index idx1")
    with pytest.raises(EngineError):
        e("drop index idx1")

    e("drop table t1")
    with pytest.raises(EngineError):
        e("select * from t1")

    e("checkpoint")  # no-op parity


def test_explain_two_plan_shape(engine):
    engine.execute("create table tx (a int, b double)")
    engine.execute("insert into tx values (1, 1.5), (2, 2.5)")
    r = engine.execute("explain select a, sum(b) as s from tx group by a")
    assert r.columns == ["Logical Plan", "Physical Plan"]
    logical, physical = r.rows[0]
    assert "Aggregate" in logical
    assert "HashAggregate" in physical or "SortAggregate" in physical


def test_varchar_truncation_and_types(engine):
    e = engine.execute
    e("create table tv (v varchar(3), f real, d double, bg bigint, vec vector)")
    e("insert into tv values ('abcdef', 1.5, 2.5, 9000000000, array(1.0, 2.0))")
    r = e("select v, bg, vec from tv")
    assert r.rows == [("abc", 9000000000, [1.0, 2.0])]
    # vector works with the registered cosine functions
    r = e("select round(cosine_similarity(vec, vec), 6) as cs from tv")
    assert r.rows == [(1.0,)]


def test_insert_select_and_column_list(engine):
    e = engine.execute
    e("create table src (a int, b text)")
    e("insert into src values (1, 'x'), (2, 'y')")
    e("create table dst (a int, b text)")
    assert e("insert into dst select a, b from src where a > 1").effect_rows == 1
    # column-list insert fills missing with NULL
    assert e("insert into dst (a) values (99)").effect_rows == 1
    r = e("select a, b from dst order by a")
    assert r.rows == [(2, "y"), (99, None)]


def test_update_expression_values(engine):
    """Beyond the reference (constant-only UPDATE, transformations.py:537):
    expression values work because Spark evaluates the SET expression."""
    e = engine.execute
    e("create table tu (a int, b int)")
    e("insert into tu values (1, 10), (2, 20)")
    e("update tu set b = b * 2 + a where a = 2")
    assert e("select b from tu order by a").rows == [(10,), (42,)]


def test_durability_across_engine_restart(engine, spark, tmp_path):
    engine.execute("create table keep (a int)")
    engine.execute("insert into keep values (7)")
    fresh = AnalyticsEngine(str(tmp_path / "wh"), spark=spark)
    assert fresh.execute("select a from keep").rows == [(7,)]


def test_select_over_attached_fixtures(spark, tmp_path, sf_dir):
    eng = AnalyticsEngine(str(tmp_path / "wh2"), spark=spark, attach_dir=sf_dir)
    r = eng.execute(
        "select l_returnflag, count(1) as n from lineitem"
        " where l_quantity > 30 group by l_returnflag order by l_returnflag"
    )
    assert len(r.rows) >= 2
    assert r.columns == ["l_returnflag", "n"]


def test_unsupported_statement_errors(engine):
    with pytest.raises(EngineError, match="unsupported"):
        engine.execute("frobnicate everything")


def test_time_travel_history_and_vacuum(engine):
    e = engine.execute
    e("create table tt (a int)")
    e("insert into tt values (1)")          # → v3 (v2 = empty create)
    e("insert into tt values (2)")          # → v4
    e("update tt set a = a * 10")           # → v5
    hist = e("show history for tt").rows
    assert [h[0] for h in hist] == sorted(h[0] for h in hist)
    assert hist[-1][2] is True  # current flagged

    cur = e("select a from tt order by a").rows
    assert cur == [(10,), (20,)]
    assert e("select a from tt version as of 2").rows == []  # post-create
    v3 = e("select a from tt version as of 3 order by a").rows
    assert v3 == [(1,)]
    v4 = e("select a from tt version as of 4 order by a").rows
    assert v4 == [(1,), (2,)]
    # joins across versions work (each version is just a view)
    r = e(
        "select cur.a as now, old.a as before from tt cur"
        " join tt version as of 4 old on cur.a = old.a * 10"
        " order by now"
    )
    assert r.rows == [(10, 1), (20, 2)]

    with pytest.raises(EngineError, match="not retained"):
        e("select a from tt version as of 99")

    n = e("vacuum tt").effect_rows
    assert n >= 2
    with pytest.raises(EngineError, match="not retained"):
        e("select a from tt version as of 2")
    assert e("select a from tt order by a").rows == cur  # current unaffected


def test_merge_upsert_and_delete(engine):
    e = engine.execute
    e("create table tgt (k int not null, v text, n int)")
    e("insert into tgt values (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)")
    e("create table src (k int, v text)")
    e("insert into src values (2, 'B'), (4, 'D')")

    r = e(
        "merge into tgt using src on tgt.k = src.k"
        " when matched then update set v = src.v, n = tgt.n + 1"
        " when not matched then insert (k, v) values (src.k, src.v)"
    )
    assert r.effect_rows == 2  # 1 update + 1 insert
    rows = e("select k, v, n from tgt order by k").rows
    assert rows == [(1, "a", 10), (2, "B", 21), (3, "c", 30), (4, "D", None)]

    # MATCHED DELETE branch
    r = e("merge into tgt using src on tgt.k = src.k when matched then delete")
    assert r.effect_rows == 2
    assert [r[0] for r in e("select k from tgt order by k").rows] == [1, 3]

    with pytest.raises(EngineError, match="MERGE"):
        e("merge into tgt using src on tgt.k = src.k"
          " when not matched then insert (k) values (src.k, src.v)")


def test_explain_analyze_reports_final_plan_and_rows(engine):
    e = engine.execute
    e("create table ea (a int, b int)")
    e("insert into ea values (1, 1), (2, 2), (3, 3)")
    r = e("explain analyze select a, sum(b) as s from ea group by a")
    assert r.columns == [
        "Physical Plan", "rows", "elapsed_sec", "Operator Metrics"
    ]
    plan, nrows, elapsed, metrics = r.rows[0]
    assert nrows == 3 and elapsed > 0
    assert "HashAggregate" in plan  # the plan that actually executed
    # Per-operator SQLMetric lines: the final aggregate really reports
    # its executed output rows (3 groups), operator by operator.
    agg_lines = [
        ln for ln in metrics.splitlines() if "HashAggregate" in ln
    ]
    assert agg_lines and any("numOutputRows=3" in ln for ln in agg_lines)


def test_analyze_and_show_stats(spark, tmp_path, sf_dir):
    eng = AnalyticsEngine(str(tmp_path / "wh3"), spark=spark, attach_dir=sf_dir)
    r = eng.execute("analyze nation")
    assert r.rows == [("nation", 25, 3)]
    stats = {row[0]: row for row in eng.execute("show stats for nation").rows}
    col, table_rows, nulls, ndv, mn, mx = stats["n_nationkey"]
    assert table_rows == 25 and nulls == 0
    assert 20 <= ndv <= 30  # HLL approximation of 25
    assert (mn, mx) == ("0", "24")
    with pytest.raises(EngineError, match="ANALYZE"):
        eng.execute("show stats for region")


def test_ann_access_path_selection(spark, tmp_path, sf_dir):
    eng = AnalyticsEngine(str(tmp_path / "wh4"), spark=spark, attach_dir=sf_dir)
    qv = eng.spark.table("embeddings").filter("vec_id = 0").head()["embedding"]
    lit = ", ".join(repr(float(x)) for x in qv)
    q = (
        f"select vec_id, cosine_distance(embedding, array({lit})) as d"
        f" from embeddings order by d limit 5"
    )
    exact = eng.execute(q)  # default mode: plain Spark SQL, no rewrite
    assert "andb.last_ann_path" not in eng.session_vars

    with pytest.raises(EngineError, match="ann_mode"):
        eng.execute("set andb.ann_mode = bogus")
    # every andb.* setting is checked when it is SET, not when a later
    # statement reads it; an unknown andb.* name is refused by name
    for bad in (
        "andb.stage_sizing_max_bytes = abc",
        "andb.stage_target_file_bytes = -1",
        "andb.range_bucket_seconds = 0",
        "andb.range_bucket_seconds = 1.5",
        "andb.zone_prune = maybe",
        "andb.merge_dup_check = off",
        "andb.no_such_setting = 1",
    ):
        with pytest.raises(EngineError, match=bad.split(" =")[0]):
            eng.execute(f"set {bad}")

    # auto + no stats → exact path (safety default)
    eng.execute("set andb.ann_mode = auto")
    auto = eng.execute(q)
    assert eng.session_vars["andb.last_ann_path"] == "exact"
    assert [r[0] for r in auto.rows] == [r[0] for r in exact.rows]

    # auto + stats saying the table is tiny → still exact
    eng.execute("analyze embeddings")
    eng.execute(q)
    assert eng.session_vars["andb.last_ann_path"] == "exact"

    # forced lsh → bucket probe; results are a subset of the corpus
    # ranked exactly within the probed buckets
    eng.execute("set andb.ann_mode = lsh")
    expl = eng.execute(f"explain {q}")
    assert "vector access path: lsh" in expl.rows[0][0]
    # ... and EXPLAIN plans the LSH probe it names, not the exact scan
    assert explain_plan(eng, q) == fetched_plan(eng, q)
    lsh = eng.execute(q)
    assert eng.session_vars["andb.last_ann_path"] == "lsh"
    assert eng.execute("show var andb.last_ann_path").rows == [
        ("andb.last_ann_path", "lsh")
    ]
    assert lsh.columns == ["vec_id", "d"]
    assert 0 < len(lsh.rows) <= 5
    # distances ascend, and vec_id 0 itself (distance 0) tops the list
    ds = [r[1] for r in lsh.rows]
    assert ds == sorted(ds) and lsh.rows[0][0] == 0


def test_ctas_and_alter_table(engine):
    e = engine.execute
    e("create table base (a int, b text)")
    e("insert into base values (1, 'x'), (2, 'y'), (3, 'z')")
    r = e("create table derived as select a, b from base where a >= 2")
    assert r.effect_rows == 2

    e("alter table derived add column score double")
    assert e("select a, b, score from derived order by a").rows == [
        (2, "y", None),
        (3, "z", None),
    ]
    e("alter table derived rename column b to label")
    assert e("select label from derived order by a").rows == [("y",), ("z",)]
    e("alter table derived drop column score")
    assert e("select * from derived order by a").columns == ["a", "label"]

    import pytest as _pytest

    with _pytest.raises(EngineError, match="already exists"):
        e("alter table derived add column a int")
    with _pytest.raises(EngineError, match="not in"):
        e("alter table derived drop column nope")


def test_limit_offset_dialect(engine):
    """AnDB's MySQL-style `LIMIT off,n` (parser_.py:138-148)."""
    e = engine.execute
    e("create table tl (a int)")
    e("insert into tl values (1), (2), (3), (4), (5)")
    assert e("select a from tl order by a limit 1, 2").rows == [(2,), (3,)]
    assert e("select a from tl order by a limit 2").rows == [(1,), (2,)]


def test_transaction_rollback_and_commit(engine):
    """Mirrors the reference's transaction-abort e2e assertions
    (tests/unit/test_execution.py:64-130): post-abort table contents
    equal the pre-transaction rows; committed changes survive."""
    e = engine.execute
    e("create table tx1 (a int, b text)")
    e("insert into tx1 values (1, 'a1'), (2, 'b2')")
    old_rows = e("select * from tx1 order by a").rows

    # abort an update + insert + delete
    e("begin")
    e("update tx1 set b = 'changed' where a = 1")
    e("insert into tx1 values (9, '九')")
    e("delete from tx1 where a = 2")
    assert e("select count(1) as n from tx1").rows == [(2,)]
    e("rollback")
    assert e("select * from tx1 order by a").rows == old_rows

    # abort a DROP TABLE
    e("begin")
    e("drop table tx1")
    e("rollback")
    assert e("select * from tx1 order by a").rows == old_rows

    # abort a CREATE TABLE
    e("begin")
    e("create table tx2 (x int)")
    e("rollback")
    import pytest as _pytest
    with _pytest.raises(EngineError):
        e("select * from tx2")

    # commit persists
    e("begin")
    e("update tx1 set b = 'done' where a = 1")
    e("commit")
    assert e("select b from tx1 where a = 1").rows == [("done",)]

    with _pytest.raises(EngineError, match="no transaction"):
        e("commit")
    e("begin")
    with _pytest.raises(EngineError, match="already in progress"):
        e("begin")
    e("rollback")


def test_materialized_view_create_refresh_drop(engine):
    e = engine.execute
    e("create table base (k int, v int)")
    e("insert into base values (1, 10), (1, 20), (2, 5)")
    r = e(
        "create materialized view mv as"
        " select k, sum(v) as total from base group by k"
    )
    assert r.effect_rows == 2
    assert e("select k, total from mv order by k").rows == [(1, 30), (2, 5)]

    # matview is stale until REFRESH (snapshot semantics), then catches up
    e("insert into base values (2, 95)")
    assert e("select total from mv where k = 2").rows == [(5,)]
    assert e("refresh materialized view mv").effect_rows == 2
    assert e("select total from mv where k = 2").rows == [(100,)]

    # direct DML into a matview is rejected
    with pytest.raises(EngineError, match="materialized view"):
        e("delete from mv")
    with pytest.raises(EngineError, match="not a materialized view"):
        e("refresh materialized view base")

    e("drop materialized view mv")
    with pytest.raises(EngineError, match="does not exist"):
        e("refresh materialized view mv")


def test_optimize_compacts_files_and_preserves_rows(engine):
    e = engine.execute
    e("create table opt (a int, b int)")
    # Each insert writes its own version; within a version each insert's
    # frame may span several part files — the small-file shape.
    for i in range(4):
        e(f"insert into opt select id, id * 2 from range({i * 10}, {i * 10 + 10})")
    before = e("select count(1) as n from opt").rows[0][0]
    r = e("optimize opt")
    assert r.columns == ["files_before", "files_after", "rows"]
    files_before, files_after, nrows = r.rows[0]
    assert nrows == before == 40
    assert files_after <= files_before and files_after == 1  # tiny table
    assert e("select count(1) as n from opt").rows[0][0] == 40
    # ZORDER form clusters while compacting, same contents.
    r2 = e("optimize opt zorder by (a, b)")
    assert r2.rows[0][2] == 40
    got = sorted(t for t, in e("select a from opt").rows)
    assert got == list(range(0, 40))


def test_system_catalog_relations(engine):
    """SQL-selectable system catalog — parity with the reference's
    SystemTableScan over andb_class/andb_attribute/andb_index
    (select.py:407-417): catalog relations join and filter like any
    table, and DDL is reflected immediately."""
    e = engine.execute
    e("create table sc1 (a int not null, b text)")
    e("create table sc2 (x double)")
    e("create index sc1_a on sc1 (a)")

    r = e("select table_name, column_count from andb_tables order by table_name")
    assert r.rows == [("sc1", 2), ("sc2", 1)]

    r = e(
        "select column_name, type_name, notnull from andb_columns "
        "where table_name = 'sc1' order by ordinal"
    )
    assert r.rows == [("a", "int", True), ("b", "text", False)]

    # catalog relations join like any other relation
    r = e(
        "select t.table_name, i.index_name, i.method from andb_tables t "
        "join andb_indexes i on t.table_name = i.table_name"
    )
    assert r.rows == [("sc1", "sc1_a", "btree")]

    # DDL reflects immediately: drops disappear from the views
    e("drop index sc1_a")
    e("drop table sc2")
    assert e("select count(*) as n from andb_indexes").rows == [(0,)]
    r = e("select table_name from andb_tables")
    assert r.rows == [("sc1",)]


def test_select_result_is_driver_bounded(engine):
    """An unbounded SELECT must not materialize fully on the driver:
    the row cap is pushed into the plan (CollectLimit) and the result
    carries a truncation warning (VERDICT r1 item 6)."""
    e = engine.execute
    e("create table big as select explode(sequence(1, 5000)) as n")
    e("set andb.max_result_rows = 100")
    r = e("select n from big")
    assert len(r.rows) == 100
    assert r.warning and "truncated" in r.warning
    # under the cap: untouched, no warning
    r = e("select n from big order by n limit 7")
    assert [t[0] for t in r.rows] == [1, 2, 3, 4, 5, 6, 7]
    assert r.warning is None
    e("set andb.max_result_rows = 1000000")


def test_explain_analyze_does_not_collect(engine):
    """EXPLAIN ANALYZE executes the plan for real metrics but ships only
    counts to the driver (no row materialization)."""
    e = engine.execute
    e("create table ea as select explode(sequence(1, 1000)) as n")
    r = e("explain analyze select n from ea where n % 2 = 0")
    (plan, rows, elapsed, metrics) = r.rows[0]
    assert rows == 500
    assert "numOutputRows" in metrics


def test_overwrite_all_is_all_or_nothing(engine, monkeypatch):
    """Multi-table atomic overwrite (ADVICE r1): a failure before the
    single catalog-save commit point leaves every table at its old
    version and no staging markers behind."""
    e = engine.execute
    e("create table ta (x int)")
    e("create table tb (y int)")
    e("insert into ta values (1)")
    e("insert into tb values (2)")
    before = {t: engine.catalog["tables"][t]["vnum"] for t in ("ta", "tb")}

    real = engine._stage_version

    def failing(name, df):
        if name == "tb":
            raise RuntimeError("disk full")
        return real(name, df)

    monkeypatch.setattr(engine, "_stage_version", failing)
    df1 = engine.spark.sql("select 10 as x")
    df2 = engine.spark.sql("select 20 as y")
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        engine._overwrite_all({"ta": df1, "tb": df2})
    monkeypatch.setattr(engine, "_stage_version", real)
    # no partial commit: pointers unmoved, no staged markers, data intact
    for t in ("ta", "tb"):
        assert engine.catalog["tables"][t]["vnum"] == before[t]
        assert "_staged" not in engine.catalog["tables"][t]
    assert e("select x from ta").rows == [(1,)]
    assert e("select y from tb").rows == [(2,)]
    # and the success path moves both in one commit
    engine._overwrite_all(
        {"ta": df1, "tb": df2}, extra_meta={"ta": {"last_stream_batch": 7}}
    )
    assert e("select x from ta").rows == [(10,)]
    assert e("select y from tb").rows == [(20,)]
    assert engine.catalog["tables"]["ta"]["last_stream_batch"] == 7


def test_reserved_catalog_names_and_set_validation(engine):
    e = engine.execute
    with pytest.raises(EngineError, match="reserved"):
        e("create table andb_tables (x int)")
    with pytest.raises(EngineError, match="reserved"):
        e("create table ANDB_INDEXES as select 1 as x")
    with pytest.raises(EngineError, match="positive integer"):
        e("set andb.max_result_rows = 1e6")
    with pytest.raises(EngineError, match="positive integer"):
        e("set andb.max_result_rows = abc")
    e("set andb.max_result_rows = 500")  # valid value still accepted
    e("set andb.max_result_rows = 1000000")


def test_show_tables_and_describe(engine):
    e = engine.execute
    e("create table st_a (x int not null, name varchar(10))")
    e("create materialized view st_mv as select count(*) as n from st_a")
    r = e("show tables")
    assert r.columns == ["table_name", "n_columns", "version", "is_matview"]
    by_name = {row[0]: row for row in r.rows}
    assert by_name["st_a"][3] is False and by_name["st_mv"][3] is True
    r = e("describe st_a")
    assert r.rows == [("x", "int", False), ("name", "varchar(10)", True)]
    assert e("desc st_mv").rows == [("n", "bigint", True)]
    with pytest.raises(EngineError, match="does not exist"):
        e("describe nope")


def test_truncate_and_insert_overwrite(engine):
    e = engine.execute
    e("create table tio (a int not null, b text)")
    e("insert into tio values (1, 'x'), (2, 'y')")
    v_before = engine._meta("tio")["vnum"]
    e("truncate table tio")
    assert e("select count(1) as n from tio").rows == [(0,)]
    # time-travel-reversible: the pre-truncate version is retained
    assert sorted(
        e(f"select a from tio version as of {v_before}").rows
    ) == [(1,), (2,)]

    e("insert overwrite tio values (9, 'z'), (10, 'w')")
    assert sorted(e("select a, b from tio").rows) == [(9, "z"), (10, "w")]
    e("insert overwrite tio select a + 100, b from tio")
    assert sorted(e("select a from tio").rows) == [(109,), (110,)]
    # constraints still enforced on the overwrite path
    with pytest.raises(EngineError, match="NOT NULL"):
        e("insert overwrite tio values (null, 'bad')")
    # and the failed overwrite left the table untouched
    assert sorted(e("select a from tio").rows) == [(109,), (110,)]
    # matviews reject both
    e("create materialized view tio_mv as select count(*) as n from tio")
    with pytest.raises(EngineError, match="materialized view"):
        e("truncate table tio_mv")
    with pytest.raises(EngineError, match="materialized view"):
        e("insert overwrite tio_mv values (1)")


def test_ddl_if_exists_variants(engine):
    """CREATE TABLE IF NOT EXISTS / DROP TABLE|INDEX|MATERIALIZED VIEW
    IF EXISTS: idempotent DDL, warning instead of error."""
    e = engine.execute
    e("create table ie (a int)")
    r = e("create table if not exists ie (a int, b text)")
    assert r.warning and "exists" in r.warning
    # the original schema survives (the second create was a no-op)
    assert [c["name"] for c in engine._meta("ie")["columns"]] == ["a"]
    e("create table if not exists ie2 (x int)")
    assert "ie2" in engine.catalog["tables"]

    r = e("drop table if exists nope")
    assert r.warning and "not exist" in r.warning
    e("drop table if exists ie2")
    assert "ie2" not in engine.catalog["tables"]
    r = e("drop index if exists no_idx")
    assert r.warning
    e("create index ie_a on ie (a)")
    e("drop index if exists ie_a")
    assert "ie_a" not in engine.catalog["indexes"]

    e("insert into ie values (1)")
    e("create materialized view iem as select count(*) as n from ie")
    e("drop materialized view if exists iem")
    assert "iem" not in engine.catalog["tables"]
    r = e("drop materialized view if exists iem")
    assert r.warning

    # plain forms still error
    from andb_spark.api import EngineError

    with pytest.raises(EngineError):
        e("create table ie (a int)")
    with pytest.raises(EngineError):
        e("drop table nope")


def test_execute_releases_statement_scoped_caches(engine, spark):
    """Statement boundary = cache boundary (ADVICE r4): frames/
    broadcasts registered with the caching registry DURING an execute()
    are released before it returns (a REPL session must not accumulate
    pinned executor memory), while entries registered BEFORE the
    statement — a longer-lived caller's state — survive untouched."""
    from andb_spark import caching

    pre = caching.persist_tracked(spark.range(5))
    try:
        orig = engine._select

        def pinning_select(stmt):
            caching.persist_tracked(spark.range(10).selectExpr("id * 2 AS x"))
            return orig(stmt)

        engine._select = pinning_select
        try:
            r = engine.execute("select 1 as x")
            assert r.rows == [(1,)]
        finally:
            engine._select = orig
        # the statement's pin is gone; the pre-existing one survives
        assert caching._LIVE_CACHES == [pre]
        assert pre.storageLevel.useMemory  # still actually persisted
        # errors release too
        engine._select = pinning_select
        try:
            with pytest.raises(EngineError):
                engine.execute("select * from no_such_table_xyz")
        finally:
            engine._select = orig
        assert caching._LIVE_CACHES == [pre]
    finally:
        caching.release_caches()
    assert caching._LIVE_CACHES == []


def test_warehouse_lock_single_writer(spark, tmp_path, monkeypatch):
    """The advisory per-warehouse lock makes one-process-per-warehouse
    mechanical (VERDICT r4 #5): a second PROCESS fails fast naming the
    owner pid; a dead owner's lock is taken over silently; close()
    releases; ANDB_FORCE_RECOVERY overrides pid recycling."""
    import json as _json
    import os as _os
    import subprocess

    wh = str(tmp_path / "whlock")
    eng = AnalyticsEngine(wh, spark=spark)
    lock = eng._lock_path
    assert _json.load(open(lock))["pid"] == _os.getpid()

    # same process: re-entrant (the restart-simulation pattern)
    eng_b = AnalyticsEngine(wh, spark=spark)
    assert _json.load(open(lock))["pid"] == _os.getpid()

    # live foreign owner: refuse, naming the pid (pid 1 is always live)
    _json.dump({"pid": 1}, open(lock, "w"))
    with pytest.raises(EngineError, match="locked by live process 1"):
        AnalyticsEngine(wh, spark=spark)

    # ...unless the escape hatch says the pid is recycled
    monkeypatch.setenv("ANDB_FORCE_RECOVERY", "1")
    AnalyticsEngine(wh, spark=spark)
    assert _json.load(open(lock))["pid"] == _os.getpid()
    monkeypatch.delenv("ANDB_FORCE_RECOVERY")

    # dead owner: silent takeover (crash = release)
    proc = subprocess.Popen(["true"])
    proc.wait()
    _json.dump({"pid": proc.pid}, open(lock, "w"))
    eng_c = AnalyticsEngine(wh, spark=spark)
    assert _json.load(open(lock))["pid"] == _os.getpid()
    eng_c.execute("create table lk (a int)")  # still fully usable

    # close() releases; a "foreign-process" lock is left alone
    eng_c.close()
    assert not _os.path.exists(lock)
    _json.dump({"pid": 1}, open(lock, "w"))
    eng_b.close()  # not ours anymore — must not remove, must not raise
    assert _os.path.exists(lock)
    _os.remove(lock)


def test_asof_join_sql_surface(spark, tmp_path):
    """ASOF JOIN SQL (api.py::_rewrite_asof, DuckDB-compatible subset):
    backward (t >= t2) and forward (t <= t2) directions, inner drops
    unmatched probes while LEFT keeps them with NULLs, equality keys
    compose, EXPLAIN shows the union+window plan, and malformed ON
    clauses fail loudly. Expected rows verified against DuckDB's
    native ASOF JOIN (the oracle row u_asof_sql grades the same
    surface at corpus scale)."""
    eng = AnalyticsEngine(str(tmp_path / "whasof"), spark=spark)
    e = eng.execute
    e("create table trades (tid int, sym varchar(8), t int)")
    e(
        "insert into trades values (1,'A',3),(2,'A',7),(3,'B',5),"
        "(4,'B',1),(5,'C',9)"
    )
    e("create table quotes (sym varchar(8), qt int, px double)")
    e("insert into quotes values ('A',2,1.5),('A',6,1.7),('B',4,2.0),('B',8,2.2)")

    inner = e(
        "select tid, qt, px from trades tr asof join quotes q"
        " on tr.sym = q.sym and tr.t >= q.qt order by tid"
    )
    assert inner.rows == [(1, 2, 1.5), (2, 6, 1.7), (3, 4, 2.0)]

    left = e(
        "select tid, qt, px from trades tr asof left join quotes q"
        " on tr.sym = q.sym and tr.t >= q.qt order by tid"
    )
    assert left.rows == [
        (1, 2, 1.5), (2, 6, 1.7), (3, 4, 2.0),
        (4, None, None), (5, None, None),
    ]

    fwd = e(
        "select tid, qt, px from trades tr asof join quotes q"
        " on tr.sym = q.sym and tr.t <= q.qt order by tid"
    )
    assert fwd.rows == [(1, 6, 1.7), (3, 8, 2.2), (4, 4, 2.0)]

    # flipped operand order normalizes (q.qt <= tr.t == tr.t >= q.qt)
    flipped = e(
        "select tid, qt, px from trades tr asof join quotes q"
        " on q.sym = tr.sym and q.qt <= tr.t order by tid"
    )
    assert flipped.rows == inner.rows

    # EXPLAIN goes through the same rewrite: union+window plan, no error
    ex = e(
        "explain select tid, px from trades tr asof join quotes q"
        " on tr.sym = q.sym and tr.t >= q.qt"
    )
    assert "Window" in ex.rows[0][1]

    # the per-statement temp views are dropped (bounded, no leak)
    leftovers = [
        v.name for v in spark.catalog.listTables() if v.name.startswith("_asof_")
    ]
    assert leftovers == []

    with pytest.raises(EngineError, match="inclusive"):
        e(
            "select tid from trades tr asof join quotes q"
            " on tr.sym = q.sym and tr.t > q.qt"
        )
    with pytest.raises(EngineError, match="no time inequality"):
        e(
            "select tid from trades tr asof join quotes q"
            " on tr.sym = q.sym"
        )
    with pytest.raises(EngineError, match="more than one"):
        e(
            "select tid from trades tr asof join quotes q"
            " on tr.t >= q.qt and tr.tid >= q.px"
        )
    eng.close()


def test_asof_composes_with_version_and_cte(spark, tmp_path):
    """Composability of the ASOF SQL surface (r6 verdict gap #1): a
    VERSION AS OF side resolves through the time-travel view
    substitution that runs before the asof rewrite, a CTE side binds
    via _bind_ctes_for_surfaces, and EXPLAIN walks the identical
    composed path without leaking per-statement views."""
    eng = AnalyticsEngine(str(tmp_path / "whasofv"), spark=spark)
    e = eng.execute
    e("create table vtrades (tid int, sym varchar(8), t int)")
    e("insert into vtrades values (1,'A',3),(2,'A',7)")         # v3
    e("insert into vtrades values (3,'A',9)")                   # v4
    e("create table vquotes (sym varchar(8), qt int, px double)")
    e("insert into vquotes values ('A',2,1.5),('A',6,1.7)")

    # time-travel left side: version 3 predates tid=3
    r = e(
        "select tid, qt from vtrades version as of 3 tr"
        " asof join vquotes q on tr.sym = q.sym and tr.t >= q.qt"
        " order by tid"
    )
    assert r.rows == [(1, 2), (2, 6)]

    # CTE side + version side in one statement
    r = e(
        "with recent as (select sym, qt, px from vquotes where qt > 3)"
        " select tid, qt from vtrades version as of 3 tr"
        " asof left join recent on tr.sym = recent.sym"
        " and tr.t >= recent.qt order by tid"
    )
    assert r.rows == [(1, None), (2, 6)]

    ex = e(
        "explain with recent as (select sym, qt, px from vquotes)"
        " select tid from vtrades tr asof join recent"
        " on tr.sym = recent.sym and tr.t >= recent.qt"
    )
    assert "asof join" in ex.rows[0][1].lower() or "Window" in ex.rows[0][1]

    leftovers = [
        v.name for v in spark.catalog.listTables()
        if v.name.startswith(("_asof_", "_cte_"))
    ]
    assert leftovers == []
    eng.close()


def test_range_join_rewrite_is_transparent(spark, tmp_path):
    """The transparent point-in-interval optimization (api.py::
    _rewrite_range_join): a plain inner JOIN with equalities + one
    cross-table BETWEEN substitutes the bucketed equi-join plan —
    same rows, no nested loop — while every other shape (pure equi,
    outer joins, non-conforming ON) passes through to Spark
    untouched."""
    eng = AnalyticsEngine(str(tmp_path / "whrj"), spark=spark)
    e = eng.execute
    e("create table pts (pid int, u int, t int)")
    e("insert into pts values (1,1,5),(2,1,50),(3,2,7),(4,2,100)")
    e("create table iv (iid int, u int, lo int, hi int)")
    e("insert into iv values (10,1,0,10),(11,1,40,60),(12,2,6,8),(13,3,0,999)")

    r = e(
        "select pid, iid from pts p join iv i on p.u = i.u"
        " and p.t between i.lo and i.hi order by pid, iid"
    )
    assert r.rows == [(1, 10), (2, 11), (3, 12)]

    # the substituted plan is an equi-join, not a nested loop, and
    # EXPLAIN says the rewrite fired (a keyed BETWEEN would otherwise
    # silently fall back to Spark's SMJ-with-filter, which also has no
    # NestedLoop — the header is the real rewrite-fired signal)
    ex = e(
        "explain select pid, iid from pts p join iv i on p.u = i.u"
        " and p.t between i.lo and i.hi"
    )
    phys = ex.rows[0][1]
    assert "NestedLoop" not in phys and "Cartesian" not in phys, phys
    assert "range join: bucketed" in ex.rows[0][0]

    # PURE point-in-interval (no equi key) — the shape Spark itself
    # can only nested-loop. The rewrite makes it a bucket equi-join.
    pure = e(
        "select pid, iid from pts p join iv i"
        " on p.t between i.lo and i.hi order by pid, iid"
    )
    assert pure.rows == [
        (1, 10), (1, 13), (2, 11), (2, 13),
        (3, 10), (3, 12), (3, 13), (4, 13),
    ]
    ex = e(
        "explain select pid, iid from pts p join iv i"
        " on p.t between i.lo and i.hi"
    )
    phys = ex.rows[0][1]
    assert "NestedLoop" not in phys and "Cartesian" not in phys, phys
    assert "range join: bucketed" in ex.rows[0][0]

    # pure equi join: untouched (no _rj_ view, ordinary plan)
    assert e(
        "select count(1) as n from pts p join iv i on p.u = i.u"
    ).rows == [(6,)]

    # LEFT join with BETWEEN: not the supported shape — Spark plans it,
    # semantics preserved (unmatched point kept)
    r = e(
        "select pid, iid from pts p left join iv i on p.u = i.u"
        " and p.t between i.lo and i.hi order by pid, iid"
    )
    assert r.rows == [(1, 10), (2, 11), (3, 12), (4, None)]

    # per-statement views dropped
    leftovers = [
        v.name for v in spark.catalog.listTables() if v.name.startswith("_rj_")
    ]
    assert leftovers == []
    eng.close()


def test_qualify_clause(spark, tmp_path):
    """QUALIFY (api.py::_rewrite_qualify — DuckDB/Snowflake window
    filter, absent from Spark SQL): predicate over inline window
    functions, over select-list aliases (lateral alias resolution),
    and composed with trailing ORDER BY/LIMIT. Expected rows verified
    against DuckDB's native QUALIFY."""
    eng = AnalyticsEngine(str(tmp_path / "whq"), spark=spark)
    e = eng.execute
    e("create table sales (region varchar(8), rep varchar(8), amt int)")
    e(
        "insert into sales values ('E','a',10),('E','b',30),('E','c',20),"
        "('W','d',5),('W','e',50)"
    )
    top1 = e(
        "select region, rep, amt from sales qualify row_number() over"
        " (partition by region order by amt desc, rep) = 1 order by region"
    )
    assert top1.rows == [("E", "b", 30), ("W", "e", 50)]

    via_alias = e(
        "select region, rep, amt, rank() over (partition by region"
        " order by amt desc) as rk from sales qualify rk <= 2"
        " order by region, rk"
    )
    assert via_alias.rows == [
        ("E", "b", 30, 1), ("E", "c", 20, 2),
        ("W", "e", 50, 1), ("W", "d", 5, 2),
    ]

    limited = e(
        "select region, rep, amt from sales qualify row_number() over"
        " (partition by region order by amt desc, rep) <= 2"
        " order by amt desc limit 2"
    )
    assert limited.rows == [("W", "e", 50), ("E", "b", 30)]

    # per-statement views dropped
    assert [
        v.name for v in spark.catalog.listTables()
        if v.name.startswith("_qualify_")
    ] == []
    eng.close()


def test_distinct_on_clause(spark, tmp_path):
    """DISTINCT ON (api.py::_rewrite_distinct_on): first row per key
    group under the statement's ORDER BY, rewritten through QUALIFY.
    Enforces the Postgres contract — ORDER BY must lead with the ON
    keys and carry a tiebreak. Expected rows verified against DuckDB's
    native DISTINCT ON."""
    eng = AnalyticsEngine(str(tmp_path / "whdon"), spark=spark)
    e = eng.execute
    e("create table logs (u int, ts int, msg varchar(8))")
    e("insert into logs values (1,5,'a'),(1,9,'b'),(2,3,'c'),(2,1,'d')")
    r = e(
        "select distinct on (u) u, ts, msg from logs order by u, ts desc"
    )
    assert r.rows == [(1, 9, "b"), (2, 3, "c")]
    r = e(
        "select distinct on (u) u, ts, msg from logs"
        " order by u, ts desc limit 1"
    )
    assert r.rows == [(1, 9, "b")]
    with pytest.raises(EngineError, match="tiebreak"):
        e("select distinct on (u) u, ts from logs order by u")
    with pytest.raises(EngineError, match="must start with"):
        e("select distinct on (u) u, ts from logs order by ts desc, u")
    eng.close()


def test_distinct_on_function_expression_key(spark, tmp_path):
    """Regression (r6 verdict #1): a DISTINCT ON key holding a nested
    function call — ``date_trunc('day', ts)`` — must be parsed by the
    paren-aware scanner. The pre-hardening ``[^)]+`` regex stopped at
    the first close paren, left the statement unrewritten, and Spark
    died on the unknown syntax. Expected rows verified against
    DuckDB's native DISTINCT ON on the same data."""
    eng = AnalyticsEngine(str(tmp_path / "whdonf"), spark=spark)
    e = eng.execute
    e("create table hits (ts timestamp, score int, tag varchar(8))")
    e(
        "insert into hits values"
        " (timestamp '2024-01-01 03:00:00', 5, 'a'),"
        " (timestamp '2024-01-01 17:00:00', 9, 'b'),"
        " (timestamp '2024-01-02 08:00:00', 2, 'c'),"
        " (timestamp '2024-01-02 01:00:00', 7, 'd')"
    )
    # latest row of each calendar day (key = nested function call)
    r = e(
        "select distinct on (date_trunc('day', ts)) tag, score from hits"
        " order by date_trunc('day', ts), ts desc"
    )
    assert r.rows == [("b", 9), ("c", 2)]
    # key expression with a string literal containing parens/keywords
    r = e(
        "select distinct on (concat(tag, '(order by)')) tag from hits"
        " where tag = 'a'"
        " order by concat(tag, '(order by)'), ts desc"
    )
    assert r.rows == [("a",)]
    with pytest.raises(EngineError, match="must start with"):
        e(
            "select distinct on (date_trunc('day', ts)) tag from hits"
            " order by ts, score"
        )
    eng.close()


def test_no_shadowed_class_methods():
    """AST lint (r6 verdict #1): no class in andb_spark/ may define the
    same method name twice — Python silently keeps the later body, so
    a stale duplicate shadows its hardened twin (this bit DISTINCT ON
    in r6 and a workload class earlier; this test ends the class)."""
    import ast as _ast
    root = os.path.join(os.path.dirname(__file__), "..", "andb_spark")
    offenders = []
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            tree = _ast.parse(open(path).read(), filename=path)
            for node in _ast.walk(tree):
                if not isinstance(node, _ast.ClassDef):
                    continue
                seen: dict = {}
                for item in node.body:
                    if isinstance(
                        item, (_ast.FunctionDef, _ast.AsyncFunctionDef)
                    ):
                        if item.name in seen:
                            offenders.append(
                                f"{path}:{item.lineno} {node.name}."
                                f"{item.name} (first at {seen[item.name]})"
                            )
                        else:
                            seen[item.name] = item.lineno
    assert not offenders, f"shadowed class methods: {offenders}"


def test_insert_on_conflict(spark, tmp_path):
    """INSERT .. ON CONFLICT (api.py::_insert_on_conflict): DO UPDATE
    with excluded references, DO NOTHING keep-first over duplicate
    source keys, and the Postgres cannot-affect-row-twice error for
    DO UPDATE with intra-source duplicate keys."""
    eng = AnalyticsEngine(str(tmp_path / "whoc"), spark=spark)
    e = eng.execute
    e("create table kv (k int not null, v varchar(8))")
    e("insert into kv values (1,'a'),(2,'b')")

    r = e(
        "insert into kv values (2,'B2'),(3,'c')"
        " on conflict (k) do update set v = excluded.v"
    )
    assert r.effect_rows == 2  # 1 update + 1 insert (MERGE accounting)
    assert e("select k, v from kv order by k").rows == [
        (1, "a"), (2, "B2"), (3, "c"),
    ]

    # DO NOTHING: existing key untouched, first new dup wins, rest skip
    e(
        "insert into kv values (3,'zzz'),(4,'d'),(4,'dup')"
        " on conflict (k) do nothing"
    )
    assert e("select k, v from kv order by k").rows == [
        (1, "a"), (2, "B2"), (3, "c"), (4, "d"),
    ]

    with pytest.raises(EngineError, match="second time"):
        e(
            "insert into kv values (9,'x'),(9,'y')"
            " on conflict (k) do update set v = excluded.v"
        )
    # failed upsert mutated nothing
    assert e("select count(1) as n from kv").rows == [(4,)]

    with pytest.raises(EngineError, match="not in the insert column"):
        e("insert into kv values (5,'e') on conflict (nope) do nothing")

    # ADVICE r6: a trailing DO UPDATE ... WHERE is Postgres-legal but
    # unsupported here — refuse by name, don't let the greedy SET
    # group feed it to MERGE as a confusing parse error
    with pytest.raises(EngineError, match="WHERE is not supported"):
        e(
            "insert into kv values (1,'w') on conflict (k)"
            " do update set v = excluded.v where kv.v <> 'a'"
        )
    # ADVICE r6: 'excluded.' inside a string literal is data; only
    # real references rewrite to the source view
    e("create table kw (k int not null, v varchar(32))")
    e("insert into kw values (1,'a')")
    e(
        "insert into kw values (1,'lit') on conflict (k)"
        " do update set v = 'contact excluded.support'"
    )
    assert e("select v from kw where k = 1").rows == [
        ("contact excluded.support",)
    ]
    eng.close()


def test_sql_rewrite_robustness(spark, tmp_path):
    """Hardening cases from the r6 review of the SQL-surface rewrite
    layer: keyword detection must respect string literals and
    identifier boundaries, shadowed columns must error rather than
    silently resolve to the other table, QUALIFY must compose with
    SELECT DISTINCT in Snowflake's filter-then-distinct order, and
    DISTINCT ON must accept function expressions in keys/tiebreaks."""
    eng = AnalyticsEngine(str(tmp_path / "whrob"), spark=spark)
    e = eng.execute

    # 'qualify' inside a string literal is data, not a clause
    e("create table notes (k int, note varchar(32))")
    e("insert into notes values (1, 'does not qualify'), (2, 'ok')")
    r = e("select k from notes where note = 'does not qualify'")
    assert r.rows == [(1,)]

    # identifier containing an embedded keyword ('price_from' holds
    # 'from'; 'blimit' holds 'limit') must not confuse QUALIFY parsing
    e("create table px (grp int, price_from int, blimit int)")
    e("insert into px values (1, 10, 5), (1, 20, 6), (2, 30, 7)")
    r = e(
        "select grp, price_from, blimit from px qualify row_number()"
        " over (partition by grp order by price_from desc, blimit) = 1"
        " order by grp"
    )
    assert r.rows == [(1, 20, 6), (2, 30, 7)]

    # QUALIFY + SELECT DISTINCT: filter FIRST, then distinct
    e("create table dupes (region varchar(4), amt int)")
    e(
        "insert into dupes values ('E', 1), ('E', 1), ('E', 9),"
        " ('W', 2), ('W', 2)"
    )
    r = e(
        "select distinct region from dupes qualify"
        " rank() over (partition by region order by amt) = 1"
        " order by region"
    )
    assert r.rows == [("E",), ("W",)]

    # ASOF: referencing a right column shadowed by a same-named left
    # column errors loudly (never silently returns the left's values)
    e("create table tr2 (tid int, sym varchar(4), t int)")
    e("insert into tr2 values (1, 'A', 5)")
    e("create table qu2 (sym varchar(4), qt int)")
    e("insert into qu2 values ('A', 3)")
    with pytest.raises(EngineError, match="shadowed"):
        e(
            "select tid, q.sym from tr2 tr asof left join qu2 q"
            " on tr.sym = q.sym and tr.t >= q.qt"
        )

    # ...and a failed rewrite leaks no per-statement views
    assert [
        v.name for v in spark.catalog.listTables()
        if v.name.startswith(("_asof_", "_rj_", "_qualify_"))
    ] == []

    # DISTINCT ON with a function expression key and a function
    # tiebreak (paren-aware splitting)
    e("create table ev2 (u int, ts int)")
    e("insert into ev2 values (1, 5), (2, 9), (3, 2), (4, 7)")
    r = e(
        "select distinct on (u % 2) u % 2 as par, u, ts from ev2"
        " order by u % 2, coalesce(ts, u) desc, u"
    )
    assert r.rows == [(0, 2, 9), (1, 1, 5)]
    eng.close()


def test_warehouse_lock_stale_takeover_is_serialized(tmp_path):
    """ADVICE r5: N processes that all observe the SAME dead owner must
    race down to exactly ONE live writer. The old tmp-file+os.replace
    takeover let the replace loser keep running; the rename-claim
    takeover serializes — losers re-loop, find the winner's live lock,
    and refuse. Four concurrent claimants, exactly one WIN."""
    import json as _json
    import os as _os
    import subprocess
    import sys
    import textwrap

    wh = str(tmp_path / "whrace")
    _os.makedirs(wh, exist_ok=True)
    lock = _os.path.join(wh, "_lock.json")
    dead = subprocess.Popen(["true"])
    dead.wait()
    _json.dump({"pid": dead.pid}, open(lock, "w"))

    script = textwrap.dedent(
        """
        import sys, time, types
        sys.path.insert(0, sys.argv[3])
        from andb_spark.api import AnalyticsEngine, EngineError
        obj = types.SimpleNamespace(warehouse=sys.argv[1], _lock_path=sys.argv[2])
        try:
            AnalyticsEngine._acquire_warehouse_lock(obj)
            print("WIN", flush=True)
            time.sleep(10)  # hold the lock while slower-importing siblings race
        except EngineError:
            print("LOSE", flush=True)
        """
    )
    repo = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, wh, lock, repo],
            stdout=subprocess.PIPE,
            text=True,
        )
        for _ in range(4)
    ]
    outcomes = [p.communicate(timeout=120)[0].strip() for p in procs]
    assert sorted(outcomes) == ["LOSE", "LOSE", "LOSE", "WIN"], outcomes


def test_sub_ident_table_positions_only():
    """r7 ADVICE #1: CTE substitution rewrites TABLE REFERENCES only —
    FROM/JOIN operands, comma cross-join items (including after a JOIN
    ... ON condition), and column-qualifier positions. A select alias,
    a bare column, or a function name that merely shares the CTE's
    name stays untouched."""
    from andb_spark.api import AnalyticsEngine

    sub = AnalyticsEngine._sub_ident
    # table positions rewrite
    assert sub("select * from c", "c", "V") == "select * from V"
    assert sub("select * from a join c on a.x = c.y", "c", "V") == (
        "select * from a join V on a.x = V.y"
    )
    # comma cross-join AFTER an ON condition is still a table position
    assert sub(
        "select * from a join b on a.x = b.y, c where c.z = 1",
        "c", "V",
    ) == "select * from a join b on a.x = b.y, V where V.z = 1"
    # alias/bare-column/function positions do NOT rewrite
    assert sub("select sum(x) as c from t", "c", "V") == (
        "select sum(x) as c from t"
    )
    assert sub("select c from t", "c", "V") == "select c from t"
    assert sub("select c(x) from t", "c", "V") == "select c(x) from t"
    # an IN-list comma is not a table position
    assert sub("select * from t where x in (c, 2)", "c", "V") == (
        "select * from t where x in (c, 2)"
    )
    # string literals are never touched
    assert sub("select 'from c' from c", "c", "V") == (
        "select 'from c' from V"
    )
    # expression-syntax FROM is NOT a table position (r8 review):
    # IS [NOT] DISTINCT FROM, extract/trim/substring
    assert sub(
        "select * from t where a is distinct from c", "c", "V"
    ) == "select * from t where a is distinct from c"
    assert sub(
        "select * from t where a is not distinct from c", "c", "V"
    ) == "select * from t where a is not distinct from c"
    assert sub("select extract(year from c) from t", "c", "V") == (
        "select extract(year from c) from t"
    )
    assert sub(
        "select trim(leading 'x' from c) from t", "c", "V"
    ) == "select trim(leading 'x' from c) from t"
    # ...but a subquery's FROM is: the paren group is select-rooted
    assert sub(
        "select * from t where x in (select y from c)", "c", "V"
    ) == "select * from t where x in (select y from V)"
    # backtick-quoted table references rewrite; quoted non-table
    # positions don't
    assert sub("select * from `c` join d on 1=1", "c", "V") == (
        "select * from V join d on 1=1"
    )
    assert sub("select `c` from t", "c", "V") == "select `c` from t"
