"""Engine-surface workloads: DML round trips and the system catalog,
graded by the external oracle.

These queries exercise the SQL-entry-point engine (api.py) end to end —
CREATE/CTAS, INSERT (file append), UPDATE/DELETE (file-level
copy-on-write), and the SQL-selectable system catalog views — then
return the resulting table state as a DataFrame. The DuckDB twin
restates the same mutations declaratively (UPDATE ≡ CASE projection,
DELETE ≡ anti-filter, INSERT ≡ UNION ALL), so the driver's hash
compare grades the engine's whole write path, not just its readers.
Reference parity: the reference proves its DML the same way — mutate
then SELECT (tests/unit/test_execution.py) — but only in unit tests;
here it is a first-class oracle-checked workload row.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as SF

from andb_spark.api import AnalyticsEngine


def _rows_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Wrap an engine ``Result``'s already-local rows as a DataFrame
    with a row-count-derived slice count. One implementation —
    api._local_df — serves the engine internals, these workloads, and
    relational.py (ADVICE r15 #4: two verbatim copies of the sizing
    constants would drift)."""
    from andb_spark.api import _local_df

    return _local_df(spark, rows, schema)


def _scratch(prefix: str) -> str:
    """A throwaway warehouse dir, removed at interpreter exit — bench
    and compare invoke these builders repeatedly (warm-up + n timed
    runs) and would otherwise accumulate CTAS'd parquet in /tmp across
    rounds. Deletion must be deferred: the returned DataFrame reads
    the warehouse lazily AFTER the builder returns."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def u_dml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTAS a slice of ``orders``, UPDATE one status class, DELETE a
    customer residue class, INSERT one row, SELECT the survivors.
    Runs through the manifest write path: the INSERT is an O(batch)
    file append and the UPDATE/DELETE are file-level copy-on-write."""
    eng = AnalyticsEngine(
        _scratch("andb_dml_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    e(
        "create table dml_t as select o_orderkey, o_custkey, o_totalprice,"
        " o_orderstatus from orders where o_orderkey < 1000"
    )
    e(
        "update dml_t set o_totalprice = o_totalprice * 2"
        " where o_orderstatus = 'F'"
    )
    e("delete from dml_t where o_custkey % 10 = 3")
    e("insert into dml_t values (999999, 1, 123.5, 'X')")
    return spark.table("dml_t").orderBy("o_orderkey")


def u_matview_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance, oracle-graded: CTAS a
    base slice of ``orders``, materialize a self-maintainable rollup,
    APPEND a second slice, REFRESH — the engine must take the O(delta)
    incremental path (asserted, not assumed: the run fails if the full
    fallback was used) — and return the refreshed view. The DuckDB twin
    states the rollup over the union of both slices, so the hash compare
    grades the merge math (SUM/COUNT→SUM, MIN/MAX→MIN/MAX), not just
    the plumbing."""
    eng = AnalyticsEngine(
        _scratch("andb_mv_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    e(
        "create table mv_base as select o_custkey, o_totalprice,"
        " o_orderstatus from orders where o_orderkey < 2000"
    )
    e(
        "create materialized view mv_sales as"
        " select o_orderstatus, count(*) as n_orders,"
        " sum(o_totalprice) as revenue, min(o_totalprice) as smallest,"
        " max(o_totalprice) as largest from mv_base"
        " where o_totalprice > 1000 group by o_orderstatus"
    )
    e(
        "insert into mv_base select o_custkey, o_totalprice,"
        " o_orderstatus from orders"
        " where o_orderkey >= 2000 and o_orderkey < 4000"
    )
    e("refresh materialized view mv_sales")
    mode = eng.catalog["tables"]["mv_sales"].get("matview_last_refresh")
    if mode != "incremental":
        raise RuntimeError(
            f"expected incremental matview refresh, engine took {mode!r}"
        )
    return spark.table("mv_sales").select(
        "o_orderstatus",
        "n_orders",
        # round(·,2) convention (relational.py module docstring): the
        # merged sum associates differently than the oracle's one-pass
        # sum; money inputs make the true sum a multiple of 0.01
        SF.round("revenue", 2).alias("revenue"),
        "smallest",
        "largest",
    ).orderBy("o_orderstatus")


def u_clone_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy CLONE as an oracle row: CTAS a slice, CLONE it, then
    mutate the SOURCE (update + delete + insert) — the clone must
    still read the pre-mutation snapshot byte-for-byte, which the
    DuckDB twin states as the unmutated slice. Grades the hardlink
    snapshot's independence end to end."""
    eng = AnalyticsEngine(
        _scratch("andb_clone_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    e(
        "create table cl_src as select o_orderkey, o_totalprice,"
        " o_orderstatus from orders where o_orderkey < 3000"
    )
    e("create table cl_snap clone cl_src")
    e("update cl_src set o_totalprice = 0 where o_orderstatus = 'F'")
    e("delete from cl_src where o_orderkey % 7 = 0")
    e("insert into cl_src values (777777, 1.0, 'X')")
    return spark.table("cl_snap").orderBy("o_orderkey")


def u_restore_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUNCATE + INSERT OVERWRITE + RESTORE as one oracle row: CTAS a
    slice, wipe it (TRUNCATE), replace it with a different slice
    (INSERT OVERWRITE), then RESTORE VERSION AS OF back to the
    original — a pure manifest pointer move over retained immutable
    segments. The DuckDB twin states the ORIGINAL slice: the row only
    hashes green if all three statements left history intact and the
    restore re-pointed exactly."""
    eng = AnalyticsEngine(
        _scratch("andb_rst_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    e(
        "create table rt as select o_orderkey, o_totalprice,"
        " o_orderstatus from orders where o_orderkey < 2000"
    )
    v0 = eng._meta("rt")["vnum"]
    e("truncate table rt")
    e(
        "insert overwrite rt select o_orderkey, o_totalprice,"
        " o_orderstatus from orders"
        " where o_orderkey >= 5000 and o_orderkey < 6000"
    )
    e(f"restore table rt version as of {v0}")
    return spark.table("rt").orderBy("o_orderkey")


def u_txn_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction abort semantics as an oracle row (the reference's
    core xact surface, tests/unit/test_execution.py:64-130): CTAS a
    slice, run UPDATE + DELETE + INSERT inside BEGIN..ROLLBACK, then a
    second transaction that COMMITs one update. The DuckDB twin states
    base-with-only-the-committed-update: rolled-back statements must
    leave zero trace, committed ones exactly one."""
    eng = AnalyticsEngine(
        _scratch("andb_txn_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    e(
        "create table tx as select o_orderkey, o_totalprice,"
        " o_orderstatus from orders where o_orderkey < 1500"
    )
    e("begin")
    e("update tx set o_totalprice = 0 where o_orderstatus = 'O'")
    e("delete from tx where o_orderkey % 3 = 0")
    e("insert into tx values (888888, 9.5, 'Z')")
    e("rollback")
    e("begin")
    e(
        "update tx set o_totalprice = o_totalprice + 1"
        " where o_orderstatus = 'F'"
    )
    e("commit")
    return spark.table("tx").orderBy("o_orderkey")


def u_alter_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only schema evolution as an oracle row: CTAS, ALTER ADD
    COLUMN (no rewrite — old files surface the column as NULL), append
    rows that fill it, ALTER DROP another column (projection never
    materializes it again). The DuckDB twin states the same evolution
    declaratively, so the hash compare grades the declared-schema read
    path over mixed-schema segments."""
    eng = AnalyticsEngine(
        _scratch("andb_alt_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    e(
        "create table alt as select o_orderkey, o_custkey, o_totalprice"
        " from orders where o_orderkey < 1200"
    )
    e("alter table alt add column note text")
    e("insert into alt values (900001, 7, 10.5, 'tagged')")
    e("alter table alt drop column o_custkey")
    return spark.table("alt").orderBy("o_orderkey")


def c_catalog_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """System catalog as a relation (reference SystemTableScan parity,
    select.py:407-417): build a deterministic managed layout, then join
    the three catalog views — table metadata, NOT NULL column counts,
    index counts. The oracle states the expected catalog rows as
    literals, pinning the schema contract of all three views."""
    eng = AnalyticsEngine(_scratch("andb_cat_"), spark=spark)
    e = eng.execute
    e("create table cat_a (x int not null, name varchar(10))")
    e("create table cat_b (y double, z text not null)")
    e("create index idx_ax on cat_a (x)")
    e("insert into cat_a values (1, 'one')")
    # The engine refreshes the system views lazily (on andb_*-touching
    # statements); this query bypasses execute(), so refresh directly.
    eng._refresh_system_views()
    out = spark.sql(
        """
        SELECT t.table_name, t.column_count, t.version, t.is_matview,
               c.notnull_cols, coalesce(i.n_indexes, 0) AS n_indexes
        FROM andb_tables t
        JOIN (SELECT table_name,
                     sum(CASE WHEN notnull THEN 1 ELSE 0 END) AS notnull_cols
              FROM andb_columns GROUP BY table_name) c
          USING (table_name)
        LEFT JOIN (SELECT table_name, count(*) AS n_indexes
                   FROM andb_indexes GROUP BY table_name) i
          USING (table_name)
        ORDER BY table_name
        """
    )
    # Pin the result: the system views are session-global temp views
    # that the NEXT engine instance would redefine under this lazily
    # evaluated plan.
    return out.localCheckpoint(eager=True)


def c_catalog_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column catalog + manifest-as-relation parity (reference
    andb_attribute, andb/catalog/attribute.py:6-27): per-column
    ordinal/type/notnull AFTER a metadata-only ALTER ADD + DROP
    (ordinals renumber, schema history invisible), joined with the
    andb_segments manifest view's segment count and row totals. The
    oracle pins the exact post-ALTER catalog rows as literals."""
    eng = AnalyticsEngine(_scratch("andb_catc_"), spark=spark)
    e = eng.execute
    e("create table cc (a int not null, b varchar(8), c double)")
    e("insert into cc values (1, 'x', 0.5), (2, 'y', 1.5)")
    e("alter table cc add column d text")
    e("alter table cc drop column b")
    e("insert into cc values (3, 2.5, 'tag')")
    eng._refresh_system_views()
    out = spark.sql(
        """
        SELECT c.table_name, c.column_name, c.ordinal, c.type_name,
               c.notnull, s.n_segments, s.total_rows
        FROM andb_columns c
        JOIN (SELECT table_name, count(*) AS n_segments,
                     sum(n_rows) AS total_rows
              FROM andb_segments GROUP BY table_name) s
          USING (table_name)
        ORDER BY c.table_name, c.ordinal
        """
    )
    # Same pinning rationale as c_catalog_tables: session-global temp
    # views would be redefined under this lazy plan by the next engine.
    return out.localCheckpoint(eager=True)



def u_asof_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's ASOF JOIN SQL surface (api.py::_rewrite_asof —
    DuckDB-compatible subset rewritten onto the union+window operator),
    graded against DuckDB's NATIVE ASOF JOIN: CTAS a purchases slice
    and a clicks slice of ``events`` with microsecond epochs (unique
    per (user, us) in the corpus — deterministic without a tiebreak),
    then each purchase takes the user's most recent click at-or-before
    it. Inner ASOF semantics: purchases with no prior click drop."""
    eng = AnalyticsEngine(
        _scratch("andb_asof_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    e(
        "create table asof_p as select event_id, user_id,"
        " unix_micros(ts) as t_us from events"
        " where event_type = 'purchase'"
    )
    e(
        "create table asof_c as select event_id as click_id, user_id,"
        " unix_micros(ts) as c_us from events where event_type = 'click'"
    )
    r = e(
        "select event_id, p.user_id, click_id, c_us from asof_p p"
        " asof join asof_c c on p.user_id = c.user_id"
        " and p.t_us >= c.c_us order by event_id"
    )
    return _rows_df(spark,
        r.rows, "event_id bigint, user_id bigint, click_id bigint,"
        " c_us bigint"
    )


def u_asof_tolerance_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ASOF LEFT JOIN tolerance spelling (api.py::_rewrite_asof,
    r6 verdict #6): the extra ON conjunct ``p.t_us - c.c_us <= N``
    bounds how far back the as-of lookup reaches — the same gap-bound
    conjunct DuckDB's binder accepts on its native ASOF JOIN. LEFT +
    tolerance uses pandas merge_asof semantics (out-of-tolerance
    probes KEEP their row, the match masks to NULL); DuckDB 1.0
    post-filters those rows instead, so the oracle compensates with a
    CASE mask over DuckDB's plain ASOF LEFT — identical rows, matches
    masked. Tolerance = 1 hour in native microsecond units."""
    eng = AnalyticsEngine(
        _scratch("andb_asoft_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    e(
        "create table asoft_p as select event_id, user_id,"
        " unix_micros(ts) as t_us from events"
        " where event_type = 'purchase'"
    )
    e(
        "create table asoft_c as select event_id as click_id, user_id,"
        " unix_micros(ts) as c_us from events where event_type = 'click'"
    )
    r = e(
        "select event_id, p.user_id, click_id from asoft_p p"
        " asof left join asoft_c c on p.user_id = c.user_id"
        " and p.t_us >= c.c_us and p.t_us - c.c_us <= 3600000000"
        " order by event_id"
    )
    return _rows_df(spark,
        r.rows, "event_id bigint, user_id bigint, click_id bigint"
    )


def u_asof_subquery_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASOF JOIN over PARENTHESIZED SUBQUERY sources (r7 verdict #7,
    api.py::_lift_subquery_sources): both sides are derived
    tables bound to lazy temp views before the asof rewrite resolves
    them — no CTAS, no WITH clause, the spelling a user reaches for
    first. Graded against DuckDB's native derived-table ASOF JOIN on
    identical semantics (inner, backward, keyed)."""
    eng = AnalyticsEngine(
        _scratch("andb_asofsq_"), spark=spark, attach_dir=sf_dir
    )
    r = eng.execute(
        "select event_id, p.user_id, click_id from"
        " (select event_id, user_id, unix_micros(ts) as t_us"
        "  from events where event_type = 'purchase') p"
        " asof join"
        " (select event_id as click_id, user_id,"
        "  unix_micros(ts) as c_us"
        "  from events where event_type = 'click') c"
        " on p.user_id = c.user_id and p.t_us >= c.c_us"
        " order by event_id"
    )
    return _rows_df(spark,
        r.rows, "event_id bigint, user_id bigint, click_id bigint"
    )


def u_update_from(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-DML — UPDATE ... FROM and DELETE ... USING (Postgres/
    DuckDB spellings; api.py translates both onto the MERGE machinery,
    inheriting its join-driven copy-on-write plan and exact
    multiple-match detection): scale order totals by a per-customer
    factor table, then delete the factor-1 class. The oracle restates
    the end state declaratively (UPDATE ≡ CASE over a join, DELETE ≡
    anti-filter)."""
    eng = AnalyticsEngine(
        _scratch("andb_jdml_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    e(
        "create table ju_t as select o_orderkey, o_custkey,"
        " o_totalprice from orders where o_orderkey < 1200"
    )
    e(
        "create table ju_s as select distinct o_custkey as k,"
        " cast(o_custkey % 5 + 1 as double) as f from orders"
        " where o_orderkey < 1200"
    )
    e(
        "update ju_t set o_totalprice ="
        " round(ju_t.o_totalprice * ju_s.f, 2) from ju_s"
        " where ju_t.o_custkey = ju_s.k and ju_s.f > 2"
    )
    e(
        "delete from ju_t using ju_s"
        " where ju_t.o_custkey = ju_s.k and ju_s.f = 1"
    )
    return spark.table("ju_t").orderBy("o_orderkey")


def u_insert_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT INTO ... BY NAME (DuckDB's column-mapped append; Spark
    3.5 spells it identically for its own tables): source columns bind
    to target columns by NAME in any order, unnamed targets fill NULL,
    unknown/duplicate source names are errors (api.py::_insert).
    Lifecycle: CTAS a 3-column target, append one reordered full-width
    slice and one partial-width slice, select everything. The oracle
    restates the same end state as a UNION of the two mapped
    selects."""
    eng = AnalyticsEngine(
        _scratch("andb_bn_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    e(
        "create table bn_t as select o_orderkey, o_orderstatus,"
        " o_totalprice from orders where o_orderkey < 400"
    )
    # reordered full-width append
    e(
        "insert into bn_t by name select o_totalprice, o_orderkey,"
        " o_orderstatus from orders"
        " where o_orderkey >= 400 and o_orderkey < 700"
    )
    # partial-width append: o_orderstatus fills NULL
    e(
        "insert into bn_t by name select o_totalprice, o_orderkey"
        " from orders where o_orderkey >= 700 and o_orderkey < 900"
    )
    return spark.table("bn_t").orderBy("o_orderkey")


def u_range_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transparent range-join optimization through PLAIN SQL
    (api.py::_rewrite_range_join): CTAS click points and purchase
    attribution windows from ``events``, join with an ordinary
    `BETWEEN` ON clause — the engine substitutes the bucketed
    equi-join plan (a Spark-default nested loop never runs) — and
    aggregate matches per window. The oracle is the IDENTICAL SQL in
    DuckDB (plain inner-join semantics; DuckDB plans it with its
    native IEJoin), so the rewrite's semantics-transparency is exactly
    what the hash compare grades."""
    eng = AnalyticsEngine(
        _scratch("andb_rj_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    # bucket width is in the time column's NATIVE units (these are
    # MICROSECOND epochs): one bucket per 30-minute window, so each
    # interval explodes to ~2 bucket rows — the default 1800 would be
    # 1800 MICROSECONDS and explode every window to 10^6 rows
    e("set andb.range_bucket_seconds = 1800000000")
    e(
        "create table rj_clicks as select event_id as click_id,"
        " user_id, unix_micros(ts) as t_us from events"
        " where event_type = 'click'"
    )
    e(
        "create table rj_windows as select event_id as purchase_id,"
        " user_id as w_user, unix_micros(ts) - 1800000000 as lo_us,"
        " unix_micros(ts) as hi_us from events"
        " where event_type = 'purchase'"
    )
    r = e(
        "select purchase_id, count(1) as n_clicks,"
        " min(click_id) as first_click from rj_clicks c"
        " join rj_windows w on c.user_id = w.w_user"
        " and c.t_us between w.lo_us and w.hi_us"
        " group by purchase_id order by purchase_id"
    )
    return _rows_df(spark,
        r.rows, "purchase_id bigint, n_clicks bigint, first_click bigint"
    )



def u_qualify_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The QUALIFY clause through the engine (api.py::_rewrite_qualify)
    vs DuckDB's NATIVE QUALIFY: latest event per user — the canonical
    window-filter idiom QUALIFY exists for. Tie-free ordering via the
    (ts, event_id) compound sort."""
    eng = AnalyticsEngine(
        _scratch("andb_qual_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    e(
        "create table qual_ev as select event_id, user_id,"
        " unix_micros(ts) as t_us, event_type from events"
    )
    r = e(
        "select user_id, event_id, event_type from qual_ev"
        " qualify row_number() over (partition by user_id"
        " order by t_us desc, event_id desc) = 1 order by user_id"
    )
    return _rows_df(spark,
        r.rows, "user_id bigint, event_id bigint, event_type string"
    )



def u_distinct_on_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT ON through the engine (api.py::_rewrite_distinct_on —
    Postgres/DuckDB idiom rewritten into QUALIFY row_number()=1) vs
    DuckDB's NATIVE DISTINCT ON: each customer's most expensive order,
    o_orderkey tiebreak."""
    eng = AnalyticsEngine(
        _scratch("andb_don_"), spark=spark, attach_dir=sf_dir
    )
    r = eng.execute(
        "select distinct on (o_custkey) o_custkey, o_orderkey,"
        " o_totalprice from orders"
        " order by o_custkey, o_totalprice desc, o_orderkey"
    )
    return _rows_df(spark,
        r.rows, "o_custkey bigint, o_orderkey bigint, o_totalprice double"
    )



def u_distinct_on_qualify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT ON + QUALIFY in ONE statement (r8 verdict #5;
    api.py::_rewrite_distinct_on's two-stage path — QUALIFY filters
    FIRST over the pre-DISTINCT-ON rows, then DISTINCT ON picks from
    the survivors, DuckDB's evaluation order) vs DuckDB running the
    IDENTICAL SQL natively: among each customer's five EARLIEST
    orders, the most expensive one. QUALIFY-first is load-bearing —
    picking first and qualifying after would return each customer's
    most expensive order overall."""
    eng = AnalyticsEngine(
        _scratch("andb_donq_"), spark=spark, attach_dir=sf_dir
    )
    r = eng.execute(
        "select distinct on (o_custkey) o_custkey, o_orderkey,"
        " o_totalprice from orders"
        " qualify row_number() over (partition by o_custkey"
        "  order by o_orderdate, o_orderkey) <= 5"
        " order by o_custkey, o_totalprice desc, o_orderkey"
    )
    return _rows_df(spark,
        r.rows, "o_custkey bigint, o_orderkey bigint, o_totalprice double"
    )


def u_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL BY NAME (DuckDB; Spark SQL has no BY NAME union —
    api.py::_rewrite_union_by_name lowers it onto
    unionByName(allowMissingColumns=True)) vs DuckDB running the
    IDENTICAL SQL natively: order headers and line items merged by
    column NAME — `status` exists only on the left, `qty` only on the
    right, each fills NULL on the other side; result column order is
    left-then-new (both engines)."""
    eng = AnalyticsEngine(
        _scratch("andb_ubn_"), spark=spark, attach_dir=sf_dir
    )
    r = eng.execute(
        "select o_orderkey as k, o_totalprice as price,"
        " o_orderstatus as status from orders where o_orderkey < 1000"
        " union all by name"
        " select l_orderkey as k, l_extendedprice as price,"
        " l_quantity as qty from lineitem where l_orderkey < 1000"
        " order by k, price"
    )
    return _rows_df(spark,
        r.rows, "k bigint, price double, status string, qty double"
    )


def u_select_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT * REPLACE (DuckDB star-REPLACE; Spark has star-EXCEPT
    but no REPLACE — api.py::_rewrite_select_replace expands the star
    from the FROM list's schema with each target substituted IN PLACE,
    position and name preserved) vs DuckDB running the IDENTICAL SQL
    natively. The source is a derived table so the replaced columns
    sit mid-schema."""
    eng = AnalyticsEngine(
        _scratch("andb_srep_"), spark=spark, attach_dir=sf_dir
    )
    r = eng.execute(
        "select * replace (o_totalprice * 2 as o_totalprice,"
        " lower(o_orderstatus) as o_orderstatus)"
        " from (select o_orderkey, o_orderstatus, o_totalprice,"
        " o_custkey from orders where o_orderkey < 2000) o"
        " order by o_orderkey"
    )
    return _rows_df(spark,
        r.rows,
        "o_orderkey bigint, o_orderstatus string,"
        " o_totalprice double, o_custkey bigint",
    )


def q_fetch_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI result-limiting dialect through the engine
    (api.py::_rewrite_fetch_first — ``OFFSET n ROWS FETCH NEXT m ROWS
    ONLY`` → LIMIT/OFFSET, a pure text rewrite) vs DuckDB running the
    IDENTICAL ANSI SQL natively. Total (price, key) order makes the
    paginated window fully deterministic."""
    eng = AnalyticsEngine(
        _scratch("andb_ff_"), spark=spark, attach_dir=sf_dir
    )
    r = eng.execute(
        "select o_orderkey, o_custkey, o_totalprice from orders"
        " order by o_totalprice desc, o_orderkey"
        " offset 10 rows fetch next 25 rows only"
    )
    return _rows_df(spark,
        r.rows, "o_orderkey bigint, o_custkey bigint, o_totalprice double"
    )


def u_fetch_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FETCH FIRST n ROWS WITH TIES (Postgres semantics; DuckDB's
    parser lacks WITH TIES, so the oracle is the equivalent
    rank()-bounded SQL — api.py::_fetch_with_ties, the TakeOrdered +
    boundary-probe plan, never a global-order window). Ordering by
    the 3-value o_orderstatus guarantees a massive tie group at the
    boundary at EVERY scale factor, and makes the result SET
    deterministic (every row whose status sorts <= the 40th row's)."""
    eng = AnalyticsEngine(
        _scratch("andb_ft_"), spark=spark, attach_dir=sf_dir
    )
    r = eng.execute(
        "select o_orderkey, o_custkey, o_orderstatus from orders"
        " where o_orderkey < 8000"
        " order by o_orderstatus fetch first 40 rows with ties"
    )
    return _rows_df(spark,
        r.rows, "o_orderkey bigint, o_custkey bigint, o_orderstatus string"
    ).orderBy("o_orderkey")


def u_union_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r9 weak-grade surface as a driver row: a bare trailing
    OFFSET on a BY NAME union binds to the COMPOUND statement (r9
    verdict #1 — the old detector left it on the last branch), and
    the union itself sits inside a FROM subquery (the r9 named
    refusal, lifted). The over-offset drains the whole union, so the
    aggregate is (0, -1) exactly when the offset was applied
    set-level; branch-level binding would have left every left-branch
    row and a nonzero count. Deterministic at every scale factor."""
    eng = AnalyticsEngine(
        _scratch("andb_uo_"), spark=spark, attach_dir=sf_dir
    )
    r = eng.execute(
        "select count(*) as n, coalesce(max(k), -1) as mk from"
        " (select o_orderkey as k, o_orderstatus as status from orders"
        " where o_orderkey < 200"
        " union all by name"
        " select l_orderkey as k, l_quantity as qty from lineitem"
        " where l_orderkey < 200"
        " offset 100000000) t"
    )
    return _rows_df(spark,r.rows, "n bigint, mk bigint")


def u_create_or_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE OR REPLACE TABLE lifecycle: the AS-SELECT form over an
    EXISTING table is an atomic versioned swap whose self-referencing
    source reads the PRE-replace state (api.py::_replace_table_as),
    and the parenthesized AS body on a FRESH name parses identically
    (r9 ADVICE #2). The oracle restates both results declaratively."""
    eng = AnalyticsEngine(
        _scratch("andb_cor_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    e(
        "create table cor_t as select o_orderkey as k,"
        " o_totalprice as v, o_orderstatus as s from orders"
        " where o_orderkey < 2000"
    )
    # self-referencing atomic swap: reads pre-replace cor_t
    e(
        "create or replace table cor_t as select k,"
        " round(v * 2, 2) as v from cor_t where s = 'F'"
    )
    # fresh name + parenthesized body: the same acceptance as replace
    e("create or replace table cor_u as (select count(*) as n from cor_t)")
    r = e(
        "select t.k, t.v, u.n from cor_t t cross join cor_u u"
        " order by t.k"
    )
    return _rows_df(spark,r.rows, "k bigint, v double, n bigint")


def u_copy_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY (SELECT ...) TO round trip: the query-export form plans
    through the FULL engine pipeline (here: QUALIFY over a grouped
    aggregate — SQL Spark alone cannot parse), writes parquet, and
    the exported file is read straight back as the graded result. The
    oracle restates the top-50-customers aggregate declaratively."""
    eng = AnalyticsEngine(
        _scratch("andb_ce_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    e(
        "create table ce_t as select o_orderkey as k, o_custkey as c,"
        " o_totalprice as v from orders where o_orderkey < 3000"
    )
    path = _scratch("andb_ce_out_") + "/export"
    e(
        "copy (select c, round(sum(v), 2) as total, count(*) as n"
        " from ce_t group by c"
        " qualify row_number() over (order by round(sum(v), 2) desc, c)"
        " <= 50)"
        f" to '{path}' format parquet"
    )
    return spark.read.parquet(path).orderBy("c")


def u_insert_by_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT INTO ... BY POSITION (DuckDB's explicit spelling of the
    default positional binding; api.py normalizes it to the plain
    INSERT path BEFORE the ON CONFLICT match): a full-width SELECT
    append and a VALUES append, then select everything."""
    eng = AnalyticsEngine(
        _scratch("andb_bp_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    e(
        "create table bp_t as select o_orderkey, o_orderstatus,"
        " o_totalprice from orders where o_orderkey < 400"
    )
    e(
        "insert into bp_t by position select o_orderkey,"
        " o_orderstatus, o_totalprice from orders"
        " where o_orderkey >= 400 and o_orderkey < 700"
    )
    e("insert into bp_t by position values (999991, 'Z', 1.25)")
    return spark.table("bp_t").orderBy("o_orderkey")


def u_limit_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``LIMIT p%`` (DuckDB percent limit; api.py::_limit_percent —
    row budget = floor(p/100 x the total count), one count scan plus
    the LIMIT-pushdown scan) vs DuckDB running the IDENTICAL SQL
    natively. Total (price, key) order keeps the kept-rows set fully
    deterministic at every scale factor."""
    eng = AnalyticsEngine(
        _scratch("andb_lpct_"), spark=spark, attach_dir=sf_dir
    )
    r = eng.execute(
        "select o_orderkey, o_totalprice from orders"
        " where o_orderkey < 4000"
        " order by o_totalprice desc, o_orderkey limit 25%"
    )
    return _rows_df(spark,
        r.rows, "o_orderkey bigint, o_totalprice double"
    )


def u_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB ``COLUMNS('regex')`` dynamic projection with aggregate
    fan-out (api.py::_rewrite_columns_projection — textual expansion
    against the FROM list's schema; ``f(COLUMNS(...))`` becomes one
    ``f(col) AS col`` per match, plain names, DuckDB-probed) vs DuckDB
    running the IDENTICAL SQL natively, under GROUP BY."""
    eng = AnalyticsEngine(
        _scratch("andb_cols_"), spark=spark, attach_dir=sf_dir
    )
    r = eng.execute(
        "select o_orderstatus, min(columns('o_total.*')),"
        " count(columns('o_orderkey')) from orders"
        " group by o_orderstatus order by o_orderstatus"
    )
    return _rows_df(spark,
        r.rows,
        "o_orderstatus string, o_totalprice double, o_orderkey bigint",
    )


def u_update_from_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-DML with SUBQUERY sources (r9: api.py::_bind_inline_source
    binds ``FROM (SELECT ...) alias`` / ``USING (SELECT ...) alias``
    to a per-statement view named as the alias): UPDATE ... FROM a
    derived per-customer factor table, then DELETE ... USING a derived
    key set. The oracle restates the end state declaratively."""
    eng = AnalyticsEngine(
        _scratch("andb_jqs_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    e(
        "create table jq_t as select o_orderkey, o_custkey,"
        " o_totalprice from orders where o_orderkey < 1500"
    )
    e(
        "update jq_t set o_totalprice ="
        " round(jq_t.o_totalprice * s.f, 2) from"
        " (select distinct o_custkey as k,"
        " cast(o_custkey % 4 + 1 as double) as f from orders"
        " where o_orderkey < 1500) s"
        " where jq_t.o_custkey = s.k and s.f >= 3"
    )
    e(
        "delete from jq_t using"
        " (select distinct o_custkey as k from orders"
        " where o_orderkey < 1500 and o_custkey % 4 = 0) d"
        " where jq_t.o_custkey = d.k"
    )
    return spark.table("jq_t").orderBy("o_orderkey")


def u_create_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logical-view lifecycle (api.py::_create_view — the catalog
    persists the defining SQL only; every reference re-plans it over
    the base tables' CURRENT state): CREATE a rollup view, chain a
    view OVER the view, select through the chain, mutate the base
    (the views must follow — late binding), CREATE OR REPLACE the mid
    view with a wider definition, DROP the dependent, and grade the
    replaced view's state. The oracle restates the final state
    declaratively; the statement-by-statement differential vs DuckDB
    NATIVE views is tests/test_parser_surfaces_differential.py::
    test_create_view_matches_duckdb."""
    eng = AnalyticsEngine(
        _scratch("andb_cv_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    e(
        "create table cv_base as select o_orderkey as k, o_custkey"
        " as c, o_totalprice as v, o_orderstatus as s from orders"
        " where o_orderkey < 4000"
    )
    e(
        "create view cv_rollup as select s, count(*) as n,"
        " round(sum(v), 2) as rev from cv_base group by s"
    )
    e("create view cv_big as select s, n, rev from cv_rollup where n >= 2")
    e("select * from cv_big")  # bind + read through the chain
    e("delete from cv_base where c % 5 = 2")  # views must follow
    e(
        "create or replace view cv_rollup as select s, count(*) as n,"
        " round(sum(v), 2) as rev, round(min(v), 2) as lo from cv_base"
        " group by s"
    )
    e("drop view cv_big")
    r = e("select s, n, rev, lo from cv_rollup order by s")
    return _rows_df(spark,
        r.rows, "s string, n bigint, rev double, lo double"
    )


def u_positional_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITIONAL JOIN (DuckDB; api.py::_rewrite_positional_join):
    zip two ORDERED subquery sides row-by-row — the shorter side pads
    NULL. Ordered sides make the pairing deterministic at every scale
    factor (a sorted side's range partitions enumerate in order, so
    the distributed zipWithIndex numbers rows in the total order);
    the oracle runs the IDENTICAL SQL on DuckDB's native positional
    join."""
    eng = AnalyticsEngine(
        _scratch("andb_pj_"), spark=spark, attach_dir=sf_dir
    )
    r = eng.execute(
        "select x.k, x.v, y.c from"
        " (select o_orderkey as k, o_totalprice as v from orders"
        " where o_orderkey < 2000"
        " order by o_totalprice desc, o_orderkey) x"
        " positional join"
        " (select c_custkey as c from customer order by c_custkey desc) y"
        " order by k nulls last, c nulls last"
    )
    return _rows_df(spark,r.rows, "k bigint, v double, c bigint")


def u_create_macro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro lifecycle (api.py::_create_macro / _expand_macros — the
    DuckDB CREATE MACRO surface as textual templates the engine
    expands at plan time, so Catalyst sees plain inlined SQL and a
    macro in a WHERE clause still reaches the parquet scan as a
    pushed filter): CREATE a scalar macro, a parameterized TABLE
    macro, a NESTED macro with a default `:=` parameter, then CREATE
    OR REPLACE the inner macro (late binding — the outer macro and
    the final query must see the NEW definition), and read through
    all three. The oracle restates the final expansion declaratively;
    the statement-by-statement differential vs DuckDB NATIVE macros
    is tests/test_parser_surfaces_differential.py::
    test_create_macro_matches_duckdb."""
    eng = AnalyticsEngine(
        _scratch("andb_cm_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    e("create macro bump(p) as round(p * 1.1, 2)")
    e(
        "create macro keyed(lo, hi) as table"
        " select o_orderkey as k, o_totalprice as v from orders"
        " where o_orderkey >= lo and o_orderkey < hi"
    )
    e(
        "create macro bump2(p, f := 2.0) as round(bump(p) * f, 2)"
    )
    # late binding: bump2 and the query below see the NEW bump
    e("create or replace macro bump(p) as round(p * 1.2, 2)")
    r = e(
        "select k, bump(v) as bv, bump2(v) as b2,"
        " bump2(v, f := 3.0) as b3 from keyed(100, 2000)"
        " where bump(k) >= 150 order by k"
    )
    return _rows_df(spark,
        r.rows, "k bigint, bv double, b2 double, b3 double"
    )


def u_insert_or_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRIMARY KEY + INSERT OR REPLACE / OR IGNORE (DuckDB's
    implicit-key upsert spellings; api.py::_insert_or_action lowers
    them onto ON CONFLICT with the table's key, api.py::
    _check_staged_constraints enforces the key at the versioned-write
    choke point): CTAS-like keyed build via explicit PK DDL, OR REPLACE an
    overlapping doubled-price slice (conflicts update, new keys
    insert), then OR IGNORE a slice that half-overlaps (conflicts
    skip). The oracle restates both steps declaratively; the
    statement-by-statement differential vs DuckDB NATIVE constraints
    is tests/test_parser_surfaces_differential.py::
    test_primary_key_matches_duckdb."""
    eng = AnalyticsEngine(
        _scratch("andb_ior_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    e("create table ior_t (k bigint primary key, v double)")
    e(
        "insert into ior_t select o_orderkey, o_totalprice"
        " from orders where o_orderkey < 500"
    )
    e(
        "insert or replace into ior_t select o_orderkey,"
        " round(o_totalprice * 2, 2) from orders"
        " where o_orderkey >= 250 and o_orderkey < 750"
    )
    e(
        "insert or ignore into ior_t select o_orderkey,"
        " round(o_totalprice * 3, 2) from orders"
        " where o_orderkey >= 600 and o_orderkey < 900"
    )
    return spark.table("ior_t").orderBy("k")


def u_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEFAULT / CHECK / PRIMARY KEY constraint lifecycle
    (api.py::_parse_column_defs constraint-tail parse;
    _check_staged_constraints enforcement at the versioned-write
    choke point; _column_defaults applied wherever a
    statement omits a column; ALTER ADD COLUMN ... DEFAULT records a
    metadata-only BACKFILL — zero data I/O at any table size, Iceberg
    v3 initial-default economics — substituted at read): keyed build
    where ``tag``/``bonus`` fill from defaults, OR IGNORE a
    half-overlapping slice (conflicts skip), ALTER-add a defaulted
    column (existing rows backfill), insert the DEFAULT keyword
    explicitly, then UPDATE SET tag = DEFAULT. The oracle restates
    every step declaratively; the statement-by-statement differential
    vs DuckDB NATIVE constraints is
    tests/test_parser_surfaces_differential.py::
    test_default_check_unique_matches_duckdb."""
    eng = AnalyticsEngine(
        _scratch("andb_ct_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    e(
        "create table ctr_t (k bigint primary key,"
        " v double check (v >= 0), tag text default 'ba' || 'se',"
        " bonus double default 1.5)"
    )
    e(
        "insert into ctr_t (k, v) select o_orderkey, o_totalprice"
        " from orders where o_orderkey < 400"
    )
    e(
        "insert or ignore into ctr_t (k, v, tag) select o_orderkey,"
        " o_totalprice, 'x' from orders"
        " where o_orderkey >= 200 and o_orderkey < 600"
    )
    e("alter table ctr_t add column extra double default 2.25")
    e(
        "insert into ctr_t values"
        " (2000001, 10.5, default, default, 9.0)"
    )
    e(
        "update ctr_t set tag = default, bonus = bonus * 2"
        " where k < 100"
    )
    return spark.table("ctr_t").orderBy("k")


def u_pivot_stmt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB's simplified PIVOT STATEMENT form
    (api.py::_rewrite_pivot_statement — dynamic ON-value discovery
    via one bounded distinct scan, lowered onto DataFrame
    groupBy().pivot(): one shuffle with partial aggregation; count
    aggregates coalesce to DuckDB's 0 fill): pivot ``orders`` status
    across priorities with a multi-aggregate USING list (the
    <value>_<alias> naming both engines share). The oracle is the
    IDENTICAL statement on DuckDB's native PIVOT; the shape grid is
    tests/test_parser_surfaces_differential.py::
    test_pivot_statement_matches_duckdb."""
    eng = AnalyticsEngine(
        _scratch("andb_pv_"), spark=spark, attach_dir=sf_dir
    )
    r = eng.execute(
        "pivot orders on o_orderstatus using"
        " min(o_totalprice) as lo, count(*) as n"
        " group by o_orderpriority order by o_orderpriority"
    )
    cols = r.columns
    schema = ", ".join(
        f"`{c}` " + ("string" if c == "o_orderpriority"
                     else ("double" if c.endswith("_lo") else "bigint"))
        for c in cols
    )
    return _rows_df(spark,r.rows, schema)


def u_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE SEQUENCE + nextval/currval + DEFAULT nextval
    (api.py::_create_sequence / _seq_next_block — driver-held counter
    state; scalar calls substitute at plan time in DuckDB's
    left-to-right order, VALUES tuples allocate per row in order, and
    the omitted-column INSERT..SELECT path fills through the
    distributed dense-index block allocation): a DETERMINISTIC
    lifecycle — every sequence consumer here is a VALUES list or a
    scalar select, so the exact key assignment is defined and the
    oracle restates it literally. The INSERT..SELECT block fill
    (order-free) is graded set-wise in
    tests/test_parser_surfaces_differential.py::
    test_sequences_match_duckdb."""
    eng = AnalyticsEngine(
        _scratch("andb_sq_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    e("create sequence sq start 5 increment 2")
    e("create table sq_t (k bigint default nextval('sq'), v double)")
    e("insert into sq_t (v) values (1.5), (2.5), (3.5)")
    e(
        "insert into sq_t values (nextval('sq'), 10.5),"
        " (1000, 11.5), (nextval('sq'), 12.5)"
    )
    e("insert into sq_t (k, v) values (default, 20.5)")
    r = e(
        "select k, v, currval('sq') as cur from sq_t order by v"
    )
    return _rows_df(spark,
        r.rows, "k bigint, v double, cur bigint"
    )


def u_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETURNING on INSERT/UPDATE/DELETE (api.py::_split_returning +
    _returning_result — INSERT projects the freshly committed
    segment via the manifest diff, UPDATE the post-image re-derived
    from the OLD affected files, DELETE the pre-image; the versioned
    write makes pre-images free): chain the three against an
    orders-derived table and UNION the returned projections, each
    tagged. The oracle restates the three result sets
    declaratively."""
    eng = AnalyticsEngine(
        _scratch("andb_rt_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    e(
        "create table rt_t as select o_orderkey as k,"
        " o_totalprice as v from orders where o_orderkey < 600"
    )
    ins = e(
        "insert into rt_t select o_orderkey + 1000000,"
        " round(o_totalprice, 2) from orders"
        " where o_orderkey < 200 returning k, round(v, 2) as v"
    )
    upd = e(
        "update rt_t set v = round(v * 2, 2) where k < 300"
        " and k < 1000000 returning k, v"
    )
    dele = e(
        "delete from rt_t where k >= 300 and k < 450"
        " returning k, round(v, 2) as v"
    )
    rows = (
        [("i",) + tuple(r) for r in ins.rows]
        + [("u",) + tuple(r) for r in upd.rows]
        + [("d",) + tuple(r) for r in dele.rows]
    )
    return _rows_df(
        spark, rows, "tag string, k bigint, v double"
    ).orderBy("tag", "k")


def u_list_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB list/struct EXPRESSION dialect end to end (r11 verdict
    #1 — api.py::_rewrite_duckdb_collections): CTAS with list and
    struct LITERAL spellings (``[..]`` / ``{'k': v}``), INSERT more
    literal rows, then read back through 1-based indexing (NULL on
    0/OOB, negative-from-end), an expression index, slice-then-index
    chaining, ``len()``, and struct field access. The oracle runs the
    IDENTICAL statements natively on DuckDB (the dialect is DuckDB's
    own), restated declaratively over the same ``orders`` slice; the
    statement-level grid is tests/test_parser_surfaces_differential
    .py::test_list_struct_expressions_match_duckdb. All output
    columns are scalars (the driver's pandas canonicalization hashes
    scalar kinds)."""
    eng = AnalyticsEngine(
        _scratch("andb_ls_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    e(
        "create table ls_t as select o_orderkey as k,"
        " [o_orderkey % 7, o_orderkey % 5, o_orderkey % 3] as xs,"
        " {'s': o_orderstatus, 'p': round(o_totalprice, 2)} as st"
        " from orders where o_orderkey < 4000"
    )
    e(
        "insert into ls_t values"
        " (9000001, [41, 42], {'s': 'Z', 'p': 0.5}),"
        " (9000002, [43], {'s': 'Y', 'p': 1.5})"
    )
    r = e(
        "select k, xs[1] as first_el, xs[-1] as last_el,"
        " xs[4] as oob, xs[k % 4] as dyn, xs[2:][1] as second_el,"
        " len(xs[:2]) as head_n, len(xs) as n,"
        " st.s as s, st.p as p from ls_t order by k"
    )
    return _rows_df(spark,
        r.rows,
        "k bigint, first_el bigint, last_el bigint, oob bigint,"
        " dyn bigint, second_el bigint, head_n int, n int,"
        " s string, p double",
    )


def u_window_exclude(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame EXCLUDE (r11 verdict #2 —
    api.py::_exclude_peers_repl + _rewrite_window_exclude): EXCLUDE
    GROUP / TIES / CURRENT ROW over RANGE and ROWS frames on a
    tie-heavy ORDER BY key. The oracle runs the IDENTICAL SQL on
    DuckDB's native EXCLUDE. Shapes are deterministic under ties by
    construction — integer sums, RANGE frames (peer-group membership
    is value-based) and unbounded-both ROWS frames (intra-peer order
    cancels); the bounded-ROWS shapes are pinned in
    tests/test_parser_surfaces_differential.py::
    test_window_exclude_ties_group_matches_duckdb."""
    eng = AnalyticsEngine(
        _scratch("andb_wx_"), spark=spark, attach_dir=sf_dir
    )
    r = eng.execute(
        "select k,"
        " cast(sum(p) over (partition by s order by ck range between"
        " unbounded preceding and current row exclude group)"
        " as double) as rg,"
        " cast(sum(p) over (partition by s order by ck range between"
        " 10 preceding and 20 following exclude ties)"
        " as double) as rt,"
        " count(*) over (partition by s order by ck range between"
        " unbounded preceding and current row exclude group) as cg,"
        " cast(sum(p) over (partition by s order by ck rows between"
        " unbounded preceding and unbounded following"
        " exclude group) as double) as rs,"
        " round(avg(p) over (partition by s order by ck rows between"
        " unbounded preceding and unbounded following exclude ties),"
        " 4) as ra,"
        " cast(sum(p) over (partition by s order by ck, k rows"
        " between 2 preceding and 2 following exclude current row)"
        " as double) as rc"
        " from (select o_orderkey as k, o_orderstatus as s,"
        " o_custkey % 50 as ck, o_orderkey % 997 as p"
        " from orders where o_orderkey < 6000) t order by k"
    )
    return _rows_df(spark,
        r.rows,
        "k bigint, rg double, rt double, cg bigint, rs double,"
        " ra double, rc double",
    )


def u_order_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY default-NULL-placement parity (r12 verdict #1 —
    api.py::_inject_order_nulls_last): window navigation, running
    aggregate, and top-k CONTENT over an ordering key that is NULL
    on ~1/7 of rows, with NO explicit NULLS qualifiers. Spark's ASC
    default is NULLS FIRST; DuckDB/Postgres default NULLS LAST — the
    dialect pass injects the DuckDB placement, so the IDENTICAL SQL
    grades on both engines. (o_orderkey tiebreaks every ordering, so
    results are deterministic.) Statement battery:
    tests/test_parser_surfaces_differential.py::
    test_order_by_null_placement_matches_duckdb."""
    eng = AnalyticsEngine(
        _scratch("andb_on_"), spark=spark, attach_dir=sf_dir
    )
    r = eng.execute(
        "select k, v,"
        " row_number() over (partition by s order by nk, k) as rn,"
        " first_value(v) over (partition by s order by nk, k) as fv,"
        " lag(v) over (partition by s order by nk, k) as lv,"
        " cast(sum(v) over (partition by s order by nk, k) as double)"
        " as cs"
        " from (select o_orderkey as k, o_orderstatus as s,"
        " nullif(o_custkey % 7, 3) as nk, o_orderkey % 997 as v"
        " from orders where o_orderkey < 6000) t order by k"
    )
    return _rows_df(spark,
        r.rows,
        "k bigint, v bigint, rn bigint, fv bigint, lv bigint,"
        " cs double",
    )


def u_first_last_ord(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered first()/last() over NULL-bearing and all-NULL ordering
    keys (r12 verdict #3 — the min_by/max_by lowering rides an
    is-null flag struct so NULL keys sort LAST, never vanish). The
    (k, v) ORDER BY is a total order up to equal values, so every
    group is deterministic on both engines — including the synthetic
    group whose keys are ALL NULL (the shape that used to return
    NULL where DuckDB returns the value)."""
    eng = AnalyticsEngine(
        _scratch("andb_flo_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    e(
        "create table flo_t as select o_orderkey % 9 as g,"
        " case when o_orderkey % 11 = 3 then null else o_orderkey end"
        " as k,"
        " case when o_orderkey % 11 = 3 then -1 else o_orderkey % 997"
        " end as v"
        " from orders where o_orderkey < 6000"
    )
    e("insert into flo_t values (99, null, 7), (99, null, 7)")
    r = e(
        "select g, first(v order by k, v) as fa,"
        " last(v order by k, v) as la,"
        " first(v order by k desc, v desc) as fd,"
        " last(v order by k desc, v desc) as ld,"
        " count(*) as n from flo_t group by g order by g"
    )
    return _rows_df(spark,
        r.rows,
        "g bigint, fa bigint, la bigint, fd bigint, ld bigint,"
        " n bigint",
    )


def u_string_agg_ord(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r13 function-parity batch end to end (api.py
    _map_list_functions dispatch): string_agg with an in-call ORDER
    BY (sorted-struct lowering + array_join), DuckDB's DISCRETE
    quantile_disc (ceil(p·n) over the sorted values), a DISTINCT
    ordered list projected to a scalar, and a generate_series
    sanity column. Identical SQL is the DuckDB oracle — every
    construct is its native dialect."""
    eng = AnalyticsEngine(
        _scratch("andb_sa_"), spark=spark, attach_dir=sf_dir
    )
    r = eng.execute(
        "select o_orderpriority as pri,"
        " string_agg(o_orderstatus, '' order by o_orderkey) as st,"
        " quantile_disc(o_totalprice, 0.5) as med,"
        " array_to_string(list(distinct o_orderstatus"
        " order by o_orderstatus), '|') as kinds,"
        " list_aggregate(generate_series(1, 3), 'sum') as gs,"
        " count(*) as n"
        " from (select * from orders where o_orderkey < 3000) t"
        " group by pri order by pri"
    )
    return _rows_df(spark,
        r.rows,
        "pri string, st string, med double, kinds string,"
        " gs double, n bigint",
    )


def a_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_bucket hypertable-style rollup (api.py
    _time_bucket_repl): six-hour epoch-aligned buckets over the
    events stream table, per event type — the TimescaleDB/DuckDB
    time-series primitive the reference's roadmap gestures at,
    lowered onto pure epoch arithmetic (one groupBy shuffle, no
    UDF). Identical SQL on DuckDB's native time_bucket."""
    eng = AnalyticsEngine(
        _scratch("andb_tb_"), spark=spark, attach_dir=sf_dir
    )
    r = eng.execute(
        "select time_bucket(interval '6 hours', ts) as bucket,"
        " event_type, count(*) as n, round(sum(value), 2) as amt"
        " from events group by bucket, event_type"
        " order by bucket, event_type"
    )
    return _rows_df(spark,
        r.rows,
        "bucket timestamp, event_type string, n bigint, amt double",
    )


def u_upsert_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT .. ON CONFLICT (api.py::_insert_on_conflict, the
    Postgres/DuckDB upsert syntax lowered onto MERGE): CTAS a keyed
    slice of ``orders``, upsert an overlapping doubled-price slice —
    conflicts update, new keys insert. The oracle restates the upsert
    declaratively (full outer join, source value wins), the same
    mutate-then-select grading as u_dml_roundtrip."""
    eng = AnalyticsEngine(
        _scratch("andb_up_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    e(
        "create table up_t as select o_orderkey as k,"
        " o_totalprice as v from orders where o_orderkey < 500"
    )
    e(
        "insert into up_t select o_orderkey, o_totalprice * 2"
        " from orders where o_orderkey >= 250 and o_orderkey < 750"
        " on conflict (k) do update set v = excluded.v"
    )
    r = e("select k, v from up_t order by k")
    return _rows_df(spark,r.rows, "k bigint, v double")


def u_cast_spellings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-cast dialect spellings (r13 verdict #1/#2 — the
    round's one silent seam): unaliased select-item casts must carry
    DuckDB's output column name (``CAST(v AS VARCHAR)``) so a
    trailing ``ORDER BY v`` keeps binding to the INTEGER base column
    instead of Spark's auto-alias ``v`` (which silently reordered
    rows as strings), and ``text`` / ``char varying`` /
    ``varchar(n)-in-cast`` all normalize (api.py
    _normalize_string_cast_spellings + _alias_unaliased_string_
    casts). The LIMIT makes the ORDER BY binding content-visible."""
    eng = AnalyticsEngine(
        _scratch("andb_cs_"), spark=spark, attach_dir=sf_dir
    )
    e = eng.execute
    e(
        "create table cs_t as select o_orderkey as v,"
        " o_orderstatus as s from orders where o_orderkey < 3000"
    )
    r = e(
        "select cast(v as varchar), s::text,"
        " try_cast(v as char varying),"
        " cast(v as varchar(2)) as v2,"
        " upper(cast(s as text)) as u"
        " from cs_t order by v limit 500"
    )
    return _rows_df(spark,r.rows, list(r.columns))


def u_fn_parity_r14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r14 function-parity batch end to end: time_bucket's
    3-arg offset form (subtract-then-add over the 2000-01-03 grid —
    a '2 days' width with a '12 hours' offset distinguishes the
    DuckDB origin from the epoch), list-form quantile_disc (one
    sorted-array probe per probability, aggregates resolved inside
    the transform lambda; elements projected out 1-based — the
    driver canon hashes scalar cells only), quantile_cont scalar, and stepless
    generate_series returning [] when start > stop. Identical SQL
    is the DuckDB oracle."""
    eng = AnalyticsEngine(
        _scratch("andb_fp_"), spark=spark, attach_dir=sf_dir
    )
    r = eng.execute(
        "select time_bucket(interval '2 days', ts,"
        " interval '12 hours') as bucket, count(*) as n,"
        " quantile_disc(value, [0.25, 0.75])[1] as q25,"
        " quantile_disc(value, [0.25, 0.75])[2] as q75,"
        " round(quantile_cont(value, 0.5), 4) as med,"
        " len(generate_series(5, 1)) as ge"
        " from events group by bucket order by bucket"
    )
    return _rows_df(spark,
        r.rows,
        "bucket timestamp, n bigint, q25 double, q75 double,"
        " med double, ge int",
    )


QUERIES = {
    "u_cast_spellings": u_cast_spellings,
    "u_fn_parity_r14": u_fn_parity_r14,
    "u_dml_roundtrip": u_dml_roundtrip,
    "u_restore_timetravel": u_restore_timetravel,
    "u_txn_rollback": u_txn_rollback,
    "u_alter_schema": u_alter_schema,
    "u_matview_refresh": u_matview_refresh,
    "u_clone_snapshot": u_clone_snapshot,
    "c_catalog_tables": c_catalog_tables,
    "c_catalog_columns": c_catalog_columns,
    "u_asof_sql": u_asof_sql,
    "u_asof_tolerance_sql": u_asof_tolerance_sql,
    "u_asof_subquery_sql": u_asof_subquery_sql,
    "u_insert_by_name": u_insert_by_name,
    "u_update_from": u_update_from,
    "u_range_sql": u_range_sql,
    "u_qualify_sql": u_qualify_sql,
    "u_distinct_on_sql": u_distinct_on_sql,
    "u_distinct_on_qualify": u_distinct_on_qualify,
    "u_union_by_name": u_union_by_name,
    "u_select_replace": u_select_replace,
    "u_upsert_sql": u_upsert_sql,
    "q_fetch_first": q_fetch_first,
    "u_fetch_with_ties": u_fetch_with_ties,
    "u_union_offset": u_union_offset,
    "u_create_or_replace": u_create_or_replace,
    "u_copy_export": u_copy_export,
    "u_insert_by_position": u_insert_by_position,
    "u_update_from_subquery": u_update_from_subquery,
    "u_limit_percent": u_limit_percent,
    "u_columns": u_columns,
    "u_create_view": u_create_view,
    "u_positional_join": u_positional_join,
    "u_create_macro": u_create_macro,
    "u_insert_or_replace": u_insert_or_replace,
    "u_constraints": u_constraints,
    "u_pivot_stmt": u_pivot_stmt,
    "u_sequences": u_sequences,
    "u_returning": u_returning,
    "u_list_ops": u_list_ops,
    "u_window_exclude": u_window_exclude,
    "u_order_nulls": u_order_nulls,
    "u_first_last_ord": u_first_last_ord,
    "u_string_agg_ord": u_string_agg_ord,
    "a_time_bucket": a_time_bucket,
}

ORACLES = {
    "u_cast_spellings": """
        with cs_t as (select o_orderkey as v, o_orderstatus as s
                      from orders where o_orderkey < 3000)
        select cast(v as varchar), s::text,
         try_cast(v as char varying),
         cast(v as varchar(2)) as v2,
         upper(cast(s as text)) as u
         from cs_t order by v limit 500
    """,
    "u_fn_parity_r14": """
        select time_bucket(interval '2 days', ts,
         interval '12 hours') as bucket, count(*) as n,
         quantile_disc(value, [0.25, 0.75])[1] as q25,
         quantile_disc(value, [0.25, 0.75])[2] as q75,
         round(quantile_cont(value, 0.5), 4) as med,
         len(generate_series(5, 1)) as ge
         from events group by bucket order by bucket
    """,
    "u_string_agg_ord": """
        select o_orderpriority as pri,
         string_agg(o_orderstatus, '' order by o_orderkey) as st,
         quantile_disc(o_totalprice, 0.5) as med,
         array_to_string(list(distinct o_orderstatus
         order by o_orderstatus), '|') as kinds,
         list_aggregate(generate_series(1, 3), 'sum') as gs,
         count(*) as n
         from (select * from orders where o_orderkey < 3000) t
         group by pri order by pri
    """,
    "a_time_bucket": """
        select time_bucket(interval '6 hours', ts) as bucket,
         event_type, count(*) as n, round(sum(value), 2) as amt
         from events group by bucket, event_type
         order by bucket, event_type
    """,
    "u_order_nulls": """
        select k, v,
         row_number() over (partition by s order by nk, k) as rn,
         first_value(v) over (partition by s order by nk, k) as fv,
         lag(v) over (partition by s order by nk, k) as lv,
         cast(sum(v) over (partition by s order by nk, k) as double)
         as cs
         from (select o_orderkey as k, o_orderstatus as s,
         nullif(o_custkey % 7, 3) as nk, o_orderkey % 997 as v
         from orders where o_orderkey < 6000) t order by k
    """,
    "u_first_last_ord": """
        with flo_t as (
          select o_orderkey % 9 as g,
                 case when o_orderkey % 11 = 3 then null
                      else o_orderkey end as k,
                 case when o_orderkey % 11 = 3 then -1
                      else o_orderkey % 997 end as v
          from orders where o_orderkey < 6000
          union all
          select * from (values (99, null, 7), (99, null, 7))
            v(g, k, v)
        )
        select g, first(v order by k, v) as fa,
               last(v order by k, v) as la,
               first(v order by k desc, v desc) as fd,
               last(v order by k desc, v desc) as ld,
               count(*) as n from flo_t group by g order by g
    """,
    "u_window_exclude": """
        select k,
         cast(sum(p) over (partition by s order by ck range between
         unbounded preceding and current row exclude group)
         as double) as rg,
         cast(sum(p) over (partition by s order by ck range between
         10 preceding and 20 following exclude ties)
         as double) as rt,
         count(*) over (partition by s order by ck range between
         unbounded preceding and current row exclude group) as cg,
         cast(sum(p) over (partition by s order by ck rows between
         unbounded preceding and unbounded following
         exclude group) as double) as rs,
         round(avg(p) over (partition by s order by ck rows between
         unbounded preceding and unbounded following exclude ties),
         4) as ra,
         cast(sum(p) over (partition by s order by ck, k rows
         between 2 preceding and 2 following exclude current row)
         as double) as rc
         from (select o_orderkey as k, o_orderstatus as s,
         o_custkey % 50 as ck, o_orderkey % 997 as p
         from orders where o_orderkey < 6000) t order by k
    """,
    "u_list_ops": """
        WITH base AS (
          SELECT o_orderkey AS k,
                 [o_orderkey % 7, o_orderkey % 5, o_orderkey % 3] AS xs,
                 {'s': o_orderstatus, 'p': round(o_totalprice, 2)} AS st
          FROM orders WHERE o_orderkey < 4000
          UNION ALL
          SELECT * FROM (VALUES
            (CAST(9000001 AS BIGINT),
             [CAST(41 AS BIGINT), 42], {'s': 'Z', 'p': 0.5}),
            (9000002, [CAST(43 AS BIGINT)], {'s': 'Y', 'p': 1.5})
          ) v(k, xs, st)
        )
        SELECT k, xs[1] AS first_el, xs[-1] AS last_el, xs[4] AS oob,
               xs[k % 4] AS dyn, xs[2:][1] AS second_el,
               len(xs[:2]) AS head_n, len(xs) AS n,
               st.s AS s, st.p AS p
        FROM base ORDER BY k
    """,
    "q_fetch_first": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        OFFSET 10 ROWS FETCH NEXT 25 ROWS ONLY
    """,
    "u_fetch_with_ties": """
        SELECT o_orderkey, o_custkey, o_orderstatus
        FROM (SELECT o_orderkey, o_custkey, o_orderstatus,
                     rank() OVER (ORDER BY o_orderstatus) AS rk
              FROM orders WHERE o_orderkey < 8000) t
        WHERE rk <= 40
        ORDER BY o_orderkey
    """,
    "u_union_offset": """
        SELECT count(*) AS n, coalesce(max(k), -1) AS mk FROM
        (SELECT o_orderkey AS k, o_orderstatus AS status FROM orders
         WHERE o_orderkey < 200
         UNION ALL BY NAME
         SELECT l_orderkey AS k, l_quantity AS qty FROM lineitem
         WHERE l_orderkey < 200
         OFFSET 100000000) t
    """,
    "u_create_or_replace": """
        WITH repl AS (
            SELECT o_orderkey AS k, round(o_totalprice * 2, 2) AS v
            FROM orders
            WHERE o_orderkey < 2000 AND o_orderstatus = 'F'
        )
        SELECT t.k, t.v, (SELECT count(*) FROM repl) AS n
        FROM repl t ORDER BY t.k
    """,
    "u_copy_export": """
        WITH g AS (
            SELECT o_custkey AS c, round(sum(o_totalprice), 2) AS total,
                   count(*) AS n,
                   row_number() OVER (
                       ORDER BY round(sum(o_totalprice), 2) DESC,
                                o_custkey) AS rn
            FROM orders WHERE o_orderkey < 3000
            GROUP BY o_custkey
        )
        SELECT c, total, n FROM g WHERE rn <= 50 ORDER BY c
    """,
    "u_insert_by_position": """
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey < 700
        UNION ALL
        SELECT CAST(999991 AS BIGINT), 'Z', CAST(1.25 AS DOUBLE)
        ORDER BY o_orderkey
    """,
    "u_columns": """
        SELECT o_orderstatus, min(COLUMNS('o_total.*')),
               count(COLUMNS('o_orderkey'))
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "u_limit_percent": """
        SELECT o_orderkey, o_totalprice
        FROM orders WHERE o_orderkey < 4000
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 25%
    """,
    "u_update_from_subquery": """
        WITH t AS (
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders WHERE o_orderkey < 1500
        ),
        s AS (
            SELECT DISTINCT o_custkey AS k,
                   CAST(o_custkey % 4 + 1 AS DOUBLE) AS f
            FROM orders WHERE o_orderkey < 1500
        )
        SELECT t.o_orderkey, t.o_custkey,
               CASE WHEN s.f >= 3
                    THEN round(t.o_totalprice * s.f, 2)
                    ELSE t.o_totalprice END AS o_totalprice
        FROM t JOIN s ON t.o_custkey = s.k
        WHERE t.o_custkey % 4 <> 0
        ORDER BY t.o_orderkey
    """,
    "u_insert_or_replace": """
        WITH base AS (
            SELECT o_orderkey AS k, o_totalprice AS v FROM orders
            WHERE o_orderkey < 500
        ),
        repl AS (
            SELECT o_orderkey AS k, round(o_totalprice * 2, 2) AS v
            FROM orders WHERE o_orderkey >= 250 AND o_orderkey < 750
        ),
        after_replace AS (
            SELECT coalesce(r.k, b.k) AS k, coalesce(r.v, b.v) AS v
            FROM base b FULL OUTER JOIN repl r ON b.k = r.k
        ),
        ign AS (
            SELECT o_orderkey AS k, round(o_totalprice * 3, 2) AS v
            FROM orders WHERE o_orderkey >= 600 AND o_orderkey < 900
        )
        SELECT k, v FROM after_replace
        UNION ALL
        SELECT k, v FROM ign
        WHERE k NOT IN (SELECT k FROM after_replace)
        ORDER BY k
    """,
    "u_sequences": """
        SELECT * FROM (VALUES
            (CAST(5 AS BIGINT), 1.5, CAST(15 AS BIGINT)),
            (7, 2.5, 15), (9, 3.5, 15), (11, 10.5, 15),
            (1000, 11.5, 15), (13, 12.5, 15), (15, 20.5, 15)
        ) AS t(k, v, cur) ORDER BY v
    """,
    "u_returning": """
        WITH base AS (
            SELECT o_orderkey AS k, o_totalprice AS v
            FROM orders WHERE o_orderkey < 600
        )
        SELECT 'i' AS tag, o_orderkey + 1000000 AS k,
               round(o_totalprice, 2) AS v
        FROM orders WHERE o_orderkey < 200
        UNION ALL
        SELECT 'u', k, round(v * 2, 2) FROM base WHERE k < 300
        UNION ALL
        SELECT 'd', k, round(v, 2) FROM base
        WHERE k >= 300 AND k < 450
        ORDER BY tag, k
    """,
    "u_pivot_stmt": """
        PIVOT orders ON o_orderstatus USING
        min(o_totalprice) AS lo, count(*) AS n
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "u_constraints": """
        WITH ins1 AS (
            SELECT o_orderkey AS k, o_totalprice AS v, 'base' AS tag
            FROM orders WHERE o_orderkey < 400
        ),
        ins2 AS (
            SELECT o_orderkey AS k, o_totalprice AS v, 'x' AS tag
            FROM orders
            WHERE o_orderkey >= 400 AND o_orderkey < 600
        ),
        allr AS (
            SELECT k, v, tag, 1.5 AS bonus, 2.25 AS extra
            FROM (SELECT * FROM ins1 UNION ALL SELECT * FROM ins2)
            UNION ALL
            SELECT 2000001, 10.5, 'base', 1.5, 9.0
        )
        SELECT k, v,
               CASE WHEN k < 100 THEN 'base' ELSE tag END AS tag,
               CASE WHEN k < 100 THEN 3.0 ELSE bonus END AS bonus,
               extra
        FROM allr ORDER BY k
    """,
    "u_create_macro": """
        SELECT o_orderkey AS k,
               round(o_totalprice * 1.2, 2) AS bv,
               round(round(o_totalprice * 1.2, 2) * 2.0, 2) AS b2,
               round(round(o_totalprice * 1.2, 2) * 3.0, 2) AS b3
        FROM orders
        WHERE o_orderkey >= 100 AND o_orderkey < 2000
          AND round(o_orderkey * 1.2, 2) >= 150
        ORDER BY k
    """,
    "u_create_view": """
        WITH cv_base AS (
            SELECT o_orderkey AS k, o_custkey AS c,
                   o_totalprice AS v, o_orderstatus AS s
            FROM orders WHERE o_orderkey < 4000
        ),
        after_del AS (SELECT * FROM cv_base WHERE c % 5 <> 2)
        SELECT s, count(*) AS n, round(sum(v), 2) AS rev,
               round(min(v), 2) AS lo
        FROM after_del GROUP BY s ORDER BY s
    """,
    "u_positional_join": """
        SELECT x.k, x.v, y.c FROM
        (SELECT o_orderkey AS k, o_totalprice AS v FROM orders
         WHERE o_orderkey < 2000
         ORDER BY o_totalprice DESC, o_orderkey) x
        POSITIONAL JOIN
        (SELECT c_custkey AS c FROM customer ORDER BY c_custkey DESC) y
        ORDER BY k NULLS LAST, c NULLS LAST
    """,
    "u_upsert_sql": """
        WITH base AS (
            SELECT o_orderkey AS k, o_totalprice AS v
            FROM orders WHERE o_orderkey < 500
        ),
        src AS (
            SELECT o_orderkey AS k, o_totalprice * 2 AS v
            FROM orders WHERE o_orderkey >= 250 AND o_orderkey < 750
        )
        SELECT COALESCE(b.k, s.k) AS k, COALESCE(s.v, b.v) AS v
        FROM base b FULL JOIN src s ON b.k = s.k
        ORDER BY k
    """,
    "u_distinct_on_sql": """
        SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey,
               o_totalprice
        FROM orders
        ORDER BY o_custkey, o_totalprice DESC, o_orderkey
    """,
    "u_distinct_on_qualify": """
        SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey,
               o_totalprice
        FROM orders
        QUALIFY row_number() OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey) <= 5
        ORDER BY o_custkey, o_totalprice DESC, o_orderkey
    """,
    "u_union_by_name": """
        SELECT o_orderkey AS k, o_totalprice AS price,
               o_orderstatus AS status
        FROM orders WHERE o_orderkey < 1000
        UNION ALL BY NAME
        SELECT l_orderkey AS k, l_extendedprice AS price,
               l_quantity AS qty
        FROM lineitem WHERE l_orderkey < 1000
        ORDER BY k, price
    """,
    "u_select_replace": """
        SELECT * REPLACE (o_totalprice * 2 AS o_totalprice,
                          lower(o_orderstatus) AS o_orderstatus)
        FROM (SELECT o_orderkey, o_orderstatus, o_totalprice,
                     o_custkey
              FROM orders WHERE o_orderkey < 2000) o
        ORDER BY o_orderkey
    """,
    "u_qualify_sql": """
        WITH qual_ev AS (
            SELECT event_id, user_id, epoch_us(ts) AS t_us, event_type
            FROM events
        )
        SELECT user_id, event_id, event_type FROM qual_ev
        QUALIFY row_number() OVER (PARTITION BY user_id
            ORDER BY t_us DESC, event_id DESC) = 1
        ORDER BY user_id
    """,
    "u_range_sql": """
        WITH c AS (
            SELECT event_id AS click_id, user_id, epoch_us(ts) AS t_us
            FROM events WHERE event_type = 'click'
        ),
        w AS (
            SELECT event_id AS purchase_id, user_id AS w_user,
                   epoch_us(ts) - 1800000000 AS lo_us,
                   epoch_us(ts) AS hi_us
            FROM events WHERE event_type = 'purchase'
        )
        SELECT purchase_id, count(1) AS n_clicks,
               min(click_id) AS first_click
        FROM c JOIN w ON c.user_id = w.w_user
                     AND c.t_us BETWEEN w.lo_us AND w.hi_us
        GROUP BY purchase_id ORDER BY purchase_id
    """,
    "u_asof_sql": """
        WITH p AS (
            SELECT event_id, user_id, epoch_us(ts) AS t_us
            FROM events WHERE event_type = 'purchase'
        ),
        c AS (
            SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us
            FROM events WHERE event_type = 'click'
        )
        SELECT p.event_id, p.user_id, c.click_id, c.c_us
        FROM p ASOF JOIN c
          ON p.user_id = c.user_id AND p.t_us >= c.c_us
        ORDER BY p.event_id
    """,
    "u_update_from": """
        WITH s AS (
            SELECT DISTINCT o_custkey AS k,
                   CAST(o_custkey % 5 + 1 AS DOUBLE) AS f
            FROM orders WHERE o_orderkey < 1200
        )
        SELECT t.o_orderkey, t.o_custkey,
               CASE WHEN s.f > 2
                    THEN round(t.o_totalprice * s.f, 2)
                    ELSE t.o_totalprice END AS o_totalprice
        FROM (SELECT o_orderkey, o_custkey, o_totalprice
              FROM orders WHERE o_orderkey < 1200) t
        JOIN s ON t.o_custkey = s.k
        WHERE s.f <> 1
        ORDER BY t.o_orderkey
    """,
    "u_insert_by_name": """
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey < 700
        UNION ALL
        SELECT o_orderkey, CAST(NULL AS VARCHAR) AS o_orderstatus,
               o_totalprice
        FROM orders WHERE o_orderkey >= 700 AND o_orderkey < 900
        ORDER BY o_orderkey
    """,
    "u_asof_subquery_sql": """
        SELECT p.event_id, p.user_id, c.click_id
        FROM (SELECT event_id, user_id, epoch_us(ts) AS t_us
              FROM events WHERE event_type = 'purchase') p
        ASOF JOIN (SELECT event_id AS click_id, user_id,
                          epoch_us(ts) AS c_us
                   FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.t_us >= c.c_us
        ORDER BY p.event_id
    """,
    "u_asof_tolerance_sql": """
        WITH p AS (
            SELECT event_id, user_id, epoch_us(ts) AS t_us
            FROM events WHERE event_type = 'purchase'
        ),
        c AS (
            SELECT event_id AS click_id, user_id, epoch_us(ts) AS c_us
            FROM events WHERE event_type = 'click'
        )
        SELECT p.event_id, p.user_id,
               CASE WHEN p.t_us - c.c_us <= 3600000000
                    THEN c.click_id END AS click_id
        FROM p ASOF LEFT JOIN c
          ON p.user_id = c.user_id AND p.t_us >= c.c_us
        ORDER BY p.event_id
    """,
    "u_txn_rollback": """
        SELECT o_orderkey,
               CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 1
                    ELSE o_totalprice END AS o_totalprice,
               o_orderstatus
        FROM orders WHERE o_orderkey < 1500
        ORDER BY o_orderkey
    """,
    "u_alter_schema": """
        SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS note
        FROM orders WHERE o_orderkey < 1200
        UNION ALL
        SELECT CAST(900001 AS BIGINT), CAST(10.5 AS DOUBLE), 'tagged'
        ORDER BY o_orderkey
    """,
    "u_restore_timetravel": """
        SELECT o_orderkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey < 2000
        ORDER BY o_orderkey
    """,
    "u_dml_roundtrip": """
        WITH base AS (
            SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
            FROM orders WHERE o_orderkey < 1000
        ),
        upd AS (
            SELECT o_orderkey, o_custkey,
                   CASE WHEN o_orderstatus = 'F' THEN o_totalprice * 2
                        ELSE o_totalprice END AS o_totalprice,
                   o_orderstatus
            FROM base
        ),
        del AS (SELECT * FROM upd WHERE NOT (o_custkey % 10 = 3)),
        ins AS (
            SELECT * FROM del
            UNION ALL
            SELECT CAST(999999 AS BIGINT), CAST(1 AS BIGINT),
                   CAST(123.5 AS DOUBLE), 'X'
        )
        SELECT * FROM ins ORDER BY o_orderkey
    """,
    "u_matview_refresh": """
        SELECT o_orderstatus, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue,
               min(o_totalprice) AS smallest,
               max(o_totalprice) AS largest
        FROM orders
        WHERE o_orderkey < 4000 AND o_totalprice > 1000
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    "u_clone_snapshot": """
        SELECT o_orderkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey < 3000
        ORDER BY o_orderkey
    """,
    "c_catalog_tables": """
        SELECT * FROM (VALUES
            ('cat_a', 2, 3, false, CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
            ('cat_b', 2, 2, false, CAST(1 AS BIGINT), CAST(0 AS BIGINT))
        ) AS t(table_name, column_count, version, is_matview,
               notnull_cols, n_indexes)
        ORDER BY table_name
    """,
    "c_catalog_columns": """
        SELECT * FROM (VALUES
            ('cc', 'a', 1, 'int', true,
             CAST(3 AS BIGINT), CAST(3 AS BIGINT)),
            ('cc', 'c', 2, 'double', false,
             CAST(3 AS BIGINT), CAST(3 AS BIGINT)),
            ('cc', 'd', 3, 'text', false,
             CAST(3 AS BIGINT), CAST(3 AS BIGINT))
        ) AS t(table_name, column_name, ordinal, type_name, "notnull",
               n_segments, total_rows)
        ORDER BY ordinal
    """,
}
