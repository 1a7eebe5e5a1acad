"""Property-based differential fuzzing: randomized filter/group/agg
queries executed by BOTH Spark SQL and DuckDB over the same parquet
fixture must agree.

This is the randomized arm of the engine's oracle strategy (SURVEY §5 —
the reference has no golden results at all; we differential-test
everything). The named queries pin one point each in operator space;
the fuzzer walks the cross product of predicates × group keys ×
aggregates and catches semantic drift (null handling, type coercion,
rounding, overflow) that hand-picked queries miss.

Generated SQL sticks to the ANSI subset both engines parse identically,
and floats are compared with a tiny absolute tolerance after rounding on
both sides (different summation orders are legal).
"""

from __future__ import annotations

import datetime
import math

import duckdb
import pytest
from hypothesis import given, seed, settings, strategies as st

# Rotated once per build round (driver round number): @seed makes each
# round's exploration reproducible while successive rounds walk fresh
# regions of the query space instead of re-testing the same examples.
FUZZ_ROUND = 14

from andb_spark.catalog import table_path

NUM_PREDS = [
    ("l_quantity", st.integers(1, 50)),
    ("l_extendedprice", st.integers(1000, 90000)),
    ("l_discount", st.sampled_from([0.02, 0.05, 0.08])),
    ("l_suppkey", st.integers(1, 10)),
]
OPS = ["<", "<=", ">", ">=", "="]

predicate = st.one_of(
    st.tuples(st.sampled_from(NUM_PREDS), st.sampled_from(OPS)).flatmap(
        lambda t: t[0][1].map(lambda v: f"{t[0][0]} {t[1]} {v}")
    ),
    st.sampled_from(
        [
            "l_returnflag IN ('A', 'N')",
            "l_linestatus = 'F'",
            "l_returnflag <> 'R'",
            "l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1998-06-30'",
            "l_quantity BETWEEN 10 AND 40",
            "l_tax IS NOT NULL",
        ]
    ),
)

group_key = st.sampled_from(
    [
        "l_returnflag",
        "l_linestatus",
        "l_returnflag, l_linestatus",
        "l_suppkey % 3",
        "",  # global aggregate
    ]
)

aggregates = st.lists(
    st.sampled_from(
        [
            "count(*)",
            "round(sum(l_quantity), 2)",
            "round(min(l_extendedprice), 2)",
            "round(max(l_extendedprice), 2)",
            "round(avg(l_discount), 6)",
            "count(distinct l_partkey)",
            "round(sum(l_extendedprice * (1 - l_discount)), 2)",
        ]
    ),
    min_size=1,
    max_size=3,
    unique=True,
)


def _build_sql(preds: list[str], key: str, aggs: list[str]) -> str:
    cols = [f"{a} AS a{i}" for i, a in enumerate(aggs)]
    select = (", ".join(filter(None, [key])) + ", " if key else "") + ", ".join(cols)
    sql = f"SELECT {select} FROM lineitem"
    if preds:
        sql += " WHERE " + " AND ".join(preds)
    if key:
        sql += f" GROUP BY {key}"
    return sql


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return round(v, 4)
    return v


def _rowset(rows):
    return sorted(
        (tuple(_norm_cell(c) for c in r) for r in rows),
        key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t),
    )


@pytest.fixture(scope="module")
def engines(spark, sf_dir):
    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        spark.read.parquet(table_path(sf_dir, t)).createOrReplaceTempView(t)
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{table_path(sf_dir, t)}')"
        )
    return spark, con


# Window-function fuzz arm. Every OVER clause orders by a TOTAL order
# (the chosen sort column + the (l_orderkey, l_linenumber) unique key)
# so rank/lag results are deterministic and engine-independent.
_WIN_PARTITION = st.sampled_from(
    ["l_returnflag", "l_linestatus", "l_suppkey % 5", ""]
)
_WIN_ORDER = st.sampled_from(["l_quantity", "l_extendedprice", "l_shipdate"])
_WIN_FUNC = st.sampled_from(
    [
        "row_number()",
        "rank()",
        "dense_rank()",
        "lag(l_quantity, 1)",
        "lead(l_quantity, 1)",
        "ntile(4)",
        "PCT_RANK",
        "CUME_DIST",
        "first_value(l_quantity)",
        "SUM_ROWS",     # running sum with an explicit ROWS frame
        "SUM_SLIDING",  # bounded ROWS frame (3 PRECEDING..1 FOLLOWING)
        "MIN_FOLLOW",   # forward-looking ROWS frame
    ]
)


def _build_window_sql(part: str, order: str, fn: str) -> str:
    over = (
        (f"PARTITION BY {part} " if part else "")
        + f"ORDER BY {order}, l_orderkey, l_linenumber"
    )
    frames = {
        "SUM_ROWS": (
            f"round(sum(l_quantity) OVER ({over}"
            f" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)"
        ),
        "SUM_SLIDING": (
            f"round(sum(l_quantity) OVER ({over}"
            f" ROWS BETWEEN 3 PRECEDING AND 1 FOLLOWING), 2)"
        ),
        "MIN_FOLLOW": (
            f"min(l_linenumber) OVER ({over}"
            f" ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING)"
        ),
        # round() wraps the whole window expression — `round(f()) OVER`
        # would attach OVER to round and both engines reject it
        "PCT_RANK": f"round(percent_rank() OVER ({over}), 6)",
        "CUME_DIST": f"round(cume_dist() OVER ({over}), 6)",
    }
    expr = frames.get(fn, f"{fn} OVER ({over})")
    return (
        f"SELECT l_orderkey, l_linenumber, {expr} AS w FROM lineitem"
        f" WHERE l_orderkey < 500"
    )


@seed(FUZZ_ROUND)
@settings(max_examples=15, deadline=None)
@given(part=_WIN_PARTITION, order=_WIN_ORDER, fn=_WIN_FUNC)
def test_random_window_query_agrees_with_duckdb(engines, part, order, fn):
    spark, con = engines
    sql = _build_window_sql(part, order, fn)
    srows = [tuple(r) for r in spark.sql(sql).collect()]
    drows = con.execute(sql).fetchall()
    assert len(srows) == len(drows), sql
    for srow, drow in zip(_rowset(srows), _rowset(drows)):
        for a, b in zip(srow, drow):
            if isinstance(a, float) or isinstance(b, float):
                assert math.isclose(
                    float(a), float(b), rel_tol=1e-9, abs_tol=1e-4
                ), (sql, srow, drow)
            else:
                assert a == b, (sql, srow, drow)


# Join fuzz arm: lineitem ⋈ orders with random join type / filters /
# grouping. Semi/anti shapes are covered via EXISTS predicates (the
# spelling both engines parse identically).
_JOIN_TYPE = st.sampled_from(["JOIN", "LEFT JOIN", "RIGHT JOIN"])
_JOIN_PRED = st.sampled_from(
    [
        "",
        "o_orderstatus = 'F'",
        "l_quantity > 25",
        "o_totalprice < 150000",
        "EXISTS (SELECT 1 FROM orders o2 WHERE o2.o_orderkey = l_orderkey"
        " AND o2.o_orderpriority = '1-URGENT')",
        "NOT EXISTS (SELECT 1 FROM orders o2 WHERE o2.o_orderkey ="
        " l_orderkey AND o2.o_orderstatus = 'P')",
    ]
)
_JOIN_KEY = st.sampled_from(
    ["o_orderpriority", "l_returnflag", "o_orderstatus, l_linestatus"]
)


def _build_join_sql(jt: str, pred: str, key: str) -> str:
    sql = (
        f"SELECT {key}, count(*) AS a0,"
        f" round(sum(l_extendedprice), 2) AS a1,"
        f" count(o_orderkey) AS a2"
        f" FROM lineitem {jt} orders ON l_orderkey = o_orderkey"
    )
    if pred:
        sql += f" WHERE {pred}"
    return sql + f" GROUP BY {key}"


@seed(FUZZ_ROUND)
@settings(max_examples=15, deadline=None)
@given(jt=_JOIN_TYPE, pred=_JOIN_PRED, key=_JOIN_KEY)
def test_random_join_query_agrees_with_duckdb(engines, jt, pred, key):
    spark, con = engines
    sql = _build_join_sql(jt, pred, key)
    srows = [tuple(r) for r in spark.sql(sql).collect()]
    drows = con.execute(sql).fetchall()
    assert len(srows) == len(drows), sql
    for srow, drow in zip(_rowset(srows), _rowset(drows)):
        for a, b in zip(srow, drow):
            if isinstance(a, float) or isinstance(b, float):
                assert math.isclose(
                    float(a), float(b), rel_tol=1e-9, abs_tol=1e-4
                ), (sql, srow, drow)
            else:
                assert a == b, (sql, srow, drow)


@seed(FUZZ_ROUND)
@settings(max_examples=25, deadline=None)
@given(
    preds=st.lists(predicate, max_size=2, unique=True),
    key=group_key,
    aggs=aggregates,
)
def test_random_query_agrees_with_duckdb(engines, preds, key, aggs):
    spark, con = engines
    sql = _build_sql(preds, key, aggs)
    srows = [tuple(r) for r in spark.sql(sql).collect()]
    drows = con.execute(sql).fetchall()
    assert len(srows) == len(drows), sql
    s_set, d_set = _rowset(srows), _rowset(drows)
    for srow, drow in zip(s_set, d_set):
        assert len(srow) == len(drow), sql
        for a, b in zip(srow, drow):
            if isinstance(a, float) or isinstance(b, float):
                assert a is not None and b is not None and math.isclose(
                    float(a), float(b), rel_tol=1e-9, abs_tol=1e-4
                ), (sql, srow, drow)
            else:
                assert a == b, (sql, srow, drow)


# Set-operation fuzz arm (SURVEY §2.6 — every set op is dead in the
# reference; here each is differential-tested across random operand
# pairs). Projections stick to discrete columns so the comparison is
# exact, and ALL-variants exercise bag (multiset) semantics.
_SET_OP = st.sampled_from(
    ["UNION", "UNION ALL", "INTERSECT", "INTERSECT ALL",
     "EXCEPT", "EXCEPT ALL"]
)
_SET_COLS = st.sampled_from(
    [
        "l_returnflag, l_linestatus",
        "l_suppkey % 5 AS k",
        "l_returnflag",
        "l_linenumber, l_returnflag",
    ]
)


@seed(FUZZ_ROUND)
@settings(max_examples=20, deadline=None)
@given(op=_SET_OP, cols=_SET_COLS, pa=predicate, pb=predicate)
def test_random_set_operation_agrees_with_duckdb(engines, op, cols, pa, pb):
    spark, con = engines
    sql = (
        f"SELECT {cols} FROM lineitem WHERE {pa}"
        f" {op} "
        f"SELECT {cols} FROM lineitem WHERE {pb}"
    )
    srows = [tuple(r) for r in spark.sql(sql).collect()]
    drows = con.execute(sql).fetchall()
    assert _rowset(srows) == _rowset(drows), sql


# Grouping-sets fuzz arm: ROLLUP / CUBE / explicit GROUPING SETS over
# two categorical columns, with grouping() markers in the output. The
# subtotal rows' NULLs are the classic cross-engine divergence surface
# (NULL-as-data vs NULL-as-group-marker; which sets each shape expands
# to); grouping(col) makes marker NULLs distinguishable so the compare
# is exact, and a random predicate varies the input slice.
_GS_COLS = st.sampled_from(
    [("l_returnflag", "l_linestatus"), ("l_linestatus", "l_returnflag")]
)
_GS_SHAPE = st.sampled_from(
    [
        "ROLLUP({a}, {b})",
        "CUBE({a}, {b})",
        "GROUPING SETS (({a}, {b}), ({a}), ())",
        "GROUPING SETS (({a}), ({b}))",
        "GROUPING SETS (({a}, {b}), ())",
    ]
)
_GS_AGG = st.sampled_from(
    [
        "count(*)",
        "round(sum(l_quantity), 2)",
        "min(l_linenumber)",
        "round(avg(l_extendedprice), 4)",
        "count(DISTINCT l_suppkey % 7)",
    ]
)


@seed(FUZZ_ROUND)
@settings(max_examples=15, deadline=None)
@given(cols=_GS_COLS, shape=_GS_SHAPE, agg=_GS_AGG, pred=predicate)
def test_random_grouping_sets_agree_with_duckdb(engines, cols, shape, agg, pred):
    from hypothesis import assume

    spark, con = engines
    a, b = cols
    # Known engine divergence, found by this arm's first run: over an
    # EMPTY input slice, ANSI (and DuckDB) still emit one grand-total
    # row for a grouping set that contains () — a global aggregate
    # over empty input is one row — while Spark's Expand-based
    # grouping-sets implementation turns every set into a keyed
    # aggregate and returns ZERO rows. That is Spark's documented
    # engine behavior, not an andb_spark defect (none of our registry
    # queries aggregate an empty slice through ROLLUP/CUBE), so the
    # arm compares the engines on non-empty slices only.
    assume(
        con.execute(
            f"SELECT count(*) FROM lineitem WHERE {pred}"
        ).fetchone()[0]
        > 0
    )
    sql = (
        f"SELECT {a}, {b}, grouping({a}) AS ga, grouping({b}) AS gb,"
        f" {agg} AS v FROM lineitem WHERE {pred}"
        f" GROUP BY {shape.format(a=a, b=b)}"
    )
    srows = [tuple(r) for r in spark.sql(sql).collect()]
    drows = con.execute(sql).fetchall()
    assert len(srows) == len(drows), sql
    for srow, drow in zip(_rowset(srows), _rowset(drows)):
        assert srow == drow, (sql, srow, drow)


# Subquery fuzz arm (VERDICT r1 item 10): scalar / IN / EXISTS /
# derived-table shapes composed with random predicates. NOT IN is kept
# on non-nullable key columns so its three-valued-logic trap doesn't
# make the query itself undefined — the engines must still agree on the
# well-defined cases.
_SUBQ_SHAPE = st.sampled_from(["scalar_where", "in", "not_in", "exists",
                               "derived", "scalar_select"])
_SUBQ_ORDER_PRED = st.sampled_from(
    [
        "o_orderstatus = 'F'",
        "o_orderpriority = '1-URGENT'",
        "o_totalprice > 100000",
        "o_custkey % 3 = 0",
    ]
)


def _build_subquery_sql(shape: str, pred: str, opred: str) -> str:
    if shape == "scalar_where":
        return (
            "SELECT count(*) AS a0 FROM lineitem WHERE "
            f"{pred} AND l_quantity > "
            "(SELECT avg(l_quantity) FROM lineitem)"
        )
    if shape == "in":
        return (
            "SELECT count(*) AS a0, count(distinct l_orderkey) AS a1 "
            "FROM lineitem WHERE l_orderkey IN "
            f"(SELECT o_orderkey FROM orders WHERE {opred}) AND {pred}"
        )
    if shape == "not_in":
        return (
            "SELECT count(*) AS a0 FROM lineitem WHERE l_orderkey NOT IN "
            f"(SELECT o_orderkey FROM orders WHERE {opred}) AND {pred}"
        )
    if shape == "exists":
        return (
            "SELECT l_returnflag, count(*) AS a0 FROM lineitem WHERE "
            f"{pred} AND EXISTS (SELECT 1 FROM orders WHERE "
            f"o_orderkey = l_orderkey AND {opred}) GROUP BY l_returnflag"
        )
    if shape == "derived":
        return (
            "SELECT k, count(*) AS a0, round(sum(q), 2) AS a1 FROM "
            f"(SELECT l_suppkey % 7 AS k, l_quantity AS q FROM lineitem "
            f"WHERE {pred}) d GROUP BY k"
        )
    return (  # scalar_select
        "SELECT count(*) AS a0, "
        "(SELECT round(max(o_totalprice), 2) FROM orders WHERE "
        f"{opred}) AS a1 FROM lineitem WHERE {pred}"
    )


@seed(FUZZ_ROUND)
@settings(max_examples=18, deadline=None)
@given(shape=_SUBQ_SHAPE, pred=predicate, opred=_SUBQ_ORDER_PRED)
def test_random_subquery_agrees_with_duckdb(engines, shape, pred, opred):
    spark, con = engines
    sql = _build_subquery_sql(shape, pred, opred)
    srows = [tuple(r) for r in spark.sql(sql).collect()]
    drows = con.execute(sql).fetchall()
    assert len(srows) == len(drows), sql
    for srow, drow in zip(_rowset(srows), _rowset(drows)):
        for a, b in zip(srow, drow):
            if isinstance(a, float) or isinstance(b, float):
                assert math.isclose(
                    float(a), float(b), rel_tol=1e-9, abs_tol=1e-4
                ), (sql, srow, drow)
            else:
                assert a == b, (sql, srow, drow)


# Expression-nesting fuzz arm: recursively composed integer expressions
# (arithmetic, CASE, least/greatest, coalesce/nullif, abs) — integer
# domain end-to-end so comparison is EXACT; division appears only at
# the rounded top level. Catches coercion/precedence/null-propagation
# drift that flat expressions miss.
_INT_LEAF = st.sampled_from(
    ["l_quantity", "l_linenumber", "l_suppkey", "l_partkey % 11",
     "3", "7", "-2"]
)


def _combine(children):
    a, b = children

    # Products reduce mod a prime so nested chains can't overflow
    # BIGINT when summed over the fixture — Spark's ANSI mode throws on
    # int64 overflow while DuckDB widens to HUGEINT, which would turn a
    # legal-but-huge expression into a spurious engine divergence under
    # some future FUZZ_ROUND seed. Both engines define % identically
    # for the operand signs involved (sign of the dividend).
    return st.sampled_from(
        [
            f"({a} + {b})",
            f"({a} - {b})",
            f"(({a} * {b}) % 100003)",
            f"abs({a} - {b})",
            f"least({a}, {b})",
            f"greatest({a}, {b})",
            f"coalesce(nullif({a}, {b}), {b})",
            f"(CASE WHEN {a} > {b} THEN {a} ELSE {b} END)",
            f"(CASE WHEN {a} = {b} THEN 0 WHEN {a} < {b} THEN -1 ELSE 1 END)",
        ]
    )


_INT_EXPR = st.recursive(
    _INT_LEAF,
    lambda inner: st.tuples(inner, inner).flatmap(_combine),
    max_leaves=6,
)
_STR_EXPR = st.sampled_from(
    [
        "upper(substr(l_returnflag || l_linestatus, 1, 2))",
        "substr(l_returnflag || '_' || l_linestatus, 2, 2)",
        "coalesce(nullif(l_linestatus, 'F'), l_returnflag)",
        "CASE WHEN length(l_returnflag || l_linestatus) > 1"
        " THEN lower(l_returnflag) ELSE l_returnflag END",
    ]
)


@seed(FUZZ_ROUND)
@settings(max_examples=20, deadline=None)
@given(e1=_INT_EXPR, e2=_INT_EXPR, s=_STR_EXPR, pred=predicate)
def test_random_nested_expression_agrees_with_duckdb(engines, e1, e2, s, pred):
    spark, con = engines
    sql = (
        f"SELECT {s} AS g, count(*) AS a0, sum({e1}) AS a1, "
        f"min({e2}) AS a2, "
        f"round(sum({e1}) / nullif(sum(abs({e2})), 0), 4) AS a3 "
        f"FROM lineitem WHERE {pred} AND l_orderkey < 2000 GROUP BY g"
    )
    srows = [tuple(r) for r in spark.sql(sql).collect()]
    drows = con.execute(sql).fetchall()
    assert len(srows) == len(drows), sql
    for srow, drow in zip(_rowset(srows), _rowset(drows)):
        for a, b in zip(srow, drow):
            if isinstance(a, float) or isinstance(b, float):
                assert (a is None) == (b is None), (sql, srow, drow)
                if a is not None:
                    assert math.isclose(
                        float(a), float(b), rel_tol=1e-9, abs_tol=1e-4
                    ), (sql, srow, drow)
            else:
                assert a == b, (sql, srow, drow)


# LSH-under-skew property arm (VERDICT r2 #7). Adversarial corpora:
# one text exactly duplicated H times collapses H docs into ONE band
# bucket per band (identical signatures), the k² hot-bucket shape that
# stresses the candidate self-join; perturbed near-dups and random
# chaff surround it. Properties (engine-independent, pure-Python
# ground truth):
#   precision — every emitted pair's true Jaccard >= threshold;
#   dup recall — every exact-duplicate pair (J = 1: identical
#       signatures ⇒ guaranteed band collision) is emitted;
#   component collapse — the hot group resolves to one survivor.
_VOCAB = ["spark", "scan", "sort", "join", "agg", "key", "row", "col",
          "map", "hash", "band", "page", "disk", "pool", "node", "plan"]


def _py_shingles(text: str) -> frozenset:
    w = [t for t in text.split() if t]
    return frozenset(
        " ".join(w[i: i + 3]) for i in range(max(len(w) - 2, 0))
    )


def _py_jaccard(a: frozenset, b: frozenset) -> float:
    if not a and not b:
        return 0.0
    return len(a & b) / len(a | b)


@settings(max_examples=4, deadline=None)
@seed(FUZZ_ROUND * 7919 + 13)
@given(
    data=st.data(),
    hot_size=st.integers(40, 120),
    n_chaff=st.integers(30, 80),
)
def test_lsh_skewed_hot_bucket_matches_exact_jaccard(
    spark, data, hot_size, n_chaff
):
    from andb_spark.operators import dedup as DD

    rng_words = st.lists(
        st.sampled_from(_VOCAB), min_size=12, max_size=30
    )
    hot_text = " ".join(data.draw(rng_words, label="hot"))
    rows = [(i, hot_text) for i in range(hot_size)]  # the hot bucket
    next_id = hot_size
    # a few perturbed near-dups of the hot text (high but < 1 Jaccard)
    for _ in range(data.draw(st.integers(2, 6), label="n_near")):
        words = hot_text.split()
        pos = data.draw(st.integers(0, len(words) - 1), label="pos")
        words[pos] = data.draw(st.sampled_from(_VOCAB), label="sub")
        rows.append((next_id, " ".join(words)))
        next_id += 1
    for _ in range(n_chaff):  # random chaff
        rows.append(
            (next_id, " ".join(data.draw(rng_words, label="chaff")))
        )
        next_id += 1

    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in DD.minhash_lsh_pairs(
            df, "text", "doc_id", threshold=0.5
        ).collect()
    }

    sh = {i: _py_shingles(t) for i, t in rows}
    ids = sorted(sh)
    exact = {
        (a, b)
        for ai, a in enumerate(ids)
        for b in ids[ai + 1:]
        if _py_jaccard(sh[a], sh[b]) >= 0.5
    }
    dup_pairs = {
        (a, b)
        for ai, a in enumerate(ids)
        for b in ids[ai + 1:]
        if sh[a] == sh[b] and sh[a]
    }
    # precision: LSH+verify may only emit truly-similar pairs
    assert got <= exact, got - exact
    # guaranteed recall on identical-signature pairs (the hot bucket)
    assert dup_pairs <= got, dup_pairs - got
    # the hot group collapses to one component / one survivor
    from pyspark.sql import functions as SF

    comp = DD.connected_components(
        DD.minhash_lsh_pairs(df, "text", "doc_id", threshold=0.5).select(
            "id_a", "id_b"
        )
    )
    hot_components = {
        r["component_id"]
        for r in comp.filter(SF.col("node") < hot_size).collect()
    }
    assert len(hot_components) == 1


# DML-sequence differential arm: the copy-on-write write path must be
# indistinguishable from a row-store executing the SAME statements.
# Each example seeds an identical table in the engine and in DuckDB,
# applies an identical random INSERT/UPDATE/DELETE sequence (statements
# chosen from the dialect subset both parse), and compares the full
# final contents as multisets.
_DML_STATEMENTS = st.one_of(
    st.tuples(
        st.integers(1, 9), st.integers(2, 7), st.integers(0, 6)
    ).map(lambda t: f"update fz set v = v + {t[0]} where k % {t[1]} = {t[2] % t[1]}"),
    st.integers(10, 190).map(
        lambda c: f"update fz set s = concat(s, 'x') where k < {c}"
    ),
    st.tuples(st.integers(2, 7), st.integers(0, 6)).map(
        lambda t: f"delete from fz where k % {t[0]} = {t[1] % t[0]}"
    ),
    st.integers(50, 500).map(lambda c: f"delete from fz where v > {c}"),
    st.tuples(st.integers(1000, 9999), st.integers(0, 99)).map(
        lambda t: f"insert into fz values ({t[0]}, {t[1]}, 'new{t[0]}')"
    ),
    # zone-map-prunable shapes: simple numeric ranges, including ones
    # disjoint from every segment (must be a clean zero-row no-op)
    st.integers(100, 400).map(lambda c: f"delete from fz where k > {c}"),
    st.tuples(st.integers(0, 150), st.integers(0, 80)).map(
        lambda t: f"update fz set v = 0 where k between {t[0]} and {t[0] + t[1]}"
    ),
    st.just("delete from fz where k > 90000000"),
    st.just("update fz set v = 1 where k between 80000000 and 80000005"),
    # string-predicate shapes — zone-prunable since r4 (short string
    # footer stats): point deletes, lexicographic ranges, and globally
    # disjoint probes that must prune to a clean zero-row no-op
    st.integers(0, 199).map(lambda c: f"delete from fz where s = 'r{c}'"),
    st.integers(0, 150).map(
        lambda c: f"update fz set v = -5 where s between 'r{c}' and 'r{c}9'"
    ),
    st.just("update fz set v = 2 where s > 'zzz'"),
    st.just("delete from fz where s = 'absent'"),
    # DNF shapes — r4 zone maps prune per-disjunct and expand IN
    # lists exactly; the differential check catches any wrong skip
    st.tuples(st.integers(0, 199), st.integers(0, 199)).map(
        lambda t: f"delete from fz where k = {t[0]} or k = {t[1]}"
    ),
    st.lists(st.integers(0, 250), min_size=1, max_size=5).map(
        lambda vs: f"update fz set v = -9 where k in"
        f" ({', '.join(map(str, vs))})"
    ),
    st.tuples(st.integers(0, 80), st.integers(120, 250)).map(
        lambda t: f"delete from fz where k < {t[0]} and v > 10"
        f" or k > {t[1]}"
    ),
)


@settings(max_examples=4, deadline=None)
@seed(FUZZ_ROUND * 104729 + 7)
@given(
    n0=st.integers(50, 200),
    stmts=st.lists(_DML_STATEMENTS, min_size=3, max_size=6),
)
def test_random_dml_sequence_agrees_with_duckdb(spark, n0, stmts):
    import tempfile

    from andb_spark.api import AnalyticsEngine

    eng = AnalyticsEngine(tempfile.mkdtemp(prefix="fz_"), spark=spark)
    con = duckdb.connect()
    eng.execute("create table fz (k int, v int, s text)")
    con.execute("create table fz (k int, v int, s text)")
    eng.execute(
        f"insert into fz select id, id * 2, concat('r', id)"
        f" from range(0, {n0})"
    )
    con.execute(
        f"insert into fz select range, range * 2, 'r' || range"
        f" from range(0, {n0})"
    )
    for s_ in stmts:
        r_eng = eng.execute(s_)
        cur = con.execute(s_)
        # effect_rows must agree with DuckDB's changed-row count
        n_duck = cur.fetchall()[0][0]
        assert r_eng.effect_rows == n_duck, (s_, r_eng.effect_rows, n_duck)
    got = _rowset([tuple(r) for r in eng.execute("select * from fz").rows])
    want = _rowset(con.execute("select * from fz").fetchall())
    assert got == want
    # zone-prunable SELECT probes over whatever segment layout the DML
    # sequence left behind: the read-path data skipping (_zone_prune_view)
    # must agree with DuckDB's full scan, including the all-segments-
    # pruned empty case
    for sel in (
        "select * from fz where k between 10 and 60",
        "select * from fz where k > 90000000",
        f"select * from fz where k >= {n0 // 2}",
        # string zone maps (r4): equality, range, IN-hull, disjoint
        f"select * from fz where s = 'r{n0 // 3}'",
        "select * from fz where s between 'r1' and 'r2'",
        "select * from fz where s in ('r7', 'r11', 'r13')",
        "select * from fz where s > 'zzz'",
        # DNF read probes (r4): OR of points, OR across columns
        f"select * from fz where k = 7 or k = {n0 + 900}",
        "select * from fz where s = 'r1' or k > 190",
    ):
        got = _rowset([tuple(r) for r in eng.execute(sel).rows])
        want = _rowset(con.execute(sel).fetchall())
        assert got == want, sel


# ------------------------------------------------- INSERT fast path --
# The driver-side literal INSERT re-implements literal→column-type
# conversion (api._try_literal_append). Differential arm: the same
# VALUES statement inserted through the fast path and through the
# forced-Spark path must produce identical tables.

_INS_COLTYPES = ["int", "bigint", "real", "double", "boolean", "text",
                 "varchar(3)", "varchar", "string", "date"]


def _ins_value(typ):
    if typ == "int":
        return st.one_of(
            st.integers(-(2**31), 2**31 - 1), st.none()
        )
    if typ == "bigint":
        return st.one_of(
            st.integers(-(2**63) + 1, 2**63 - 1), st.none()
        )
    if typ in ("real", "double"):
        return st.one_of(
            st.integers(-10**6, 10**6).map(lambda i: i / 1000.0), st.none()
        )
    if typ == "boolean":
        return st.one_of(st.booleans(), st.none())
    if typ == "date":
        return st.one_of(
            st.dates(datetime.date(1000, 1, 1), datetime.date(9999, 12, 31)),
            st.none(),
        )
    return st.one_of(  # text / varchar / string
        st.text(
            alphabet="ab'(),;% éß0",
            max_size=8,
        ),
        st.none(),
    )


@st.composite
def _ins_case(draw):
    types = draw(
        st.lists(st.sampled_from(_INS_COLTYPES), min_size=1, max_size=4)
    )
    rows = draw(
        st.lists(
            st.tuples(*[_ins_value(t) for t in types]),
            min_size=1,
            max_size=4,
        )
    )
    return types, rows


def _ins_literal(typ, v):
    if v is None:
        return "null"
    if typ == "boolean":
        return "true" if v else "false"
    if typ in ("real", "double"):
        return f"{v:.3f}"  # matches the fast path's -?\d+\.\d+ shape
    if typ in ("int", "bigint"):
        return str(v)
    if typ == "date":
        return f"date '{v.isoformat()}'"
    return "'" + str(v).replace("'", "''") + "'"


@settings(max_examples=12, deadline=None)
@seed(FUZZ_ROUND * 104729 + 11)
@given(case=_ins_case())
def test_literal_insert_fast_path_matches_spark_path(spark, case):
    import tempfile

    from andb_spark.api import AnalyticsEngine

    types, rows = case
    cols = ", ".join(f"c{i} {t}" for i, t in enumerate(types))
    values = ", ".join(
        "(" + ", ".join(_ins_literal(t, v) for t, v in zip(types, r)) + ")"
        for r in rows
    )
    results = []
    for force_spark in (False, True):
        eng = AnalyticsEngine(tempfile.mkdtemp(prefix="insfz_"), spark=spark)
        if force_spark:
            eng._try_literal_append = lambda *a, **k: None
        eng.execute(f"create table fi ({cols})")
        r = eng.execute(f"insert into fi values {values}")
        assert r.effect_rows == len(rows)
        results.append(
            sorted(
                eng.execute("select * from fi").rows,
                key=lambda t: tuple((x is None, str(x)) for x in t),
            )
        )
    fast, via_spark = results
    assert len(fast) == len(via_spark)
    for ra, rb in zip(fast, via_spark):
        for t, a, b in zip(types, ra, rb):
            if t in ("real", "double") and a is not None:
                assert b is not None and math.isclose(
                    a, b, rel_tol=1e-6, abs_tol=1e-9
                ), (t, a, b)
            else:
                assert a == b, (t, a, b)


# The constrained variant: a PRIMARY KEY, a UNIQUE of a drawn type and
# a CHECK, with keys from small domains so batches collide with each
# other and with earlier batches. The driver-side constraint decisions
# (api._decide_literal_constraints) must give the forced-Spark path's
# outcome — effect_rows or the exact violation message — and table.
_CON_UVALS = {
    "bigint": st.integers(0, 4),
    "varchar": st.sampled_from(["a", "b", "c'd", ""]),
    "date": st.dates(datetime.date(1999, 12, 30), datetime.date(2000, 1, 2)),
}


@st.composite
def _ins_constrained_case(draw):
    utype = draw(st.sampled_from(sorted(_CON_UVALS)))
    row = st.tuples(
        st.one_of(st.integers(-1, 6), st.none()),
        st.one_of(_CON_UVALS[utype], st.none()),
        st.one_of(st.integers(-2, 8).map(lambda i: i / 2), st.none()),
    )
    batches = draw(
        st.lists(st.lists(row, min_size=1, max_size=3), min_size=1,
                 max_size=3)
    )
    return utype, batches


@settings(max_examples=12, deadline=None)
@seed(FUZZ_ROUND * 104729 + 11)
@given(case=_ins_constrained_case())
def test_literal_insert_constrained_matches_spark_path(spark, case):
    import tempfile

    from andb_spark.api import AnalyticsEngine, EngineError

    utype, batches = case
    types = ("bigint", utype, "double")
    results = []
    for force_spark in (False, True):
        eng = AnalyticsEngine(tempfile.mkdtemp(prefix="insfz_"), spark=spark)
        if force_spark:
            eng._try_literal_append = lambda *a, **k: None
        eng.execute(
            f"create table fc (k bigint primary key, u {utype} unique,"
            " v double check (v >= 0))"
        )
        seen = []
        for rows in batches:
            values = ", ".join(
                "(" + ", ".join(_ins_literal(t, v) for t, v in zip(types, r))
                + ")"
                for r in rows
            )
            try:
                seen.append(
                    eng.execute(f"insert into fc values {values}").effect_rows
                )
            except EngineError as e:
                seen.append(str(e))
        seen.append(sorted(
            eng.execute("select * from fc").rows,
            key=lambda t: tuple((x is None, str(x)) for x in t),
        ))
        results.append(seen)
    assert results[0] == results[1]


# Quantified-comparison fuzz arm (r8): the ANY/ALL/SOME rewrite
# (api.py::_rewrite_quantified) vs DuckDB's NATIVE quantifiers on
# randomized probe values and randomized subquery sets — sizes 0..6,
# NULL elements, duplicates, negatives. The named grid
# (test_parser_surfaces_differential.py) pins the 3VL corner cases;
# this walks the value space. Identical SQL text through both engines;
# sets are inline VALUES subqueries so each example is self-contained.
@pytest.fixture(scope="module")
def quant_fuzz_engine(spark, tmp_path_factory):
    from andb_spark.api import AnalyticsEngine

    eng = AnalyticsEngine(
        str(tmp_path_factory.mktemp("whquantfuzz")), spark=spark
    )
    eng.execute("create table qprobe (x int)")
    eng.execute(
        "insert into qprobe values (-3), (0), (2), (2), (7), (null)"
    )
    con = duckdb.connect()
    con.execute("create table qprobe (x int)")
    con.execute(
        "insert into qprobe values (-3), (0), (2), (2), (7), (null)"
    )
    yield eng, con
    eng.close()


@seed(FUZZ_ROUND)
@settings(max_examples=30, deadline=None)
@given(
    op=st.sampled_from(["=", "<>", ">", ">=", "<", "<="]),
    quant=st.sampled_from(["any", "all", "some"]),
    vals=st.lists(
        st.one_of(st.none(), st.integers(-5, 9)), min_size=0, max_size=6
    ),
)
def test_random_quantified_agrees_with_duckdb(
    quant_fuzz_engine, op, quant, vals
):
    eng, con = quant_fuzz_engine
    if vals:
        rows = ", ".join(
            f"({'null' if v is None else v})" for v in vals
        )
        subq = f"select v from (values {rows}) as t(v)"
    else:
        subq = "select v from (values (1)) as t(v) where false"
    sql = (
        f"select x, x {op} {quant} ({subq}) as r from qprobe"
        " order by x nulls last"
    )
    assert eng.execute(sql).rows == con.execute(sql).fetchall(), sql


# UNION BY NAME fuzz arm (r9 surface): random column subsets in random
# orders on each side — overlapping names line up, one-sided names
# fill NULL — times random ALL/no-ALL folds and per-side predicates,
# vs DuckDB's native BY NAME union. Discrete columns only (strings /
# small ints), so the multiset compare is exact; column NAMES and
# ORDER are asserted too (left-then-new is part of the contract).
@pytest.fixture(scope="module")
def ubn_fuzz_engine(spark, tmp_path_factory):
    from andb_spark.api import AnalyticsEngine

    eng = AnalyticsEngine(
        str(tmp_path_factory.mktemp("whubnfuzz")), spark=spark
    )
    eng.execute("create table ufz (r varchar(4), n int, k int, s int)")
    rows = [
        ("'A'", 1, 0, 3), ("'A'", 2, 1, 5), ("'B'", 1, 2, 3),
        ("'B'", 3, 0, 7), ("'C'", 2, 1, 3), ("'C'", 2, 2, 5),
        ("NULL", 1, 0, 3),
    ]
    vals = ", ".join(f"({r}, {n}, {k}, {s})" for r, n, k, s in rows)
    eng.execute(f"insert into ufz values {vals}")
    con = duckdb.connect()
    con.execute("create table ufz (r varchar(4), n int, k int, s int)")
    con.execute(f"insert into ufz values {vals}")
    yield eng, con
    eng.close()


_UBN_SIDE = st.sampled_from(
    [
        "r, n",
        "n, r",
        "r, n, k",
        "k, s",
        "s, r",
        "n AS n, s AS s, r AS r",
        "k, r, n, s",
    ]
)
_UBN_OP = st.sampled_from(["UNION ALL BY NAME", "UNION BY NAME"])
_UBN_PRED = st.sampled_from(
    ["n >= 1", "k <> 1", "s > 3", "r IS NOT NULL", "n + k > 2"]
)


@seed(FUZZ_ROUND)
@settings(max_examples=25, deadline=None)
@given(
    lc=_UBN_SIDE, rc=_UBN_SIDE, op=_UBN_OP, pa=_UBN_PRED, pb=_UBN_PRED
)
def test_random_union_by_name_agrees_with_duckdb(
    ubn_fuzz_engine, lc, rc, op, pa, pb
):
    eng, con = ubn_fuzz_engine
    sql = (
        f"SELECT {lc} FROM ufz WHERE {pa}"
        f" {op} "
        f"SELECT {rc} FROM ufz WHERE {pb}"
    )
    ours = eng.execute(sql)
    duck = con.execute(sql)
    drows = duck.fetchall()
    assert _rowset(ours.rows) == _rowset(drows), sql
    assert ours.columns == [d[0] for d in duck.description], sql


# Clause-tail fuzz arm (r9 verdict #8: the trailing-OFFSET gap lived
# in the clause TAIL, not any rewrite's own syntax — fuzz the tail on
# every rewrite surface). Every base ends in a TOTAL order, so row
# equality is well-defined under every randomized tail; counts and
# offsets randomize where the deterministic grid
# (test_clause_tail_grid_matches_duckdb) enumerates fixed spellings.
_TAIL_BASES = st.sampled_from(
    [
        "select distinct on (k) k, n, s from ufz"
        " order by k, n desc, s desc",
        "select r, n, k from ufz qualify row_number() over"
        " (order by n, k, s, r nulls last) <= 5"
        " order by n, k, r nulls last",
        "select k, n from ufz where s >= 3 union all by name"
        " select s, k from ufz"
        " order by k, n nulls last, s nulls last",
        "select * replace (n + 100 as n) from ufz"
        " order by n, k, s, r nulls last",
    ]
)
_TAIL_TEMPLATES = st.sampled_from(
    [
        "",
        " limit {n}",
        " offset {m}",
        " limit {n} offset {m}",
        " offset {m} rows",
        " offset {m} rows fetch next {n} rows only",
        " fetch first {n} rows only",
    ]
)


@seed(FUZZ_ROUND * 31 + 7)
@settings(max_examples=25, deadline=None)
@given(
    base=_TAIL_BASES,
    tail=_TAIL_TEMPLATES,
    n=st.integers(0, 9),
    m=st.integers(0, 6),
)
def test_random_clause_tail_agrees_with_duckdb(
    ubn_fuzz_engine, base, tail, n, m
):
    eng, con = ubn_fuzz_engine
    sql = base + tail.format(n=n, m=m)
    ours = eng.execute(sql)
    drows = con.execute(sql).fetchall()
    assert ours.rows == drows, sql


# ---------------------------------------------- constraint family --
# DEFAULT / CHECK / UNIQUE / PRIMARY KEY enforcement fuzz: a random
# table configuration and a random sequence of small INSERT batches,
# the IDENTICAL statements through both engines. Every batch either
# succeeds on both (and the table states stay row-identical) or
# raises on both (and the failed batch leaves no residue) — the
# error-parity twin of test_default_check_unique_matches_duckdb's
# hand-written grid. Value domains are tiny on purpose: collisions
# against PRIMARY KEY/UNIQUE and CHECK violations must actually
# happen.


@st.composite
def _constraint_case(draw):
    pk = draw(st.booleans())
    a_default = draw(st.one_of(st.none(), st.integers(-2, 2)))
    a_check = draw(st.one_of(st.none(), st.integers(-1, 1)))
    b_unique = draw(st.booleans())

    def value(allow_default):
        opts = [st.integers(-3, 3), st.none()]
        if allow_default:
            opts.append(st.just("default"))
        return st.one_of(*opts)

    batches = draw(
        st.lists(
            st.lists(
                st.tuples(value(False), value(True), value(False)),
                min_size=1, max_size=3,
            ),
            min_size=1, max_size=4,
        )
    )
    return pk, a_default, a_check, b_unique, batches


@settings(max_examples=10, deadline=None)
@seed(FUZZ_ROUND * 104729 + 13)
@given(case=_constraint_case())
def test_random_constraint_inserts_agree_with_duckdb(spark, case):
    import tempfile

    from andb_spark.api import AnalyticsEngine, EngineError

    pk, a_default, a_check, b_unique, batches = case
    kdef = "k int primary key" if pk else "k int"
    adef = "a int"
    if a_default is not None:
        adef += f" default {a_default}"
    if a_check is not None:
        adef += f" check (a >= {a_check})"
    bdef = "b int unique" if b_unique else "b int"
    ddl = f"create table fz ({kdef}, {adef}, {bdef})"

    eng = AnalyticsEngine(tempfile.mkdtemp(prefix="fzc_"), spark=spark)
    con = duckdb.connect()
    eng.execute(ddl)
    con.execute(ddl)

    def lit(v):
        if v is None:
            return "null"
        if v == "default":
            return "default"
        return str(v)

    sel = "select * from fz order by k nulls first, a nulls first, b"
    for batch in batches:
        stmt = "insert into fz (k, a, b) values " + ", ".join(
            f"({lit(k)}, {lit(a)}, {lit(b)})" for k, a, b in batch
        )
        e_err = d_err = False
        try:
            eng.execute(stmt)
        except EngineError:
            e_err = True
        try:
            con.execute(stmt)
        except Exception:
            d_err = True
        assert e_err == d_err, (ddl, stmt, e_err, d_err)
        got = _rowset([tuple(r) for r in eng.execute(sel).rows])
        want = _rowset(con.execute(sel).fetchall())
        assert got == want, (ddl, stmt)
    eng.close()


# Collections-dialect fuzz arm (r12): random list expressions through
# the ENGINE entry point (the dialect rewrite lives there) vs DuckDB
# native — indexing (0/OOB/negative), slicing (open/negative/backward
# bounds), len(), literals, and nesting compose randomly. Exact
# compare: everything is integer-valued.
_CLX_IDX = st.integers(-4, 4)
# r13 verdict #5/#10: a literal NULL bound must propagate (DuckDB
# yields NULL; Spark's greatest/least would silently skip it) — the
# seam survived because no generator emitted NULL bounds
_CLX_BOUND = st.one_of(
    st.none(), st.integers(-3, 4), st.just("NULL")
)


def _clx_base(draw_lit):
    return "xs" if not draw_lit else None


_CLX_EXPR = st.recursive(
    st.one_of(
        st.just("xs"),
        st.lists(st.integers(-9, 9), min_size=0, max_size=4).map(
            lambda v: "[" + ", ".join(map(str, v)) + "]"
        ),
    ),
    lambda inner: st.one_of(
        st.tuples(inner, _CLX_IDX).map(lambda t: f"slice(({t[0]}), 1, 3)"
                                       if False else f"({t[0]})[{t[1]}:]"),
        st.tuples(inner, _CLX_BOUND, _CLX_BOUND).map(
            lambda t: "({})[{}:{}]".format(
                t[0],
                "" if t[1] is None else t[1],
                "" if t[2] is None else t[2],
            )
        ),
        st.tuples(inner, inner).map(
            lambda t: f"list_concat(({t[0]}), ({t[1]}))"
        ),
    ),
    max_leaves=4,
)


@pytest.fixture(scope="module")
def clx_engines(spark, tmp_path_factory):
    from andb_spark.api import AnalyticsEngine

    eng = AnalyticsEngine(
        str(tmp_path_factory.mktemp("whclx")), spark=spark
    )
    con = duckdb.connect()
    rows = [
        (0, "[1, 2, 3]"), (1, "[7]"), (2, "[]"), (3, "NULL"),
        (4, "[-2, 0, 5, 9]"), (5, "[4, 4]"),
    ]
    for run in (eng.execute, con.execute):
        run("create table fzl (k int, xs int[])")
        run(
            "insert into fzl values "
            + ", ".join(f"({k}, {x})" for k, x in rows)
        )
    return eng, con


@seed(FUZZ_ROUND)
@settings(max_examples=60, deadline=None)
@given(e=_CLX_EXPR, i=_CLX_IDX)
def test_random_list_expression_agrees_with_duckdb(clx_engines, e, i):
    eng, con = clx_engines
    sql = (
        f"select k, ({e})[{i}] as v, len(({e})) as n"
        f" from fzl order by k"
    )
    er = [tuple(r) for r in eng.execute(sql).rows]
    dr = con.execute(sql).fetchall()
    assert er == dr, sql


# ------------------------------------------- cast-spelling family --
# r13 verdict #10: the cast-spelling seam (text / char varying /
# varchar(n)-in-cast raw-erroring, and unaliased select-item casts
# letting ORDER BY capture Spark's auto-alias and return
# string-ordered rows) survived because no generator emitted dialect
# type names or unaliased casts under ORDER BY. Rows AND column
# names compare — the seam had a schema half.
_CAST_SPELLING = st.sampled_from(
    ["varchar", "text", "char varying", "character varying",
     "varchar(2)", "varchar(8)"]
)
_CAST_OPERAND = st.sampled_from(["v", "v + 1", "s", "t.v"])
_CAST_STYLE = st.sampled_from(["cast", "try_cast", "colons"])
_CAST_ALIAS = st.sampled_from(["", " as c1"])
_CAST_ORDER = st.sampled_from(
    ["v", "v desc", "s nulls first, v", "1", "v nulls last"]
)


@pytest.fixture(scope="module")
def cast_fuzz_engine(spark, tmp_path_factory):
    from andb_spark.api import AnalyticsEngine

    eng = AnalyticsEngine(
        str(tmp_path_factory.mktemp("whcfz")), spark=spark
    )
    con = duckdb.connect()
    for run in (eng.execute, con.execute):
        run("create table t (v int, s varchar(4))")
        run(
            "insert into t values (5,'a'),(6,'b'),(10,'c'),"
            " (20,'d'),(3,'a'),(null,null)"
        )
    return eng, con


@seed(FUZZ_ROUND)
@settings(max_examples=50, deadline=None)
@given(
    sp=_CAST_SPELLING, op=_CAST_OPERAND, style=_CAST_STYLE,
    al=_CAST_ALIAS, ob=_CAST_ORDER,
)
def test_random_cast_spelling_agrees_with_duckdb(
    cast_fuzz_engine, sp, op, style, al, ob
):
    eng, con = cast_fuzz_engine
    if style == "colons":
        if " " in sp or "(" in sp:
            sp = "varchar"  # ::char varying isn't DuckDB-parseable
        item = f"({op})::{sp}{al}"
    elif style == "try_cast":
        item = f"try_cast({op} as {sp}){al}"
    else:
        item = f"cast({op} as {sp}){al}"
    sql = f"select {item}, v from t order by {ob}, v limit 4"
    r = eng.execute(sql)
    er = ([tuple(x) for x in r.rows], list(r.columns))
    rd = con.execute(sql)
    dr = (rd.fetchall(), [d[0] for d in rd.description])
    assert str(er) == str(dr), (sql, er, dr)


# ---------------------------------------- NULL ordering-key family --
# r12 verdict #2: the ASC-NULLS-FIRST seam survived seven green rounds
# because no generator ever placed a NULL in an ordering key. This arm
# makes NULL-bearing ORDER BY keys the DEFAULT: every shape sorts on a
# column that is NULL in ~a third of rows, WITHOUT explicit NULLS
# qualifiers, through the ENGINE (whose dialect pass injects DuckDB's
# NULLS LAST default) against DuckDB running the identical SQL.
@pytest.fixture(scope="module")
def nulls_fuzz_engine(spark, tmp_path_factory):
    import random

    from andb_spark.api import AnalyticsEngine

    rng = random.Random(977)
    rows = [
        (
            i,
            rng.choice(["a", "b", "c"]),
            "null" if rng.random() < 0.34 else str(rng.randint(0, 9)),
            rng.randint(-50, 50),
        )
        for i in range(48)
    ]
    vals = ", ".join(f"({i}, '{g}', {k}, {v})" for i, g, k, v in rows)
    eng = AnalyticsEngine(
        str(tmp_path_factory.mktemp("whnulls")), spark=spark
    )
    eng.execute(
        "create table nfz (id int, g varchar(1), k int, v int)"
    )
    eng.execute(f"insert into nfz values {vals}")
    con = duckdb.connect()
    con.execute("create table nfz (id int, g varchar, k int, v int)")
    con.execute(f"insert into nfz values {vals}")
    yield eng, con
    eng.close()


_NK_DIR = st.sampled_from(["", " asc", " desc"])
_NK_PART = st.sampled_from(["", "partition by g "])
_NK_WFN = st.sampled_from(
    [
        "row_number()",
        "rank()",
        "lag(v)",
        "lead(v)",
        "first_value(v)",
        "last_value(v)",
        "sum(v)",
        "count(k)",
    ]
)


@seed(FUZZ_ROUND * 337 + 1)
@settings(max_examples=20, deadline=None)
@given(part=_NK_PART, dirn=_NK_DIR, fn=_NK_WFN)
def test_random_null_key_window_agrees_with_duckdb(
    nulls_fuzz_engine, part, dirn, fn
):
    eng, con = nulls_fuzz_engine
    # id is unique, so (k, id) is a total order in either direction —
    # deterministic on both engines once the NULL placement agrees
    sql = (
        f"select id, {fn} over ({part}order by k{dirn}, id{dirn})"
        f" as w from nfz"
    )
    assert _rowset(eng.execute(sql).rows) == _rowset(
        con.execute(sql).fetchall()
    ), sql


_NK_TAIL_SHAPES = st.sampled_from(
    [
        "select id, k, v from nfz order by k{d}, id limit {n}",
        "select id, k from nfz order by k{d}, id limit {n} offset {m}",
        "select id, k from nfz order by k{d}, id"
        " fetch first {n} rows with ties",
        "select distinct on (g) g, v from nfz order by g, k{d}, id",
        "select id, v from nfz qualify row_number() over"
        " (partition by g order by k{d}, id) = 1",
    ]
)


@seed(FUZZ_ROUND * 337 + 2)
@settings(max_examples=25, deadline=None)
@given(
    shape=_NK_TAIL_SHAPES,
    dirn=_NK_DIR,
    n=st.integers(1, 9),
    m=st.integers(0, 5),
)
def test_random_null_key_clause_tail_agrees_with_duckdb(
    nulls_fuzz_engine, shape, dirn, n, m
):
    eng, con = nulls_fuzz_engine
    sql = shape.format(d=dirn, n=n, m=m)
    if "with ties" in sql:
        # DuckDB has no FETCH ... WITH TIES (Postgres semantics) —
        # spell the equivalent rank() filter as its oracle
        oracle = (
            f"select id, k from (select id, k, rank() over"
            f" (order by k{dirn}, id) as _r from nfz)"
            f" where _r <= {n}"
        )
        # ties on the full (k, id) key never happen (id unique), so
        # rank() <= n IS the WITH TIES cut
        assert _rowset(eng.execute(sql).rows) == _rowset(
            con.execute(oracle).fetchall()
        ), sql
        return
    # content equality (multiset): ORDER BY ... LIMIT picks the same
    # rows on both engines iff the NULL placement agrees
    assert _rowset(eng.execute(sql).rows) == _rowset(
        con.execute(sql).fetchall()
    ), sql


_NK_AGG_SHAPES = st.sampled_from(
    [
        "select g, list(v order by k{d}, id{d}) as xs from nfz"
        " group by g order by g",
        "select g, first(v order by k{d}, id{d}) as f,"
        " last(v order by k{d}, id{d}) as l from nfz"
        " group by g order by g",
        "select g, list(k order by k{d}, id{d}) as xs from nfz"
        " group by g order by g",
        "select g, string_agg(cast(v as varchar), ','"
        " order by k{d}, id{d}) as s from nfz group by g order by g",
        "select g, list(distinct k order by k{d}) as xs from nfz"
        " group by g order by g",
        "select g, list(v order by k{d} nulls first, id{d}) as xs"
        " from nfz group by g order by g",
    ]
)


@seed(FUZZ_ROUND * 337 + 3)
@settings(max_examples=15, deadline=None)
@given(shape=_NK_AGG_SHAPES, dirn=_NK_DIR)
def test_random_null_key_ordered_agg_agrees_with_duckdb(
    nulls_fuzz_engine, shape, dirn
):
    eng, con = nulls_fuzz_engine
    sql = shape.format(d=dirn)
    assert _rowset(eng.execute(sql).rows) == _rowset(
        con.execute(sql).fetchall()
    ), sql


# Window-EXCLUDE fuzz arm (r13): random frame × exclusion × aggregate
# over the NULL-bearing ordering key, engine vs DuckDB's native
# EXCLUDE. RANGE shapes order by the key alone (peer semantics are
# the point; interval aggregates are order-independent), ROWS shapes
# add the unique id for a total order. Combos the engine refuses by
# name (min/max TIES/GROUP on UNBOUNDED-side ROWS frames; min/max
# RANGE + exclude current row) are excluded by construction — the
# deterministic grid in test_parser_surfaces_differential.py pins
# those refusals; bounded-ROWS min/max TIES/GROUP executes (r14).
_EX_LO = st.sampled_from(
    ["unbounded preceding", "3 preceding", "1 preceding",
     "current row", "1 following"]
)
_EX_HI = st.sampled_from(
    ["1 preceding", "current row", "2 following",
     "unbounded following"]
)
_EX_KIND = st.sampled_from(["current row", "ties", "group"])
_EX_AGG = st.sampled_from(
    ["sum(v)", "count(v)", "count(*)", "avg(v)", "min(v)", "max(v)"]
)

_EX_ORD = {
    "unbounded preceding": 0, "3 preceding": 1, "1 preceding": 2,
    "current row": 3, "1 following": 4, "2 following": 5,
    "unbounded following": 6,
}


@seed(FUZZ_ROUND * 337 + 4)
@settings(max_examples=40, deadline=None)
@given(lo=_EX_LO, hi=_EX_HI, kind=_EX_KIND, agg=_EX_AGG)
def test_random_window_exclude_agrees_with_duckdb(
    nulls_fuzz_engine, lo, hi, kind, agg
):
    eng, con = nulls_fuzz_engine
    if _EX_ORD[lo] > _EX_ORD[hi]:
        return  # invalid frame (lo after hi) — both engines reject
    is_minmax = agg.startswith(("min", "max"))
    minmax_rows_peers = False
    if is_minmax and kind == "current row":
        frame = "rows"
    elif is_minmax:
        # bounded ROWS frames execute for min/max TIES/GROUP since
        # r14 (the collect-filter path); UNBOUNDED sides refuse by
        # name, so those stay on RANGE. The ROWS shape orders by the
        # unique id — with TIED keys the frame CONTENT is
        # tie-order-dependent on both engines (underdetermined SQL);
        # the deterministic battery covers tied keys with equal
        # values instead.
        if "unbounded" not in lo and "unbounded" not in hi and (
            len(lo + hi + agg) % 2
        ):
            frame = "rows"
            minmax_rows_peers = True
        else:
            frame = "range"
    else:
        frame = "rows" if len(lo + hi + kind + agg) % 2 else "range"
    order = (
        "id" if minmax_rows_peers
        else "k, id" if frame == "rows" else "k"
    )
    sql = (
        f"select id, {agg} over (partition by g order by {order}"
        f" {frame} between {lo} and {hi} exclude {kind}) as x"
        f" from nfz order by id"
    )
    er = [tuple(r) for r in eng.execute(sql).rows]
    dr = con.execute(sql).fetchall()
    def nrm(rows):
        return [
            tuple(
                round(float(x), 6) if isinstance(x, float) else x
                for x in r
            )
            for r in rows
        ]
    assert nrm(er) == nrm(dr), sql
