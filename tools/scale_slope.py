"""Empirical time-vs-rows scale slope (VERDICT r7 #2).

Generates a deterministic ~10x corpus (documents/embeddings/events at
~sf1-equivalent row counts) under ``.scale10x/`` next to the repo root
— throwaway, gitignored, never touching /root/testdata — then times
the headline scale-sensitive queries at sf0.1 and at 10x and prints a
per-query slope table:

    slope = (t_10x / t_1x) / (rows_10x / rows_1x)

slope ~ 0.1..1.0 = at-or-better-than-linear in data volume (values
well under 1 mean fixed per-query overhead still dominates at sf1);
slope >> 1 = superlinear — a scale-killer to root-cause.

Replication preserves the statistical shape instead of multiplying it:

- documents: 10 copies; copy i>0 suffixes EVERY token with ``x{i}``,
  so within-copy near-dup structure (shingle overlap) is preserved
  exactly while cross-copy Jaccard collapses to ~0 — the DUP RATE
  stays constant as rows grow 10x. Naive replication would instead
  put every doc in a 10-member cross-copy dup group and measure a
  quadratic pair explosion that says nothing about scaling.
- embeddings: 10 copies; copy i applies a seeded random PERMUTATION
  of the vector dimensions — within-copy cosine similarities are
  preserved EXACTLY (permutation is orthogonal), cross-copy
  similarity decorrelates. Near-dup rate constant, 10x rows.
- events: 10 copies; user_id/event_id offset per copy — per-user
  event counts (the as-of join's group sizes) are identical, 10x
  users. Timestamps untouched.

Row groups are written at the ORIGINAL file's granularity (one group
per source-file's row count), so the 10x files expose 10 row groups —
the same split-parallelism shape a real 10x ingest would give Spark.

    python tools/scale_slope.py [--runs=3] [--regen]
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SF1 = "/root/testdata/sf0.1"
# --copies=N picks the replication factor (default 10); each factor
# gets its own corpus dir, so a 3x midpoint can sit next to the 10x
# endpoint and expose curvature two points cannot.
_COPIES = int(
    next((a.split("=", 1)[1] for a in sys.argv[1:]
          if a.startswith("--copies=")), "10")
)
_OUT = os.path.join(_REPO, f".scale{_COPIES}x")
_SEED = 42

QUERIES = (
    "d_minhash_lsh",
    "d_incremental_minhash",
    "d_passage_scrub",
    "v_ivf_topk",
    "a_asof_join",
    "u_range_sql",
    # relational fact-table rows (lineitem/orders scaled 10x with
    # consistent orderkey offsets — join structure preserved, per-dim
    # fan-in grows 10x, the shape of a real ingest decade)
    "q1_pricing_summary",
    "q21_waiting_suppliers",
)

# Write-path rows (VERDICT r8 #3: the slope table was read-only; the
# CoW/manifest machinery's scale claims deserve the same measurement).
# Each op is timed over a FRESH warehouse per run with setup (engine
# init, CTAS, source tables) outside the timed region. The CTAS uses a
# REPARTITION_BY_RANGE hint sized to the corpus (8 files per 1x) so
# the scaled table holds proportionally MORE files of the SAME size —
# the layout a real bounded-file-size ingest produces — instead of the
# local session's fixed-32-partition layout, whose constant file count
# would smear every touched-band measurement with 10x-bigger files.
WRITE_OPS = (
    "w_ctas_ingest", "w_update_band", "w_delete_nomatch",
    "w_update_key", "w_delete_key",
)

# Engine-surface SQL rows (VERDICT r10 #6: the r10/r11 rewrite
# surfaces lacked a measured slope). Statements run over the scaled
# ``orders`` (row basis scales exactly by _COPIES); engine init +
# attach sit OUTSIDE the timed region (the u_* bench harness nit the
# lifecycle-adjusted twin addresses — here the statement is timed
# alone from the start).
#
# - ``e_limit_percent``: LIMIT 1% — one count scan + the
#   limit-pushdown scan; expect ~linear (two bounded passes).
# - ``e_columns_fanout``: COLUMNS() aggregate fan-out — the textual
#   expansion plans as an ordinary grouped agg; expect ~linear.
# - ``e_subquery_lift``: uncorrelated QUALIFY subquery through the
#   generic lift — one windowed scan partitioned by o_custkey.
# - ``e_corr_qualify``: r11 correlated-QUALIFY decorrelation — must
#   stay ONE windowed scan partitioned by the correlation key, never
#   a per-outer-row re-execution; superlinearity here would mean the
#   rewrite lost the partition.
ENGINE_SQL_OPS = {
    "e_limit_percent": (
        "select o_orderkey, o_totalprice from orders"
        " order by o_totalprice desc, o_orderkey limit 1%"
    ),
    "e_columns_fanout": (
        "select o_orderstatus, min(columns('o_total.*')),"
        " max(columns('o_total.*')), count(columns('o_orderkey'))"
        " from orders group by o_orderstatus"
    ),
    "e_subquery_lift": (
        "select count(*) as n from (select o_custkey from orders"
        " qualify row_number() over (partition by o_custkey"
        " order by o_totalprice desc, o_orderkey) <= 2) t"
    ),
    "e_corr_qualify": (
        "select count(*) as n from customer where c_custkey in"
        " (select o_custkey from orders where o_custkey = c_custkey"
        " qualify row_number() over (order by o_totalprice desc,"
        " o_orderkey) = 1)"
    ),
    # r11 positional join: sorted-side zip of the full orders table
    # against itself — checkpoint + per-partition numbering + one
    # index SMJ; must stay ~linear (a single-task global window or a
    # per-row driver loop would blow past 1.0)
    "e_positional_zip": (
        "select count(*) as n from"
        " (select o_orderkey as k from orders order by o_orderkey) a"
        " positional join"
        " (select o_custkey as c from orders order by o_custkey desc)"
        " b"
    ),
    # late-r11 surfaces: the pivot statement's binder scan + grouped
    # pivot agg, SUMMARIZE's one wide Expand pass, the constraint
    # choke-point probes riding an INSERT..SELECT (pk + check over
    # the staged batch — cost must track the BATCH, which here scales
    # with the corpus), and the sequence dense-index fill (two
    # passes + the write)
    "e_pivot_stmt": (
        "pivot orders on o_orderstatus using min(o_totalprice) as lo,"
        " count(*) as n group by o_orderpriority"
    ),
    "e_summarize": "summarize orders",
    "e_constraint_insert": (
        (
            "create table ck (k bigint primary key,"
            " v double check (v >= 0))",
        ),
        "insert into ck select o_orderkey, o_totalprice from orders",
    ),
    "e_constraint_append": (
        # the r12 zone-prefiltered PK probe: the timed statement is a
        # FIXED-SIZE key-disjoint append onto a base that scales 1x →
        # 10x — with the prefilter the existence probe reads ZERO
        # base files, so the time must stay FLAT in base size (the
        # pre-r12 probe semi-joined the whole table here)
        (
            "create table cka (k bigint primary key,"
            " v double check (v >= 0))",
            "insert into cka select o_orderkey, o_totalprice"
            " from orders",
        ),
        "insert into cka select o_orderkey + 1000000000,"
        " o_totalprice from orders where o_orderkey < 1500",
    ),
    "e_seq_fill": (
        (
            "create sequence ckseq",
            "create table sqf (k bigint default nextval('ckseq'),"
            " v double)",
        ),
        "insert into sqf (v) select o_totalprice from orders",
    ),
}


def _time_engine_sql(spark, sf_dir: str, sql) -> float:
    """Seconds spent in ONE engine statement over an attached corpus
    — engine open/attach/close excluded (a fresh engine per run keeps
    statement caches from compounding across runs). ``sql`` may be
    ``(setup_stmts, stmt)`` — setup (DDL) runs OUTSIDE the timed
    region."""
    import shutil
    import tempfile

    from andb_spark.api import AnalyticsEngine

    setup: tuple = ()
    if isinstance(sql, tuple):
        setup, sql = sql
    wh = tempfile.mkdtemp(prefix="andb_slope_e_")
    eng = AnalyticsEngine(wh, spark=spark, attach_dir=sf_dir)
    try:
        for s in setup:
            eng.execute(s)
        t0 = time.perf_counter()
        eng.execute(sql)
        return time.perf_counter() - t0
    finally:
        eng.close()
        shutil.rmtree(wh, ignore_errors=True)


def _gen_documents() -> None:
    t = pq.read_table(os.path.join(_SF1, "documents.parquet"))
    doc_id = t.column("doc_id").to_pylist()
    text = t.column("text").to_pylist()
    lang = t.column("lang").to_pylist()
    source = t.column("source").to_pylist()
    n = len(doc_id)
    ids, txts, langs, srcs, chars = [], [], [], [], []
    for i in range(_COPIES):
        off = i * 10_000_000
        if i == 0:
            new_txt = text
        else:
            suf = f"x{i}"
            new_txt = [
                " ".join(w + suf for w in s.split()) if s else s
                for s in text
            ]
        ids.extend(d + off for d in doc_id)
        txts.extend(new_txt)
        langs.extend(lang)
        srcs.extend(source)
        chars.extend(len(s) if s is not None else 0 for s in new_txt)
    out = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(txts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(srcs, pa.string()),
            "n_chars": pa.array(chars, pa.int64()),
        }
    )
    pq.write_table(
        out, os.path.join(_OUT, "documents.parquet"), row_group_size=n
    )


def _gen_embeddings() -> None:
    t = pq.read_table(os.path.join(_SF1, "embeddings.parquet"))
    vec_id = np.asarray(t.column("vec_id").to_pylist(), dtype=np.int64)
    emb = np.asarray(t.column("embedding").to_pylist(), dtype=np.float32)
    label = np.asarray(t.column("label").to_pylist(), dtype=np.int32)
    n, dim = emb.shape
    rng = np.random.default_rng(_SEED)
    ids, vecs, labels = [], [], []
    for i in range(_COPIES):
        perm = np.arange(dim) if i == 0 else rng.permutation(dim)
        ids.append(vec_id + i * 10_000_000)
        vecs.append(emb[:, perm])
        labels.append(label)
    out = pa.table(
        {
            "vec_id": pa.array(np.concatenate(ids), pa.int64()),
            "embedding": pa.array(
                list(np.concatenate(vecs)), pa.list_(pa.float32())
            ),
            "label": pa.array(np.concatenate(labels), pa.int32()),
        }
    )
    pq.write_table(
        out, os.path.join(_OUT, "embeddings.parquet"), row_group_size=n
    )


def _gen_events() -> None:
    t = pq.read_table(os.path.join(_SF1, "events.parquet"))
    n = t.num_rows
    parts = []
    for i in range(_COPIES):
        c = t
        if i:
            c = c.set_column(
                0, "event_id",
                pa.compute.add(c.column("event_id"), i * 100_000_000),
            )
            c = c.set_column(
                2, "user_id",
                pa.compute.add(c.column("user_id"), i * 10_000_000),
            )
        parts.append(c)
    out = pa.concat_tables(parts)
    pq.write_table(
        out, os.path.join(_OUT, "events.parquet"), row_group_size=n
    )


def _gen_fact(table: str, key_cols: tuple[str, ...]) -> None:
    """lineitem/orders scaled 10x: each copy offsets the ORDER KEY
    columns by the same constant, so the lineitem-orders join
    structure (lines per order) is preserved exactly while dimension
    references (supplier/part/customer keys) stay 1x — per-dimension
    fan-in grows 10x, which is what a real 10x fact ingest does."""
    t = pq.read_table(os.path.join(_SF1, f"{table}.parquet"))
    parts = []
    names = t.schema.names
    for i in range(_COPIES):
        c = t
        if i:
            for col in key_cols:
                idx = names.index(col)
                c = c.set_column(
                    idx, col,
                    pa.compute.add(c.column(col), i * 10_000_000),
                )
        parts.append(c)
    pq.write_table(
        pa.concat_tables(parts),
        os.path.join(_OUT, f"{table}.parquet"),
        row_group_size=t.num_rows,
    )


def ensure_corpus(regen: bool = False) -> None:
    os.makedirs(_OUT, exist_ok=True)
    for name, gen in (
        ("documents", _gen_documents),
        ("embeddings", _gen_embeddings),
        ("events", _gen_events),
        ("lineitem", lambda: _gen_fact("lineitem", ("l_orderkey",))),
        ("orders", lambda: _gen_fact("orders", ("o_orderkey",))),
    ):
        path = os.path.join(_OUT, f"{name}.parquet")
        if os.path.islink(path):  # pre-fact-scaling layout symlinked these
            os.unlink(path)
        if regen or not os.path.exists(path):
            t0 = time.perf_counter()
            gen()
            print(
                f"# generated {name}.parquet"
                f" ({time.perf_counter() - t0:.1f}s)",
                file=sys.stderr,
            )
    # the engine attach path expects the full star schema in the dir;
    # the non-scaled dimensions are symlinked 1x (their size is
    # irrelevant to the measured queries)
    for t in ("region", "nation", "customer", "supplier", "part"):
        dst = os.path.join(_OUT, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(_SF1, f"{t}.parquet"), dst)


def _data_bytes(root: str) -> dict[str, int]:
    """Size of every parquet data file under ``root``."""
    return {
        os.path.join(d, f): os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")
    }


def _time_write_op(
    spark, sf_dir: str, op: str, copies: int
) -> tuple[float, int]:
    """One write-path measurement: seconds spent in the TIMED DML
    statement alone (engine init / CTAS / source setup excluded), and
    the bytes of the parquet data files it wrote.

    - ``w_ctas_ingest``: full-table CTAS from ``orders`` — the
      data-proportional baseline every write ultimately pays.
    - ``w_update_band``: UPDATE ... FROM over a CONSTANT-size key band
      (the 1x key range; scaled copies sit at offset keys) against a
      key-range-clustered table — the join-CoW plan must rewrite only
      the files containing matches, so the cost should track touched
      files, not table size.
    - ``w_delete_nomatch``: DELETE ... USING whose source matches
      nothing — the CoW split must detect zero affected files and
      write NOTHING; cost = one semi-join probe, no staging, no
      commit.
    - ``w_update_key``: a 1-row UPDATE of a non-key column by key —
      a deletion vector plus a one-row segment, so neither its time
      nor its bytes may grow with the table.
    - ``w_delete_key``: a DELETE of 21 keys — deletion vectors only,
      no data file written.
    """
    import shutil
    import tempfile

    from andb_spark.api import AnalyticsEngine

    wh = tempfile.mkdtemp(prefix="andb_slope_w_")
    eng = AnalyticsEngine(wh, spark=spark, attach_dir=sf_dir)
    try:
        e = eng.execute
        # staged-write sizing would coalesce the CTAS into one file
        # and override the range-partitioned layout below
        e("set andb.stage_sizing_max_bytes = 0")
        n_files = 8 * copies
        ctas = (
            f"create table wt as select"
            f" /*+ REPARTITION_BY_RANGE({n_files}, o_orderkey) */"
            f" o_orderkey, o_custkey, o_totalprice from orders"
        )
        if op == "w_ctas_ingest":
            t0 = time.perf_counter()
            e(ctas)
            return time.perf_counter() - t0, sum(_data_bytes(wh).values())
        e(ctas)
        before = _data_bytes(wh)

        def timed(sql: str) -> tuple[float, int]:
            t0 = time.perf_counter()
            e(sql)
            dt = time.perf_counter() - t0
            after = _data_bytes(wh)
            return dt, sum(n for f, n in after.items() if f not in before)

        if op in ("w_update_key", "w_delete_key"):
            # keys of the 1x range, so the touched file is one
            # same-sized file at every corpus size
            keys = [
                r[0] for r in e(
                    "select o_orderkey from wt order by o_orderkey"
                    " limit 21 offset 100"
                ).rows
            ]
            if op == "w_update_key":
                return timed(
                    "update wt set o_totalprice = o_totalprice + 1"
                    f" where o_orderkey = {keys[0]}"
                )
            return timed(
                "delete from wt where o_orderkey in"
                f" ({', '.join(map(str, keys))})"
            )
        if op == "w_update_band":
            # constant-size band: the ORIGINAL key range (copy 0);
            # scaled copies live at +10M offsets, so the touched rows
            # and files are identical at every corpus size
            e(
                "create table ws as select o_orderkey as k,"
                " cast(1.1 as double) as f"
                " from orders where o_orderkey < 1500"
            )
            return timed(
                "update wt set o_totalprice ="
                " round(wt.o_totalprice * ws.f, 2) from ws"
                " where wt.o_orderkey = ws.k"
            )
        # w_delete_nomatch: keys far outside every file's zone range
        e(
            "create table wn as select o_orderkey + 900000000 as k"
            " from orders where o_orderkey < 1500"
        )
        return timed("delete from wt using wn where wt.o_orderkey = wn.k")
    finally:
        eng.close()
        shutil.rmtree(wh, ignore_errors=True)


def main() -> None:
    runs = int(
        next(
            (a.split("=", 1)[1] for a in sys.argv[1:]
             if a.startswith("--runs=")),
            "3",
        )
    )
    ensure_corpus(regen="--regen" in sys.argv)

    from andb_spark.session import build_session
    from andb_spark.workloads import library_queries
    from andb_spark.operators.dedup import release_caches

    spark = build_session("andb_scale_slope")
    qs = library_queries()
    n_li = pq.ParquetFile(
        os.path.join(_SF1, "lineitem.parquet")).metadata.num_rows
    rows = {
        "documents": (5_000, 5_000 * _COPIES),
        "embeddings": (2_000, 2_000 * _COPIES),
        "events": (100_000, 100_000 * _COPIES),
        "lineitem": (n_li, n_li * _COPIES),
    }
    table_of = {
        "d_minhash_lsh": "documents",
        "d_incremental_minhash": "documents",
        "d_passage_scrub": "documents",
        "v_ivf_topk": "embeddings",
        "a_asof_join": "events",
        "u_range_sql": "events",
        "q1_pricing_summary": "lineitem",
        "q21_waiting_suppliers": "lineitem",
    }
    # --write-only / --engine-only: measure just that family (the
    # other slopes are re-measured only when their code changes)
    only_w = "--write-only" in sys.argv
    only_e = "--engine-only" in sys.argv
    # --names=a,b,c restricts to specific ops (any family)
    names = next(
        (a.split("=", 1)[1].split(",") for a in sys.argv[1:]
         if a.startswith("--names=")), None,
    )
    read_queries = () if (only_w or only_e) else QUERIES
    write_ops = () if only_e else WRITE_OPS
    engine_ops = () if only_w else tuple(ENGINE_SQL_OPS)
    if names:
        read_queries = tuple(n for n in read_queries if n in names)
        write_ops = tuple(n for n in write_ops if n in names)
        engine_ops = tuple(n for n in engine_ops if n in names)

    # warm-up at the smallest SF: JIT/codegen/plan caches out of the
    # timed region, exactly like bench.py
    warm = "/root/testdata/sf0.001"
    for name in read_queries:
        qs[name](spark, warm).collect()
    release_caches()

    report = {}
    for name in read_queries:
        times = {}
        for label, d in (("1x", _SF1), ("10x", _OUT)):
            best = None
            for _ in range(runs):
                t0 = time.perf_counter()
                qs[name](spark, d).collect()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
                release_caches()
            times[label] = round(best, 3)
        r1, r10 = rows[table_of[name]]
        slope = (times["10x"] / times["1x"]) / (r10 / r1)
        report[name] = {
            "t_1x_sec": times["1x"],
            "t_10x_sec": times["10x"],
            "rows_ratio": round(r10 / r1, 1),
            "time_ratio": round(times["10x"] / times["1x"], 2),
            "slope": round(slope, 3),
        }
        print(f"# {name}: {report[name]}", file=sys.stderr)

    # write-path rows (r8 verdict #3): same best-of-N protocol, fresh
    # warehouse per run, setup outside the timed region; the row basis
    # is `orders`, which scales exactly by _COPIES by construction
    for name in write_ops:
        _time_write_op(spark, "/root/testdata/sf0.001", name, 1)  # warm
        times, written = {}, {}
        for label, d, copies in (("1x", _SF1, 1), ("10x", _OUT, _COPIES)):
            best = None
            for _ in range(runs):
                dt, written[label] = _time_write_op(spark, d, name, copies)
                best = dt if best is None else min(best, dt)
            times[label] = round(best, 3)
        slope = (times["10x"] / times["1x"]) / _COPIES
        report[name] = {
            "t_1x_sec": times["1x"],
            "t_10x_sec": times["10x"],
            "bytes_1x": written["1x"],
            "bytes_10x": written["10x"],
            "rows_ratio": float(_COPIES),
            "time_ratio": round(times["10x"] / times["1x"], 2),
            "slope": round(slope, 3),
        }
        print(f"# {name}: {report[name]}", file=sys.stderr)

    # engine-surface SQL rows (r10 verdict #6): same best-of-N
    # protocol; `orders` scales exactly by _COPIES by construction
    for name in engine_ops:
        sql = ENGINE_SQL_OPS[name]
        _time_engine_sql(spark, "/root/testdata/sf0.001", sql)  # warm
        times = {}
        for label, d in (("1x", _SF1), ("10x", _OUT)):
            best = None
            for _ in range(runs):
                dt = _time_engine_sql(spark, d, sql)
                best = dt if best is None else min(best, dt)
            times[label] = round(best, 3)
        slope = (times["10x"] / times["1x"]) / _COPIES
        report[name] = {
            "t_1x_sec": times["1x"],
            "t_10x_sec": times["10x"],
            "rows_ratio": float(_COPIES),
            "time_ratio": round(times["10x"] / times["1x"], 2),
            "slope": round(slope, 3),
        }
        print(f"# {name}: {report[name]}", file=sys.stderr)
    print(json.dumps({"metric": "scale_slope_10x", "queries": report}))


if __name__ == "__main__":
    main()
