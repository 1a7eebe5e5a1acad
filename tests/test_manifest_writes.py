"""O(change) write-path tests — the manifest storage model.

The scale property under test (VERDICT r2 "Next round" #1-#3): commit
I/O must be proportional to the CHANGE, not to the table —
- INSERT / COPY FROM append a new segment and re-reference every
  pre-existing file verbatim;
- streaming micro-batches append, so bytes written per batch track the
  batch size even against a large accumulated table;
- UPDATE / DELETE copy-on-write only the files containing matched rows,
  leaving every untouched file byte-identical (same inode content);
- a DML statement matching zero rows performs no write at all.

These are asserted at the FILE level (paths + sizes + mtimes/bytes),
not just semantically, because the whole point is physical I/O.
"""

from __future__ import annotations

import os

import pytest

from andb_spark.api import AnalyticsEngine


@pytest.fixture()
def engine(spark, tmp_path):
    return AnalyticsEngine(str(tmp_path / "wh"), spark=spark)


def _file_state(paths: list[str]) -> dict[str, tuple[int, float]]:
    return {p: (os.path.getsize(p), os.path.getmtime(p)) for p in paths}


def _dir_bytes(d: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(d)
        for f in fs
        if f.endswith(".parquet")
    )


def test_insert_appends_without_rewriting(engine):
    e = engine.execute
    e("create table t (a int, b text)")
    e("insert into t select id, concat('r', id) from range(0, 5000)")
    files_before = engine._data_files("t")
    state_before = _file_state(files_before)
    segs_before = engine._segments_of(engine._meta("t"))

    e("insert into t values (99999, 'tail')")

    # manifest = old manifest + exactly one new segment
    segs_after = engine._segments_of(engine._meta("t"))
    assert segs_after[: len(segs_before)] == segs_before
    assert len(segs_after) == len(segs_before) + 1
    # every pre-existing file survives byte-identical at the same path
    assert _file_state(files_before) == state_before
    # the new segment holds only the inserted row's worth of data
    new_dir = os.path.join(engine.warehouse, "t", segs_after[-1])
    big = _dir_bytes(os.path.join(engine.warehouse, "t", segs_before[-1]))
    assert _dir_bytes(new_dir) < big / 10
    # and constraints still apply to appends
    e("create table nn (a int not null)")
    from andb_spark.api import EngineError

    with pytest.raises(EngineError, match="NOT NULL"):
        e("insert into nn values (null)")
    # correctness of the composed manifest
    assert e("select count(1) as n from t").rows == [(5001,)]


def test_copy_from_appends(engine, spark, tmp_path):
    e = engine.execute
    e("create table c (a int, b text)")
    e("insert into c select id, 'x' from range(0, 2000)")
    files_before = engine._data_files("c")
    state_before = _file_state(files_before)

    ext = str(tmp_path / "ext")
    spark.sql("select 7 as a, 'seven' as b").write.parquet(ext)
    e(f"copy c from '{ext}' format parquet")

    assert _file_state(files_before) == state_before
    assert e("select count(1) as n from c").rows == [(2001,)]


def test_update_rewrites_only_touched_files(engine):
    e = engine.execute
    e("create table u (k int, v int)")
    # three separate inserts → three segments, each with its own files
    for lo in (0, 1000, 2000):
        e(f"insert into u select id, id from range({lo}, {lo + 1000})")
    segs = engine._segments_of(engine._meta("u"))
    assert len(segs) == 4  # create + 3 inserts
    files_before = engine._data_files("u")
    state_before = _file_state(files_before)

    # touch only rows living in the middle insert's segment
    e("update u set v = v + 1 where k between 1000 and 1004")

    # no data file is rewritten: every one survives byte-identical,
    # the hit file (in the middle insert's segment) carries a deletion
    # vector for the 5 old rows, and their post-images are one new
    # segment appended to the manifest
    files_after = engine._data_files("u")
    assert _file_state(files_before) == state_before
    assert set(files_before) <= set(files_after)
    dvs = engine._meta("u")["dvs"]
    assert list(dvs) and all(rel.startswith(f"{segs[2]}/") for rel in dvs)
    assert sum(dv["n"] for dv in dvs.values()) == 5
    assert engine._segments_of(engine._meta("u"))[:4] == segs
    # semantics
    assert e(
        "select sum(v) as s from u where k between 1000 and 1004"
    ).rows == [(sum(range(1000, 1005)) + 5,)]
    assert e("select count(1) as n from u").rows == [(3000,)]


def test_delete_cow_and_zero_match_writes_nothing(engine):
    e = engine.execute
    e("create table d (k int)")
    e("insert into d select id from range(0, 1000)")
    e("insert into d select id from range(1000, 2000)")
    files_before = engine._data_files("d")
    state_before = _file_state(files_before)
    vnum_before = engine._meta("d")["vnum"]

    # zero-match DELETE: no write, no version bump
    r = e("delete from d where k < 0")
    assert r.effect_rows == 0
    assert engine._meta("d")["vnum"] == vnum_before
    assert _file_state(files_before) == state_before

    # targeted DELETE writes no data file: the manifest keeps every
    # file byte-identical and the hit file carries a deletion vector
    segs = engine._segments_of(engine._meta("d"))
    r = e("delete from d where k = 1500")
    assert r.effect_rows == 1
    assert engine._data_files("d") == files_before
    assert _file_state(files_before) == state_before
    assert engine._segments_of(engine._meta("d")) == segs
    dvs = engine._meta("d")["dvs"]
    assert len(dvs) == 1 and next(iter(dvs)).startswith(f"{segs[2]}/")
    assert next(iter(dvs.values()))["n"] == 1
    assert e("select count(1) as n from d").rows == [(1999,)]
    assert e("select count(1) as n from d where k = 1500").rows == [(0,)]


def test_streaming_append_bytes_per_batch_bounded(engine, spark, tmp_path):
    """Per-batch commit I/O must track the BATCH, not the accumulated
    table: with a large pre-existing metadata table, ingesting a few
    more files must write orders of magnitude less than the table."""
    from andb_spark.streaming.dedup_ingest import stream_multimodal_ingest

    e = engine.execute
    e(
        "create table media (doc_id bigint, n_bytes bigint,"
        " format text, width int, height int)"
    )
    # large pre-existing history (fake decode metadata for 20k docs)
    e(
        "insert into media select id, 100, 'bmp', 4, 4"
        " from range(0, 20000)"
    )
    table_bytes = sum(os.path.getsize(p) for p in engine._data_files("media"))
    files_before = engine._data_files("media")
    state_before = _file_state(files_before)

    src = tmp_path / "files"
    src.mkdir()
    for i in (90001, 90002, 90003):
        (src / f"img_{i}.bin").write_bytes(b"\x00" * 64)
    stream_multimodal_ingest(
        spark,
        str(src),
        engine,
        "media",
        str(tmp_path / "ckpt"),
        fake_decode=True,
    )

    assert e("select count(1) as n from media").rows == [(20003,)]
    # history files untouched
    assert _file_state(files_before) == state_before
    # the batch's segment is tiny relative to the table
    new_files = [p for p in engine._data_files("media") if p not in state_before]
    batch_bytes = sum(os.path.getsize(p) for p in new_files)
    assert batch_bytes < table_bytes / 20, (batch_bytes, table_bytes)


def test_time_travel_spans_append_versions(engine):
    e = engine.execute
    e("create table tt2 (a int)")
    e("insert into tt2 values (1)")
    e("insert into tt2 values (2)")
    e("delete from tt2 where a = 1")
    assert e("select a from tt2 order by a").rows == [(2,)]
    # v3 = first insert, v4 = both rows (append share the v3 segment)
    assert e("select a from tt2 version as of 3").rows == [(1,)]
    assert e("select a from tt2 version as of 4 order by a").rows == [
        (1,),
        (2,),
    ]


def test_merge_insert_only_is_pure_append(engine, spark):
    e = engine.execute
    e("create table mt (k int, v int)")
    e("insert into mt select id, id * 10 from range(0, 1000)")
    files_before = engine._data_files("mt")
    state_before = _file_state(files_before)
    spark.sql("select * from (values (5000, 1), (5001, 2)) t(k, v)") \
        .createOrReplaceTempView("msrc")
    e("create table msrc_t as select * from msrc")
    r = e(
        "merge into mt using msrc_t on mt.k = msrc_t.k"
        " when not matched then insert values (msrc_t.k, msrc_t.v)"
    )
    assert r.effect_rows == 2
    # insert-only MERGE must re-reference every pre-existing file
    assert _file_state(files_before) == state_before
    assert e("select count(1) as n from mt").rows == [(1002,)]


def test_merge_matched_cow_preserves_untouched_files(engine):
    e = engine.execute
    e("create table mc (k int, v int)")
    for lo in (0, 1000):
        e(f"insert into mc select id, id from range({lo}, {lo + 1000})")
    files_before = engine._data_files("mc")
    state_before = _file_state(files_before)
    e("create table mcsrc as select 1500 as k, 7 as v")
    r = e(
        "merge into mc using mcsrc on mc.k = mcsrc.k"
        " when matched then update set v = mcsrc.v"
    )
    assert r.effect_rows == 1
    files_after = set(engine._data_files("mc"))
    surviving = [p for p in files_before if p in files_after]
    # only files containing k=1500 (second insert segment) rewrite
    assert _file_state(surviving) == {p: state_before[p] for p in surviving}
    rewritten = [p for p in files_before if p not in files_after]
    assert rewritten
    assert e("select v from mc where k = 1500").rows == [(7,)]
    assert e("select count(1) as n from mc").rows == [(2000,)]


def test_upsert_cow_preserves_untouched_files(engine, spark):
    e = engine.execute
    e("create table ro (k int, total bigint)")
    e("insert into ro select id, id from range(0, 500)")
    e("insert into ro select id, id from range(500, 1000)")
    files_before = engine._data_files("ro")
    state_before = _file_state(files_before)
    batch = spark.sql(
        "select * from (values (750, CAST(99 AS BIGINT)),"
        " (2000, CAST(1 AS BIGINT))) t(k, total)"
    )
    engine._upsert("ro", batch, ["k"], extra_meta={"ro": {"last_stream_batch": 3}})
    files_after = set(engine._data_files("ro"))
    surviving = [p for p in files_before if p in files_after]
    assert _file_state(surviving) == {p: state_before[p] for p in surviving}
    rewritten = [p for p in files_before if p not in files_after]
    assert rewritten  # the file holding k=750
    assert engine.catalog["tables"]["ro"]["last_stream_batch"] == 3
    assert e("select total from ro where k = 750").rows == [(99,)]
    assert e("select total from ro where k = 2000").rows == [(1,)]
    assert e("select count(1) as n from ro").rows == [(1001,)]


def test_optimize_compacts_only_small_files(engine, monkeypatch):
    """Incremental compaction: with the size target lowered so the
    first segment's files count as 'large', OPTIMIZE packs only the
    small append segments and re-references the large files."""
    e = engine.execute
    e("create table oc (a int, b text)")
    e("insert into oc select id, repeat('x', 200) from range(0, 20000)")
    big_files = [
        p for p in engine._data_files("oc") if os.path.getsize(p) > 4096
    ]
    assert big_files, "fixture needs at least one >4KB file"
    big_state = _file_state(big_files)
    for i in (1, 2, 3):
        e(f"insert into oc values ({100000 + i}, 'tail')")

    monkeypatch.setattr(type(engine), "OPTIMIZE_FILE_BYTES", 4096)
    r = e("optimize oc")
    files_before, files_after, nrows = r.rows[0]
    assert nrows == 20003
    assert files_after < files_before
    # the large files survived byte-identical (never rewritten)
    assert _file_state(big_files) == big_state
    assert all(p in set(engine._data_files("oc")) for p in big_files)
    assert e("select count(1) as n from oc").rows == [(20003,)]


def test_chained_cow_over_file_entries(engine):
    """CoW leaves individual-file manifest entries behind; later DML
    must split those correctly too (entry granularity = file)."""
    e = engine.execute
    e("create table ch (k int, v int)")
    e("insert into ch select id, 0 from range(0, 2000)")
    e("update ch set v = 1 where k = 100")    # CoW #1 → file entries
    e("update ch set v = 2 where k = 1900")   # CoW #2 over residue
    r = e("delete from ch where k = 100")     # CoW #3
    assert r.effect_rows == 1
    assert e("select count(1) as n from ch").rows == [(1999,)]
    assert e("select v from ch where k = 1900").rows == [(2,)]
    assert e("select count(1) as n from ch where v = 1").rows == [(0,)]
    # manifest still resolves every row exactly once
    assert e("select count(distinct k) as n from ch").rows == [(1999,)]


def test_relative_warehouse_path_cow_still_matches(spark, tmp_path, monkeypatch):
    """Regression (r3 review): input_file_name() URIs are absolute, so
    a cwd-relative warehouse must be canonicalized or every CoW file
    comparison silently misses (UPDATE reported success but changed
    nothing)."""
    monkeypatch.chdir(tmp_path)
    eng = AnalyticsEngine("wh_rel", spark=spark)
    e = eng.execute
    e("create table rw (k int, v int)")
    e("insert into rw select id, 0 from range(0, 100)")
    r = e("update rw set v = 9 where k = 50")
    assert r.effect_rows == 1
    assert e("select v from rw where k = 50").rows == [(9,)]
    r = e("delete from rw where k = 51")
    assert r.effect_rows == 1
    assert e("select count(1) as n from rw").rows == [(99,)]
    # both statements took deletion vectors (the table has CREATE's
    # empty file besides the data file), which name rows by the
    # absolute file URI
    assert engine_dvs_total(eng, "rw") == 2


def engine_dvs_total(eng, t: str) -> int:
    return sum(dv["n"] for dv in eng._meta(t)["dvs"].values())


def test_dv_filter_matches_percent_encoded_file_uris(spark, tmp_path):
    """``_metadata.file_path`` is a percent-encoded URI: a warehouse
    path holding a space and a ``%`` must still match it, or every
    deleted row would reappear on read."""
    eng = AnalyticsEngine(str(tmp_path / "a b%20c"), spark=spark)
    e = eng.execute
    e("create table pe (k int, v int)")
    e("insert into pe select id, 0 from range(0, 100)")
    assert e("update pe set v = 9 where k = 50").effect_rows == 1
    assert e("delete from pe where k in (51, 52)").effect_rows == 2
    assert engine_dvs_total(eng, "pe") == 3
    assert e("select v from pe where k = 50").rows == [(9,)]
    assert e("select count(1) as n from pe").rows == [(98,)]
    assert e("select count(*) from pe where k between 50 and 52").rows == [
        (1,)
    ]


def test_cow_planning_scan_pushes_predicate(engine):
    """The hit-file discovery scan must push the DML predicate into the
    parquet scan (PushedFilters), so row-group min/max skipping applies
    — at scale CoW planning reads only row groups the predicate can
    touch, not the table."""
    from pyspark.sql import functions as F

    e = engine.execute
    e("create table pp (k int, v int)")
    e("insert into pp select id, id from range(0, 10000)")
    tagged = engine._cow_matched("pp", F.col("k") == 12)
    tagged.collect()
    plan = tagged._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters", 1)[1].split("]", 1)[0]
    assert "EqualTo(k,12)" in pushed or "k" in pushed, plan


def test_broad_update_falls_back_to_full_rewrite(engine):
    """A change touching ~every file routes to a plain full rewrite:
    the new manifest is a single segment, not a bloat of per-file
    entries. Staged-write output sizing is disabled so the insert
    lands multi-file (the layout this test is about — r15's sizing
    would otherwise collapse the 3000-row batch into one file and
    the update would be a 1-of-2-files CoW, not a broad change)."""
    e = engine.execute
    engine.session_vars["andb.stage_sizing_max_bytes"] = 0
    try:
        e("create table bu (k int, v int)")
        e("insert into bu select id, 0 from range(0, 3000)")
        r = e("update bu set v = 1 where k >= 0")  # hits every file
        assert r.effect_rows == 3000
        segs = engine._segments_of(engine._meta("bu"))
        assert len(segs) == 1, segs
        assert e("select sum(v) as s from bu").rows == [(3000,)]
    finally:
        engine.session_vars.pop("andb.stage_sizing_max_bytes", None)


def test_vacuum_sweeps_orphan_staged_dirs(engine):
    e = engine.execute
    e("create table vo (a int)")
    e("insert into vo values (1)")
    # simulate a crashed staged write: an unreachable dir on disk
    orphan = os.path.join(engine.warehouse, "vo", "v-deadbeef0000")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk.parquet"), "wb") as f:
        f.write(b"not parquet")
    e("vacuum vo")
    assert not os.path.exists(orphan)
    assert e("select a from vo").rows == [(1,)]


def test_zone_maps_prune_dml_planning(engine):
    """Per-segment min/max zone maps (harvested from parquet footers at
    write time, zero extra jobs) must let DML planning skip provably
    disjoint segments driver-side."""
    e = engine.execute
    e("create table zm (k int, v int)")
    e("insert into zm select id, id from range(0, 1000)")       # seg A: k 0..999
    e("insert into zm select id, id from range(5000, 6000)")    # seg B: k 5000..5999
    meta = engine._meta("zm")
    stats = engine._stats_of("zm")
    segs = engine._segments_of(meta)
    # both insert segments carry k/v bounds
    assert stats[segs[1]]["k"] == [0, 999]
    assert stats[segs[2]]["k"] == [5000, 5999]

    # predicate only segment B can satisfy: planning scans B alone
    scan = engine._zone_scan_entries("zm", "k between 5100 and 5200")
    assert segs[1] not in scan and segs[2] in scan
    # predicate no segment can satisfy: planning scans nothing at all
    assert engine._zone_scan_entries("zm", "k > 900000") == []
    r = e("delete from zm where k > 900000")
    assert r.effect_rows == 0
    # out-of-subset predicates scan everything (conservative)
    assert len(engine._zone_scan_entries("zm", "k % 2 = 0")) == len(segs)
    # IN lists prune via their interval hull
    scan = engine._zone_scan_entries("zm", "k in (5100, 5150)")
    assert segs[1] not in scan and segs[2] in scan
    # a hull spanning both segments scans both; NOT IN never prunes
    assert len(engine._zone_scan_entries("zm", "k in (10, 5100)")) >= 2
    assert len(engine._zone_scan_entries("zm", "k not in (10)")) == len(segs)

    # and the pruned path is still CORRECT end to end
    r = e("update zm set v = -1 where k between 5100 and 5200")
    assert r.effect_rows == 101
    assert e("select count(1) as n from zm where v = -1").rows == [(101,)]
    assert e("select count(1) as n from zm").rows == [(2000,)]


def test_zone_maps_prune_select_reads(engine):
    """Zone maps must also serve READS: a single-table SELECT whose
    WHERE fits the interval parser scans only the possibly-matching
    segments (file skipping before any parquet footer is opened), and
    the table view is restored afterwards."""
    e = engine.execute
    e("create table zr (k int, v int)")
    e("insert into zr select id, id from range(0, 1000)")      # A: 0..999
    e("insert into zr select id, id from range(5000, 6000)")   # B: 5000..5999
    e("insert into zr select id, id from range(9000, 9100)")   # C: 9000..9099

    # range hitting only segment B: correct result + 2 segments skipped
    r = e("select count(1) as n from zr where k between 5100 and 5200")
    assert r.rows == [(101,)]
    # A, C, and the empty create-segment all prune away
    assert "skipped 3/4" in engine.session_vars["andb.last_zone_prune"]

    # the rewrite narrows the scan to segment B's files via a UNIQUE
    # temp view — the table's own session view is never touched, so a
    # concurrent reader of `zr` always sees the full table
    stmt = "select k from zr where k between 5100 and 5200"
    mark = len(engine._stmt_views)
    rewritten = engine._zone_prune_view(stmt)
    (tmp,) = engine._stmt_views[mark:]  # the one view the prune bound
    assert tmp.startswith("zr__zp_") and tmp in rewritten
    segs = engine._segments_of(engine._meta("zr"))
    files = engine.spark.table(tmp).inputFiles()
    assert files and all(f"/{segs[2]}/" in f for f in files), files
    full_files = engine.spark.table("zr").inputFiles()
    assert len(full_files) > len(files)  # global view untouched mid-swap
    # a second statement issued while the swap is live still reads the
    # WHOLE table (the round-3 rebind-restore pattern failed this)
    assert e("select count(1) as n from zr").rows == [(2100,)]
    engine._release_views(mark)  # as execute() does at statement end

    # globally disjoint predicate: zero rows, all segments skipped
    r = e("select k from zr where k > 900000")
    assert r.rows == []
    assert "skipped 4/4" in engine.session_vars["andb.last_zone_prune"]

    # top-level OR prunes per-disjunct since r4 (DNF zone maps): only
    # the two segments containing a hit value scan
    engine.session_vars.pop("andb.last_zone_prune", None)
    r = e("select count(1) as n from zr where k = 10 or k = 5010")
    assert r.rows == [(2,)]
    assert "skipped 2/4" in engine.session_vars["andb.last_zone_prune"]

    # genuinely out-of-subset predicate (function call): no pruning
    engine.session_vars.pop("andb.last_zone_prune", None)
    r = e("select count(1) as n from zr where abs(k) = 10")
    assert r.rows == [(1,)]
    assert "andb.last_zone_prune" not in engine.session_vars

    # view restored: a later full-table read sees everything
    assert e("select count(1) as n from zr").rows == [(2100,)]

    # EXPLAIN surfaces the data-skipping decision
    r = e("explain select k from zr where k > 9000")
    assert "zone maps" in r.rows[0][0], r.rows[0][0]

    # session kill switch
    e("set andb.zone_prune = off")
    engine.session_vars.pop("andb.last_zone_prune", None)
    r = e("select count(1) as n from zr where k between 5100 and 5200")
    assert r.rows == [(101,)]
    assert "andb.last_zone_prune" not in engine.session_vars
    e("set andb.zone_prune = on")


def test_zone_maps_prune_on_date_columns(engine):
    """Date columns — the canonical time-series predicate — carry zone
    maps too (date32 footer stats → ISO strings, lexicographic ==
    chronological), for both DML planning and SELECT reads."""
    e = engine.execute
    e("create table zd (d date, v int)")
    e(
        "insert into zd select date_add(date '2024-01-01', cast(id as int)),"
        " cast(id as int) from range(0, 90)"
    )  # Jan 1 .. Mar 30
    e(
        "insert into zd select date_add(date '2024-06-01', cast(id as int)),"
        " cast(id as int) from range(0, 90)"
    )  # Jun 1 .. Aug 29
    meta = engine._meta("zd")
    segs = engine._segments_of(meta)
    assert engine._stats_of("zd")[segs[1]]["d"] == ["2024-01-01", "2024-03-30"]

    # only the June+ segment can hold July rows
    scan = engine._zone_scan_entries("zd", "d >= date '2024-07-01'")
    assert segs[1] not in scan and segs[2] in scan
    # bare ISO string literals parse too, and BETWEEN normalizes
    scan = engine._zone_scan_entries(
        "zd", "d between '2024-02-01' and '2024-02-10'"
    )
    assert segs[1] in scan and segs[2] not in scan
    # disjoint from everything: nothing scans
    assert engine._zone_scan_entries("zd", "d > '2025-01-01'") == []
    # numeric literal against the date column: type mismatch never prunes
    assert len(engine._zone_scan_entries("zd", "d > 5")) >= 2

    # SELECT read path prunes on the date predicate and stays correct
    r = e("select count(1) as n from zd where d >= date '2024-07-01'")
    assert r.rows == [(60,)]
    assert "skipped 2/3" in engine.session_vars["andb.last_zone_prune"]
    # DML on a date range touches only the June segment's files: it
    # rewrites none, and only files of that segment carry a deletion
    # vector
    files_before = engine._data_files("zd")
    state_before = _file_state(files_before)
    r = e("delete from zd where d >= date '2024-08-01'")
    assert r.effect_rows == 29
    assert engine._data_files("zd") == files_before
    assert _file_state(files_before) == state_before
    dvs = engine._meta("zd")["dvs"]
    assert dvs and all(rel.startswith(f"{segs[2]}/") for rel in dvs), dvs
    assert sum(dv["n"] for dv in dvs.values()) == 29
    assert e("select count(1) as n from zd").rows == [(151,)]


def test_andb_segments_view_exposes_manifest(engine):
    """The manifest as a SQL relation (Delta DESCRIBE DETAIL / Iceberg
    .files analog): one row per live entry with row count + zone maps.
    Sizing is disabled so each insert lands multi-file and the UPDATE
    below produces the partially-hit segment whose per-file CoW
    entries this test pins: it rewrites more than half of one file, so
    it takes copy-on-write rather than a deletion vector."""
    e = engine.execute
    engine.session_vars["andb.stage_sizing_max_bytes"] = 0
    e("create table sg (k int)")
    e("insert into sg select id from range(0, 100)")
    e("insert into sg select id from range(500, 600)")
    r = e(
        "select table_name, position, n_rows, zone_maps from andb_segments"
        " where table_name = 'sg' order by position"
    )
    assert [row[1] for row in r.rows] == [0, 1, 2]
    assert r.rows[1][2] == 100 and '"k": [0, 99]' in r.rows[1][3]
    assert r.rows[2][2] == 100 and '"k": [500, 599]' in r.rows[2][3]
    # CoW leaves per-file entries: row count does not transfer to a
    # subset file (NULL), the parent's bounds still (conservatively) do
    e("update sg set k = -1 where k between 550 and 580")
    r = e("select entry, n_rows from andb_segments where table_name = 'sg'")
    assert any("/" in row[0] and row[1] is None for row in r.rows), r.rows
    engine.session_vars.pop("andb.stage_sizing_max_bytes", None)
    # creation under a reserved name is rejected
    from andb_spark.api import EngineError

    with pytest.raises(EngineError, match="reserved"):
        e("create table andb_segments (x int)")


def test_alter_add_drop_column_metadata_only(engine):
    """ADD/DROP COLUMN must not rewrite a single data file; a re-added
    name must NOT resurrect the dropped column's old values."""
    e = engine.execute
    e("create table sc (k int, v int)")
    e("insert into sc select id, id * 10 from range(0, 500)")
    files_before = engine._data_files("sc")
    state_before = _file_state(files_before)

    e("alter table sc add column tag text")
    # zero data I/O, NULL-filled column
    assert _file_state(files_before) == state_before
    assert engine._data_files("sc") == files_before
    assert e("select count(1) as n from sc where tag is null").rows == [(500,)]
    # appends after the ALTER carry the new column
    e("insert into sc values (9000, 1, 'x')")
    assert e("select tag from sc where k = 9000").rows == [("x",)]

    e("alter table sc drop column v")
    assert _file_state(files_before) == state_before  # still untouched
    assert "v" not in engine.spark.table("sc").columns

    # re-adding 'v' must scrub: old files held v = k*10, which must NOT
    # come back
    e("alter table sc add column v bigint")
    assert e("select count(1) as n from sc where v is not null").rows == [(0,)]
    assert e("select count(1) as n from sc").rows == [(501,)]


def test_transaction_rollback_and_commit_over_manifest_writes(engine):
    """BEGIN/ROLLBACK must undo appends and CoW commits (manifest
    pointer restore + created-segment deletion); COMMIT must keep them
    and eventually free superseded segments."""
    e = engine.execute
    e("create table tx (k int, v int)")
    e("insert into tx select id, id from range(0, 100)")
    segs_before = engine._segments_of(engine._meta("tx"))

    e("begin")
    e("insert into tx values (500, 5)")
    e("update tx set v = -1 where k = 10")
    dirs_before = {s.split("/", 1)[0] for s in segs_before}
    new_dirs = {
        s.split("/", 1)[0]
        for s in engine._segments_of(engine._meta("tx"))
    } - dirs_before
    assert new_dirs  # the insert + CoW segments
    e("rollback")
    assert engine._segments_of(engine._meta("tx")) == segs_before
    for d in new_dirs:  # created segments deleted on rollback
        assert not os.path.exists(os.path.join(engine.warehouse, "tx", d))
    assert e("select count(1) as n from tx").rows == [(100,)]
    assert e("select v from tx where k = 10").rows == [(10,)]

    e("begin")
    e("insert into tx values (500, 5)")
    e("update tx set v = -1 where k = 10")
    e("commit")
    assert e("select count(1) as n from tx").rows == [(101,)]
    assert e("select v from tx where k = 10").rows == [(-1,)]


def test_auto_compact_folds_small_file_debt(engine, monkeypatch):
    """SET andb.auto_compact = n: once appends push the sub-target file
    count to >= n, the append itself triggers the incremental bin-pack
    — large files survive untouched, data is intact, and the debt
    resets so later appends accumulate again from a clean slate."""
    e = engine.execute
    e("create table ac (a int, b text)")
    e("insert into ac select id, repeat('x', 200) from range(0, 20000)")
    big_files = [
        p for p in engine._data_files("ac") if os.path.getsize(p) > 4096
    ]
    assert big_files, "fixture needs at least one >4KB file"
    big_state = _file_state(big_files)
    monkeypatch.setattr(type(engine), "OPTIMIZE_FILE_BYTES", 4096)

    # off by default: small files pile up monotonically
    e("insert into ac values (200001, 'tail')")
    e("insert into ac values (200002, 'tail')")
    small = [
        p for p in engine._data_files("ac") if os.path.getsize(p) < 4096
    ]
    assert len(small) >= 2

    e("set andb.auto_compact = 3")
    e("insert into ac values (200003, 'tail')")  # crosses the threshold
    small_after = [
        p for p in engine._data_files("ac") if os.path.getsize(p) < 4096
    ]
    assert len(small_after) < len(small) + 1  # debt folded, not grown
    assert _file_state(big_files) == big_state  # large files untouched
    assert e("select count(1) as n from ac").rows == [(20003,)]
    assert e(
        "select a from ac where a > 200000 order by a"
    ).rows == [(200001,), (200002,), (200003,)]

    # below threshold again: the next append does NOT compact
    n_files = len(engine._data_files("ac"))
    e("insert into ac values (200004, 'tail')")
    assert len(engine._data_files("ac")) > n_files

    from andb_spark.api import EngineError

    with pytest.raises(EngineError, match="auto_compact"):
        e("set andb.auto_compact = sometimes")


def test_auto_compact_applies_to_multi_table_appends(engine, monkeypatch):
    """The streaming-ingest commit path (_overwrite_all appends) honors
    andb.auto_compact: repeated per-batch appends fold their small-file
    debt once the threshold is crossed, keeping long-running ingests
    from accumulating one file per micro-batch forever."""
    e = engine.execute
    e("create table st (a int)")
    monkeypatch.setattr(type(engine), "OPTIMIZE_FILE_BYTES", 1 << 20)
    e("set andb.auto_compact = 5")
    spark = engine.spark
    for i in range(8):
        engine._overwrite_all(
            appends={"st": spark.range(i * 10, i * 10 + 10).selectExpr(
                "cast(id as int) as a")}
        )
    # without compaction there would be >= 8 small files
    assert len(engine._data_files("st")) < 8
    assert e("select count(1) as n from st").rows == [(80,)]
    assert e("select min(a) as lo, max(a) as hi from st").rows == [(0, 79)]


def test_clone_is_zero_copy_and_independent(engine):
    """CREATE TABLE new CLONE src: hardlinked snapshot — no data bytes
    copied (shared inodes), and each side's DML/DROP leaves the other
    byte-identical."""
    e = engine.execute
    e("create table src (a int, b text)")
    e("insert into src select id, concat('r', id) from range(0, 5000)")
    e("insert into src values (9999, 'tail')")
    r = e("create table dup clone src")
    assert r.effect_rows == 5001
    assert e("select count(1) as n from dup").rows == [(5001,)]

    # zero-copy: every clone file shares an inode with a source file
    src_inodes = {os.stat(f).st_ino for f in engine._data_files("src")}
    dup_files = engine._data_files("dup")
    assert dup_files and all(
        os.stat(f).st_ino in src_inodes for f in dup_files
    )

    # independence: mutate the source, clone unchanged
    e("update src set b = 'X' where a < 100")
    e("delete from src where a >= 4000")
    assert e("select count(1) as n from dup").rows == [(5001,)]
    assert e(
        "select b from dup where a = 5 order by b"
    ).rows == [("r5",)]
    # and dropping the source leaves the clone fully readable
    e("drop table src")
    assert e("select count(1) as n from dup").rows == [(5001,)]
    assert e("select b from dup where a = 9999").rows == [("tail",)]

    # the clone is a first-class table: DML and time travel work
    e("insert into dup values (10000, 'post-clone')")
    assert e("select count(1) as n from dup").rows == [(5002,)]

    from andb_spark.api import EngineError

    e("create table other (a int)")
    with pytest.raises(EngineError, match="already exists"):
        e("create table other clone dup")


def test_clone_version_as_of_restores_historical_snapshot(engine):
    """CLONE src VERSION AS OF n: zero-copy snapshot restore of a
    retained version as a new first-class table."""
    e = engine.execute
    e("create table vsrc (a int)")
    e("insert into vsrc values (1), (2)")
    v_before = engine._meta("vsrc")["vnum"]
    e("delete from vsrc where a = 1")
    e("insert into vsrc values (3)")
    e(f"create table restored clone vsrc version as of {v_before}")
    assert sorted(e("select a from restored").rows) == [(1,), (2,)]
    assert sorted(e("select a from vsrc").rows) == [(2,), (3,)]
    from andb_spark.api import EngineError

    with pytest.raises(EngineError, match="not retained"):
        e("create table nope clone vsrc version as of 999")


def test_restore_is_metadata_only_rollback(engine):
    """RESTORE TABLE t VERSION AS OF n: in-place rollback, zero data
    I/O — the restored manifest points at the SAME historical files."""
    e = engine.execute
    e("create table rs (a int)")
    e("insert into rs values (1), (2)")
    v_good = engine._meta("rs")["vnum"]
    good_files = set(engine._data_files("rs"))
    e("update rs set a = 0")   # bad mutation (full rewrite)
    e("insert into rs values (99)")
    e(f"restore table rs version as of {v_good}")
    assert sorted(e("select a from rs").rows) == [(1,), (2,)]
    # pointer move, not rewrite: the exact historical files are current
    assert set(engine._data_files("rs")) == good_files
    # the restore is itself a version: the pre-restore state is retained
    hist = [row[0] for row in e("show history for rs").rows]
    assert len(hist) >= 2
    from andb_spark.api import EngineError

    with pytest.raises(EngineError, match="not retained"):
        e("restore table rs version as of 999")
    e("begin")
    with pytest.raises(EngineError, match="transaction"):
        e(f"restore table rs version as of {v_good}")
    e("rollback")


def test_zone_maps_prune_on_string_columns(engine):
    """String columns (VERDICT r3 #7) — `o_orderstatus = 'F'`-class
    predicates, the most common predicate class in the fixtures —
    carry zone maps too: short string footer stats are exact, and the
    lexicographic interval math is shared with dates."""
    e = engine.execute
    e("create table zs (s text, v int)")
    e("insert into zs select chr(97 + cast(id % 5 as int)), cast(id as int)"
      " from range(0, 100)")                    # 'a'..'e'
    e("insert into zs select chr(109 + cast(id % 5 as int)), cast(id as int)"
      " from range(0, 100)")                    # 'm'..'q'
    e("insert into zs select chr(119 + cast(id % 4 as int)), cast(id as int)"
      " from range(0, 100)")                    # 'w'..'z'
    meta = engine._meta("zs")
    segs = engine._segments_of(meta)
    assert engine._stats_of("zs")[segs[1]]["s"] == ["a", "e"]
    assert engine._stats_of("zs")[segs[2]]["s"] == ["m", "q"]

    # equality hits exactly one segment
    scan = engine._zone_scan_entries("zs", "s = 'n'")
    assert segs[2] in scan and segs[1] not in scan and segs[3] not in scan
    # range + IN-hull
    scan = engine._zone_scan_entries("zs", "s > 'r'")
    assert segs[3] in scan and segs[2] not in scan
    scan = engine._zone_scan_entries("zs", "s in ('b', 'd')")
    assert segs[1] in scan and segs[2] not in scan
    # disjoint from everything (quote-escape form parses)
    assert engine._zone_scan_entries("zs", "s = 'z''z'") == []
    # numeric literal against the string column: mismatch never prunes
    assert len(engine._zone_scan_entries("zs", "s > 5")) >= 3
    # mixed domains on one column: pruning disabled entirely
    assert len(engine._zone_scan_entries("zs", "s > 'a' and s < 5")) >= 3

    # SELECT read path prunes and stays correct
    r = e("select count(1) as n from zs where s = 'n'")
    assert r.rows == [(20,)]
    assert "skipped 3/4" in engine.session_vars["andb.last_zone_prune"]
    r = e("select count(1) as n from zs where s between 'a' and 'c'")
    assert r.rows == [(60,)]

    # DML plans on string predicates rewrite only the matching segment
    files_before = set(engine._data_files("zs"))
    r = e("update zs set v = -1 where s = 'x'")
    assert r.effect_rows == 25
    untouched = {
        f for f in files_before
        if f"/{segs[1]}/" in f or f"/{segs[2]}/" in f
    }
    assert untouched <= set(engine._data_files("zs"))
    assert e("select count(1) as n from zs where v = -1").rows == [(25,)]


def test_catalog_commit_payload_independent_of_other_tables_stats(
    engine, tmp_path
):
    """Zone-map stats live in per-table sidecars (VERDICT r3 #8): a
    commit rewrites the catalog JSON + only the COMMITTING table's
    sidecar — its write payload must not grow with another table's
    accumulated stats volume."""
    import os

    e = engine.execute
    e("create table small (a int)")
    e("create table big (k int, v int)")
    e("insert into small values (1)")
    cat = engine._catalog_path
    small_sidecar = os.path.join(engine.warehouse, "small", "_stats.json")

    # inflate ANOTHER table's stats: many appends → many segments
    for i in range(12):
        e(f"insert into big select id, id from range({i * 10}, {i * 10 + 10})")
    big_sidecar = os.path.join(engine.warehouse, "big", "_stats.json")
    assert os.path.getsize(big_sidecar) > 400  # stats really accumulated

    # the catalog JSON carries manifests but ZERO zone-map payload —
    # no per-column [min, max] maps, under any key
    cat_text = open(cat).read()
    assert "segment_stats" not in cat_text
    assert "__rows" not in cat_text

    big_mtime = os.path.getmtime(big_sidecar)
    e("insert into small values (2)")
    # small's commit rewrote the catalog + small's own sidecar, but
    # did NOT rewrite big's sidecar — per-commit stats I/O is the
    # committing table's alone
    assert os.path.getmtime(big_sidecar) == big_mtime
    assert os.path.getsize(small_sidecar) < 200

    # stats survive a fresh engine over the same warehouse (sidecar
    # round trip) and still prune
    eng2 = AnalyticsEngine(engine.warehouse, spark=engine.spark)
    assert eng2._stats_of("big"), "sidecar stats must reload"
    scan = eng2._zone_scan_entries("big", "k between 0 and 5")
    assert len(scan) < len(eng2._segments_of(eng2._meta("big")))


def test_catalog_commit_payload_independent_of_other_tables_history(
    engine, spark
):
    """Per-table meta shards (VERDICT r4 missing #3): table meta —
    schema, manifest, retained HISTORY — lives in a content-addressed
    <table>/_meta.<sha1>.json; the root catalog holds only pointers.
    A commit to one table must not rewrite another table's shard, and
    the root must not grow with anyone's history volume."""
    import os

    e = engine.execute
    e("create table hsmall (a int)")
    e("insert into hsmall values (1)")
    e("create table hbig (k int)")
    for i in range(10):  # accumulate manifest + history volume on hbig
        e(f"insert into hbig select id from range({i * 5}, {i * 5 + 5})")
    big_shard = os.path.join(engine.warehouse, engine._meta_ptrs["hbig"])
    big_mtime = os.path.getmtime(big_shard)
    root_size = os.path.getsize(engine._catalog_path)

    e("insert into hsmall values (2)")
    # hbig's shard untouched by hsmall's commit — same file, same bytes
    assert engine._meta_ptrs["hbig"].endswith(os.path.basename(big_shard))
    assert os.path.getmtime(big_shard) == big_mtime
    # the root is pointers only: no manifest/history payload at all
    root_text = open(engine._catalog_path).read()
    assert '"history"' not in root_text
    assert '"segments"' not in root_text
    assert '"columns"' not in root_text
    # and its size is O(#tables), independent of history volume
    assert abs(os.path.getsize(engine._catalog_path) - root_size) < 64

    # full round trip through a fresh engine: meta (incl. history for
    # time travel) reloads from the shards
    eng2 = AnalyticsEngine(engine.warehouse, spark=spark)
    assert eng2.catalog["tables"]["hbig"].get("history")
    assert sorted(eng2.execute("select * from hsmall").rows) == [(1,), (2,)]
    # vnum 8 = after 6 inserts of 5 rows (create = vnum 1, empty);
    # within RETAIN_VERSIONS of current vnum 11
    assert eng2.execute(
        "select count(1) as n from hbig version as of 8"
    ).rows == [(30,)]

    # a crash-orphaned shard (written, root never swapped) is inert
    # and VACUUM sweeps it
    orphan = os.path.join(engine.warehouse, "hbig", "_meta.deadbeef00.json")
    open(orphan, "w").write("{}")
    eng3 = AnalyticsEngine(engine.warehouse, spark=spark)
    assert eng3.execute("select count(1) as n from hbig").rows == [(50,)]
    eng3.execute("vacuum hbig")
    assert not os.path.exists(orphan)
    live = os.path.join(engine.warehouse, eng3._meta_ptrs["hbig"])
    assert os.path.exists(live)


def test_legacy_in_catalog_stats_migrate_to_sidecars(engine, spark):
    """A pre-sidecar catalog (segment_stats inline in table meta) must
    load, prune, and flush its stats out to sidecars on first save."""
    import json
    import os

    e = engine.execute
    e("create table lg (k int)")
    e("insert into lg select id from range(0, 100)")
    e("insert into lg select id from range(5000, 5100)")
    # rewrite the catalog into the legacy layout: inline table meta
    # (no meta_file shard pointer) carrying segment_stats in-catalog
    sidecar = os.path.join(engine.warehouse, "lg", "_stats.json")
    stats = json.load(open(sidecar))
    catd = json.load(open(engine._catalog_path))
    catd["tables"]["lg"] = dict(
        engine.catalog["tables"]["lg"], segment_stats=stats
    )
    json.dump(catd, open(engine._catalog_path, "w"))
    os.remove(sidecar)

    eng2 = AnalyticsEngine(engine.warehouse, spark=spark)
    assert eng2._stats_of("lg") == stats  # migrated on load
    scan = eng2._zone_scan_entries("lg", "k > 4000")
    assert len(scan) < len(eng2._segments_of(eng2._meta("lg")))
    eng2.execute("insert into lg values (7)")  # any commit flushes
    assert os.path.exists(sidecar)
    assert "segment_stats" not in open(eng2._catalog_path).read()


def test_literal_insert_values_runs_no_spark_job(engine, monkeypatch):
    """Plain-literal INSERT VALUES appends a pyarrow-written segment
    entirely driver-side; expressions / typed literals / overflow fall
    back to the Spark path. Proven by making the Spark staging path
    explode: literal inserts must succeed anyway."""
    e = engine.execute
    e("create table li (a int, b text, c double, d boolean)")

    def boom(self, name, df, base=None):
        raise AssertionError("Spark staging used for a literal INSERT")

    monkeypatch.setattr(AnalyticsEngine, "_stage_version", boom)
    e("insert into li values (1, 'x', 2.5, true),"
      " (2, 'O''Brien', -0.5, false), (null, null, null, null)")
    monkeypatch.undo()
    assert e("select * from li order by a nulls last").rows == [
        (1, "x", 2.5, True),
        (2, "O'Brien", -0.5, False),
        (None, None, None, None),
    ]
    # fast-path appends carry zone maps like any other segment
    segs = engine._segments_of(engine._meta("li"))
    assert engine._stats_of("li")[segs[-1]]["a"] == [1, 2]
    scan = engine._zone_scan_entries("li", "a = 99")
    assert segs[-1] not in scan

    # expression VALUES falls back to Spark (and still works)
    e("insert into li values (1 + 2, upper('y'), 0.5, true)")
    assert e("select b from li where a = 3").rows == [("Y",)]

    # ANSI parity: int-range overflow defers to Spark, which raises
    from andb_spark.api import EngineError

    with pytest.raises(EngineError, match="OVERFLOW"):
        e("insert into li values (999999999999, 'z', 0.0, false)")

    # NOT NULL + varchar(n) behave identically on the fast path
    e("create table lnn (a int not null, s varchar(3))")
    with pytest.raises(EngineError, match="NOT NULL"):
        e("insert into lnn values (null, 'ab')")
    with pytest.raises(EngineError, match="NOT NULL"):
        e("insert into lnn (s) values ('ab')")
    e("insert into lnn values (1, 'abcdef')")
    assert e("select s from lnn").rows == [("abc",)]


def test_zone_maps_dnf_or_and_exact_in(engine):
    """r4 DNF pruning: top-level OR prunes per-disjunct, IN lists
    expand exactly (segments strictly BETWEEN two IN values skip —
    the old interval hull had to scan them), the expansion cap and
    NOT both fall back to full scans."""
    e = engine.execute
    e("create table zo (k int, s text)")
    e("insert into zo select id, concat('a', id) from range(0, 100)")
    e("insert into zo select id, concat('b', id) from range(5000, 5100)")
    e("insert into zo select id, concat('c', id) from range(9000, 9100)")
    segs = engine._segments_of(engine._meta("zo"))
    a, b, c = segs[1], segs[2], segs[3]

    # OR of two point lookups: middle segment skips
    scan = engine._zone_scan_entries("zo", "k = 10 or k = 9010")
    assert a in scan and c in scan and b not in scan
    # exact IN: the hull would scan B (5000..5100 lies inside [10,9010])
    scan = engine._zone_scan_entries("zo", "k in (10, 9010)")
    assert a in scan and c in scan and b not in scan
    # OR mixing columns: each disjunct prunes on its own column
    scan = engine._zone_scan_entries("zo", "k < 50 or s >= 'c'")
    assert a in scan and c in scan and b not in scan
    # OR with a conjunct inside one disjunct
    scan = engine._zone_scan_entries(
        "zo", "k >= 5000 and k < 5050 or k > 99999"
    )
    assert b in scan and a not in scan and c not in scan
    # correctness end to end through the pruned SELECT path
    assert e(
        "select count(1) as n from zo where k = 10 or k = 9010"
    ).rows == [(2,)]
    assert e(
        "select count(1) as n from zo where k in (10, 9010, 5050)"
    ).rows == [(3,)]

    # NOT anywhere: no pruning
    assert len(
        engine._zone_scan_entries("zo", "not k = 10")
    ) == len(segs)
    assert len(
        engine._zone_scan_entries("zo", "k not in (10)")
    ) == len(segs)
    # cap: an expansion past _ZONE_DNF_CAP disables pruning
    many = ", ".join(str(i) for i in range(20))
    assert len(
        engine._zone_scan_entries("zo", f"k in ({many})")
    ) == len(segs)


def test_zone_maps_canonicalize_noncanonical_date_literals(engine):
    """Spark casts '1995-6-1' to a date, but lexicographic pruning
    against ISO stats would mis-order it ('0' < '6' at position 5) and
    wrongly skip a matching segment. The stats' date-column marker
    canonicalizes such literals — and refuses to canonicalize literals
    aimed at TRUE string columns, where '1995-6-1' must compare raw."""
    e = engine.execute
    e("create table zdt (d date, s text, v int)")
    e(
        "insert into zdt select date_add(date '1995-06-01',"
        " cast(id as int)), concat('1995-6-', cast(1 + id as int)),"
        " cast(id as int) from range(0, 28)"
    )  # d: Jun 1..28; s: literal strings '1995-6-1'..'1995-6-28'
    e(
        "insert into zdt select date_add(date '1995-09-01',"
        " cast(id as int)), concat('x', cast(id as int)),"
        " cast(id as int) from range(0, 28)"
    )  # d: Sep 1..28
    segs = engine._segments_of(engine._meta("zdt"))
    st = engine._stats_of("zdt")
    assert st[segs[1]].get("__date") == ["d"]

    # non-canonical date literal: the June segment MUST scan
    scan = engine._zone_scan_entries("zdt", "d = '1995-6-1'")
    assert segs[1] in scan and segs[2] not in scan
    r = e("select count(1) as n from zdt where d = '1995-6-1'")
    assert r.rows == [(1,)]
    # explicit date keyword form too
    scan = engine._zone_scan_entries("zdt", "d >= date '1995-9-2'")
    assert segs[2] in scan and segs[1] not in scan
    # invalid date against a date column: never prunes (cast -> null)
    assert len(engine._zone_scan_entries("zdt", "d = '1995-13-99'")) >= 2
    # the SAME literal against a true STRING column compares RAW:
    # the June segment holds the literal string '1995-6-1'
    scan = engine._zone_scan_entries("zdt", "s = '1995-6-1'")
    assert segs[1] in scan
    assert e("select count(1) as n from zdt where s = '1995-6-1'").rows == [
        (1,)
    ]

    # legacy stats (no __v marker) never prune on string-domain bounds
    for seg in (segs[1], segs[2]):
        engine._stats_of("zdt")[seg].pop("__v", None)
        engine._stats_of("zdt")[seg].pop("__date", None)
    scan = engine._zone_scan_entries("zdt", "d = '1995-06-01'")
    assert segs[1] in scan and segs[2] in scan  # nothing string-pruned
    # numeric pruning on legacy stats still works
    scan = engine._zone_scan_entries("zdt", "v > 1000")
    assert segs[1] not in scan and segs[2] not in scan
