"""SQL entry point — the engine's analog of the reference's
``execute_simple_query`` (andb/entrance.py:16-55) and result shaping
(``ExecuteResultSet``, andb/executor/portal.py:38-82).

Statement classes and their handling (SURVEY.md §2.10):

- SELECT / EXPLAIN SELECT / WITH ...: delegated to Spark SQL over the
  registered views (fixture tables + managed tables). Catalyst is the
  analyzer/optimizer (SURVEY §3, §4 — everything the reference's
  transformations.py does, Catalyst does strictly better).
- CREATE TABLE (AnDB dialect types: int/bigint/real/double/boolean/
  char/varchar(n)/text/vector, NOT NULL): managed parquet table under
  the warehouse dir + JSON catalog (the analog of andb_class/
  andb_attribute, catalog/class_.py:17-32, attribute.py:6-27).
- INSERT [cols] VALUES / INSERT ... SELECT: NOT NULL enforced at write
  (mirrors relation.py:122-123 / transformations.py:486-488), varchar(n)
  truncated at write (mirrors relation.py:129-130).
- UPDATE ... SET ... WHERE / DELETE FROM ... WHERE: read-modify-
  overwrite of the managed parquet (the Spark-on-plain-parquet version
  of the reference's delete+insert rewrite, update.py:15-95).
- CREATE/DROP INDEX: metadata-only with column validation (utility.py:
  24-40 semantics) — Spark needs no B+tree; partition pruning and
  min/max skipping replace it (SURVEY §2.1 IndexScan row).
- EXPLAIN: two-column (logical, physical) single-row result preserving
  the reference's output shape (portal.py:124-128).
- CHECKPOINT: clears the Spark cache (xact checkpoint analog).

At scale, managed tables are directories of parquet parts; writes go
through a staged directory + atomic rename so readers never observe a
half-written table.
"""

from __future__ import annotations

import bisect
import datetime
import decimal
import functools
import hashlib
import itertools
import json
import os
import re
import shutil
import time
import urllib.parse
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from andb_spark.functions.register import register_all
from andb_spark.plans.ann import MODES as _ANN_MODES
from andb_spark.session import get_session, tune_for_session
from andb_spark.sql import dialect
from andb_spark.sql.dialect import FRAME_RE
from andb_spark.sql.scan import (
    EngineError,
    blank_literals,
    find_top_level_keyword,
    match_bracket,
    match_bracket_back,
    paren_depth_at,
    parse_order_item,
    split_items,
    split_top_level,
    sub_outside_literals,
)

# AnDB type name → Spark type (SURVEY.md §1.2 mapping table).
_TYPE_MAP = {
    "integer": T.IntegerType(),
    "int": T.IntegerType(),
    "bigint": T.LongType(),
    "real": T.FloatType(),
    "float": T.FloatType(),
    "double precision": T.DoubleType(),
    "double": T.DoubleType(),
    "boolean": T.BooleanType(),
    "bool": T.BooleanType(),
    "char": T.StringType(),
    "text": T.StringType(),
    "vector": T.ArrayType(T.FloatType()),
    # extensions beyond the reference (testdata needs them):
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
    "string": T.StringType(),
    "varchar": T.StringType(),  # bare, unbounded (DuckDB's default)
}

_VARCHAR_RE = re.compile(r"^varchar\s*\(?\s*(\d+)\s*\)?$", re.IGNORECASE)
# ON CONFLICT's EXCLUDED.<col> qualifier
_EXCLUDED_RE = re.compile(r"(?<!\w)excluded\.", re.I)


@dataclass
class Result:
    """Shape of the reference's ExecuteResultSet (portal.py:38-82):
    attribute names/types, row tuples, effected-row count, timing."""

    columns: list[str] = field(default_factory=list)
    types: list[str] = field(default_factory=list)
    rows: list[tuple] = field(default_factory=list)
    effect_rows: int = 0
    elapsed: float = 0.0
    success: bool = True
    warning: str | None = None

    def __iter__(self):
        return iter(self.rows)


def _local_df(spark, rows, schema):
    """Already-local rows → DataFrame with a row-count-derived slice
    count instead of the default defaultParallelism split: a handful
    of catalog/stats rows sliced 32 ways costs a 32-task pickled job
    per action touching the view (r15 job trace: three concurrent
    ~1 s 32-task jobs under ONE catalog query). ~4k rows per slice,
    capped at 8, floor 1 — big row sets keep parallel
    deserialization. Same Python→Catalyst conversion path, same
    values. Empty inputs keep the default path."""
    if not rows:
        return spark.createDataFrame(rows, schema)
    slices = max(1, min(8, len(rows) // 4000))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, slices), schema
    )


def _parse_type(name: str) -> tuple[T.DataType, int | None]:
    name = name.strip().lower()
    m = _VARCHAR_RE.match(name)
    if m:
        return T.StringType(), int(m.group(1))
    if name in _TYPE_MAP:
        return _TYPE_MAP[name], None
    if name.endswith("[]"):
        # DuckDB list-type spelling: <base>[] (nesting composes:
        # int[][]); parquet stores lists natively, so the engine
        # carries them end to end
        inner, _ = _parse_type(name[:-2])
        return T.ArrayType(inner), None
    if name.startswith("struct(") and name.endswith(")"):
        # DuckDB struct-type spelling: struct(a int, b text) —
        # fields recurse, so struct(xs int[], inner struct(...))
        # composes; parquet stores groups natively
        fields = []
        for fdef in split_items(name[7:-1]):
            parts = fdef.strip().split(None, 1)
            if len(parts) != 2:
                raise EngineError(f"bad struct field: {fdef!r}")
            fdt, _ = _parse_type(parts[1])
            fields.append(T.StructField(parts[0], fdt, True))
        if not fields:
            raise EngineError("struct type needs at least one field")
        return T.StructType(fields), None
    raise EngineError(f"unknown type: {name}")


def _quote_ident(name: str) -> str:
    """Backquoted Spark SQL identifier; an embedded backtick doubles."""
    return "`" + name.replace("`", "``") + "`"


def _sql_type(dt: T.DataType) -> str:
    """Spark SQL spelling of a data type, struct field names quoted
    (``simpleString`` leaves them bare, which a CAST cannot parse
    back when a name holds a space)."""
    if isinstance(dt, T.StructType):
        fields = ", ".join(
            f"{_quote_ident(f.name)}: {_sql_type(f.dataType)}"
            for f in dt.fields
        )
        return f"struct<{fields}>"
    if isinstance(dt, T.ArrayType):
        return f"array<{_sql_type(dt.elementType)}>"
    return dt.simpleString()


def _cast_to(schema: T.StructType) -> list[str]:
    """``selectExpr`` items projecting each column of ``schema`` cast
    to its declared type under its own name: one projection call
    instead of a py4j round trip per Column-API node."""
    return [
        f"CAST({_quote_ident(f.name)} AS {_sql_type(f.dataType)})"
        f" AS {_quote_ident(f.name)}"
        for f in schema.fields
    ]


def _sql_lit(v) -> str:
    """Spark SQL literal of a typed driver-side value (None, bool,
    int, float, str or date, as the literal INSERT path types them,
    or a Decimal from a collected row), spelled so Spark's parser
    reads back exactly that value: doubles go through a string cast
    (correctly rounded), decimals are BD literals, strings escape the
    backslash and the quote the way Spark's unescaping expects."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, decimal.Decimal):
        return f"{v:f}BD"
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


@functools.lru_cache(maxsize=4096)
def _parquet_rows(path: str) -> int:
    """Footer row count of one (immutable) data file."""
    import pyarrow.parquet as pq

    return pq.read_metadata(path).num_rows


def _footer_stats(seg_dir: str) -> tuple[int, dict[str, list]]:
    """Row count + per-column [min, max] zone maps for one segment,
    read from the parquet FOOTERS (driver-side metadata, no Spark job,
    no data I/O — the write already paid for these stats).

    Conservative by construction: numeric and date columns with exact
    min/max in every row group survive, plus SHORT string columns
    (<= 64 chars — far below any writer's statistics-truncation
    threshold, so the footer value is the exact bound; long strings
    are dropped because a truncated max without increment would be an
    unsound upper bound). A column missing stats in any file is
    dropped entirely. Dropped columns simply prune nothing — never
    wrong, only less effective."""
    import pyarrow.parquet as pq

    count = 0
    lo: dict[str, object] = {}
    hi: dict[str, object] = {}
    dead: set[str] = set()
    for fname in sorted(os.listdir(seg_dir)):
        if not fname.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(seg_dir, fname)).metadata
        count += md.num_rows
        for rg in range(md.num_row_groups):
            group = md.row_group(rg)
            for ci in range(group.num_columns):
                col = group.column(ci)
                name = col.path_in_schema
                if name in dead or "." in name:  # nested: skip
                    continue
                st = col.statistics
                # Numbers, date32, and short strings are trusted
                # (exact footer stats); datetime.datetime is EXCLUDED
                # (a date subclass, but timestamp pruning would need
                # timezone care), as are long/binary strings (writer-
                # truncatable past the cap).
                ok = st is not None and st.has_min_max and (
                    (
                        isinstance(st.min, (int, float))
                        and not isinstance(st.min, bool)
                    )
                    or (
                        isinstance(st.min, datetime.date)
                        and not isinstance(st.min, datetime.datetime)
                    )
                    or (
                        isinstance(st.min, str)
                        and isinstance(st.max, str)
                        and len(st.min) <= 64
                        and len(st.max) <= 64
                    )
                )
                if not ok:
                    dead.add(name)
                    lo.pop(name, None)
                    hi.pop(name, None)
                    continue
                lo[name] = min(lo.get(name, st.min), st.min)
                hi[name] = max(hi.get(name, st.max), st.max)

    def _js(v):  # dates → ISO strings: JSON-serializable, and ISO-8601
        return v.isoformat() if isinstance(v, datetime.date) else v

    out = {c: [_js(lo[c]), _js(hi[c])] for c in lo}
    # Which surviving columns are DATE-typed: their stats are ISO
    # strings, but a predicate literal like '1995-6-1' (which Spark
    # casts to a date) does NOT compare lexicographically — the pruner
    # must canonicalize literals for exactly these columns, and must
    # NOT canonicalize them for true string columns. "__v" marks the
    # marker's presence; legacy stats without it never prune on
    # string-domain bounds.
    date_cols = sorted(
        c for c in lo
        if isinstance(lo[c], datetime.date)
    )
    if date_cols:
        out["__date"] = date_cols
    out["__v"] = 2
    return count, out


# Rows up to which a driver-staged segment's zone also carries every
# distinct value of its columns ("__vals", next to each column's
# [min, max]): a point or narrow predicate then skips a small segment
# whose values scatter across the key range (an UPDATE's post-images)
# unless it holds a matching value. A deletion vector's sidecar keeps
# the same exact zone of the rows it deletes (``_rows_zone``), at any
# size: it already holds one position per row.
_EXACT_ZONE_ROWS = 256


def _exact_vals(columns: dict[str, list], stats: dict) -> dict[str, list]:
    """Sorted distinct non-NULL values of ``columns`` (name → values)
    for each column ``stats`` keeps a non-float zone for, spelled like
    the zone (dates as ISO text)."""
    out = {}
    for col, values in columns.items():
        pair = stats.get(col)
        if pair is None or col.startswith("__") or isinstance(
            pair[0], float
        ):
            continue
        vals = {
            v.isoformat() if isinstance(v, datetime.date) else v
            for v in values if v is not None
        }
        try:
            out[col] = sorted(vals)
        except TypeError:  # mixed domains: no exact zone
            continue
    return out


def _rows_zone(schema: T.StructType, rows: list[tuple]) -> dict:
    """The exact zone (the ``_footer_stats`` shape plus ``__vals``) of
    rows held on the driver: integer, date and short string columns."""
    cols: dict[str, list] = {}
    dates = []
    for i, f_ in enumerate(schema.fields):
        t = f_.dataType
        if isinstance(t, T.DateType):
            dates.append(f_.name)
        elif not isinstance(
            t, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                T.StringType)
        ):
            continue
        vals = [r[i] for r in rows if r[i] is not None]
        if not vals or (
            isinstance(t, T.StringType) and max(map(len, vals)) > 64
        ):
            continue
        cols[f_.name] = vals
    out: dict = {"__v": 2}
    if dates:
        out["__date"] = [d for d in dates if d in cols]
    for col, vals in cols.items():
        js = [v.isoformat() if isinstance(v, datetime.date) else v
              for v in vals]
        out[col] = [min(js), max(js)]
    out["__vals"] = _exact_vals(cols, out)
    return out


def _merge_zones(a: dict, b: dict) -> dict:
    """The zone of the union of two row sets (columns both bound)."""
    out: dict = {"__v": 2, "__date": sorted(
        set(a.get("__date", ())) | set(b.get("__date", ()))
    )}
    av, bv = a.get("__vals", {}), b.get("__vals", {})
    vals = {}
    for col in a:
        if col.startswith("__") or col not in b:
            continue
        try:
            out[col] = [min(a[col][0], b[col][0]), max(a[col][1], b[col][1])]
            if col in av and col in bv:
                vals[col] = sorted(set(av[col]) | set(bv[col]))
        except TypeError:  # the column changed domain: no zone
            out.pop(col, None)
    out["__vals"] = vals
    return out


# Conjunct shapes the zone-map pruner understands. Anything else in a
# predicate (OR, NOT, parens, functions, other literal types) makes
# the whole predicate unprunable — correct, just less effective.
# Literals: numbers, and single-quoted strings ('' escapes a quote) —
# the latter cover both plain string columns AND dates (`date
# '1995-01-01'` or a bare '1995-01-01'): date zone maps are stored as
# ISO strings, whose lexicographic order IS chronological order, so
# ONE string-domain closed-interval math serves both types.
_ZONE_LIT = r"(?:-?\d+(?:\.\d+)?|(?:date\s+)?'(?:[^']|'')*')"
_ZONE_CMP_RE = re.compile(
    rf"^(\w+)\s*(=|==|<=|>=|<|>)\s*({_ZONE_LIT})$", re.I
)
_ZONE_BETWEEN_RE = re.compile(
    rf"(\w+)\s+between\s+({_ZONE_LIT})\s+and\s+({_ZONE_LIT})",
    re.I,
)
_ZONE_STR_RE = re.compile(r"^(?:date\s+)?'((?:[^']|'')*)'$", re.I)
_ZONE_IN_RE = re.compile(
    rf"\b(\w+)\s+in\s+\(\s*({_ZONE_LIT}(?:\s*,\s*{_ZONE_LIT})*)\s*\)", re.I
)


class _ZoneBound:
    """±infinity sentinels for zone-interval bounds. They order
    correctly against ANY literal type via reflected comparisons (so
    max()/min() in the interval intersection and the disjointness
    probes both work), unlike the former "~"-string hack, which a
    non-ASCII string value could lexicographically exceed."""

    __slots__ = ("top",)

    def __init__(self, top: bool):
        self.top = top

    def __lt__(self, other):
        return not self.top and not (
            isinstance(other, _ZoneBound) and not other.top
        )

    def __gt__(self, other):
        return self.top and not (
            isinstance(other, _ZoneBound) and other.top
        )

    def __le__(self, other):
        return not self.top or (isinstance(other, _ZoneBound) and other.top)

    def __ge__(self, other):
        return self.top or (
            isinstance(other, _ZoneBound) and not other.top
        )

    def __repr__(self):
        return "+inf" if self.top else "-inf"


_ZONE_NEG = _ZoneBound(top=False)
_ZONE_POS = _ZoneBound(top=True)


def _files_have_columns(paths: list[str], cols: list[str]) -> bool:
    """True iff EVERY parquet file physically carries all of ``cols``
    (footer schema reads — driver-side metadata, no Spark job)."""
    import pyarrow.parquet as pq

    want = {c.lower() for c in cols}
    for p in paths:
        names = {n.lower() for n in pq.ParquetFile(p).schema_arrow.names}
        if not want <= names:
            return False
    return True


_DATE_CANON_RE = re.compile(r"(\d{4})-(\d{1,2})-(\d{1,2})")


def _canon_date(s: str) -> str | None:
    """Zero-padded ISO form of a date-like literal (Spark's cast
    accepts '1995-6-1'; lexicographic pruning needs '1995-06-01'), or
    None when the literal is not a valid date — the caller then skips
    pruning on that bound."""
    m = _DATE_CANON_RE.fullmatch(s.strip())
    if not m:
        return None
    y, mo, d = (int(g) for g in m.groups())
    try:
        return datetime.date(y, mo, d).isoformat()
    except ValueError:
        return None


# Disjuncts a DNF predicate may expand to before pruning is abandoned
# (an IN over many values x an OR chain could otherwise explode the
# per-segment disjointness check).
_ZONE_DNF_CAP = 16


def _parse_zone_literal(lit: str) -> tuple[str, object] | None:
    """One literal → (domain, python value). Strings and ISO dates
    share the "str" lexicographic domain (date zone maps are stored as
    ISO strings). Ints stay ints: float() would round >2^53 literals
    and could prune a segment that actually matches (Python compares
    int vs float exactly, so mixed stats are safe)."""
    sm = _ZONE_STR_RE.match(lit)
    if sm:
        return "str", sm.group(1).replace("''", "'")
    if re.fullmatch(r"-?\d+", lit):
        return "num", int(lit)
    if re.fullmatch(r"-?\d+\.\d+", lit):
        return "num", float(lit)
    return None


def _zone_dnf(cond_text: str | None) -> list[dict[str, tuple]] | None:
    """Parse a WHERE text into a bounded DISJUNCTION of per-column
    closed-interval maps, or None when any part of it is beyond the
    conservative subset (pruning then disabled). A segment may be
    skipped iff it is provably disjoint from EVERY disjunct.

    Handled shapes: conjunctions of `col op literal` / BETWEEN, joined
    by top-level OR, with IN lists expanded EXACTLY (one disjunct per
    value — `k in (10, 5100)` skips segments strictly between the
    values, which the old interval-hull relaxation could not).
    Unbounded sides are the ``_ZONE_NEG``/``_ZONE_POS`` sentinels,
    which order against every literal type. NOT anywhere, leftover
    parens, mixed literal domains on one column, or a blown
    ``_ZONE_DNF_CAP`` all disable pruning — and any literal containing
    ' and '/' or ' merely mis-splits into an unparsable fragment,
    which also lands on "no pruning", never on a wrong skip."""
    if not cond_text:
        return None
    text = _ZONE_BETWEEN_RE.sub(
        r"\1 >= \2 and \1 <= \3", cond_text.strip()
    )
    if re.search(r"\bnot\b", text, re.I):
        return None
    maps: list[dict[str, tuple]] = []
    for dj in re.split(r"\s+or\s+", text, flags=re.I):
        dj_maps = _conjunct_maps(dj.strip())
        if dj_maps is None:
            return None
        maps.extend(dj_maps)
        if len(maps) > _ZONE_DNF_CAP:
            return None
    return maps or None


def _conjunct_maps(dj: str) -> list[dict[str, tuple]] | None:
    """One AND-conjunct → interval maps (several when IN lists expand
    to their value alternatives), or None when unparsable."""
    ins: list[tuple[str, list]] = []
    base: dict[str, tuple] = {}
    domains: dict[str, str] = {}
    for part in re.split(r"\s+and\s+", dj, flags=re.I):
        part = part.strip()
        im = _ZONE_IN_RE.fullmatch(part)
        if im:
            col, dom, vals = im.group(1), None, []
            for lit in split_items(im.group(2)):
                parsed = _parse_zone_literal(lit.strip())
                if parsed is None:
                    return None
                d, v = parsed
                if dom is None:
                    dom = d
                elif d != dom:
                    return None  # mixed literal domains in one IN
                vals.append(v)
            if domains.setdefault(col, dom) != dom:
                return None
            ins.append((col, vals))
            continue
        m = _ZONE_CMP_RE.match(part)
        if not m:
            return None  # any unparsable conjunct disables pruning
        col, op, lit = m.group(1), m.group(2), m.group(3)
        parsed = _parse_zone_literal(lit)
        if parsed is None:
            return None
        d, v = parsed
        if domains.setdefault(col, d) != d:
            return None  # same column, mixed literal domains
        if op in ("=", "=="):
            bounds = (v, v)
        elif op in ("<", "<="):
            bounds = (_ZONE_NEG, v)
        else:
            bounds = (v, _ZONE_POS)
        prev = base.get(col, (_ZONE_NEG, _ZONE_POS))
        base[col] = (max(prev[0], bounds[0]), min(prev[1], bounds[1]))
    out = [base]
    for col, vals in ins:
        nxt = []
        for m_ in out:
            prev = m_.get(col, (_ZONE_NEG, _ZONE_POS))
            for v in vals:
                nxt.append(
                    {**m_, col: (max(prev[0], v), min(prev[1], v))}
                )
        out = nxt
        if len(out) > _ZONE_DNF_CAP:
            return None
    return out


class AnalyticsEngine:
    """A database-shaped facade over a SparkSession + warehouse dir."""

    def __init__(
        self,
        warehouse_dir: str,
        spark: SparkSession | None = None,
        attach_dir: str | None = None,
    ):
        self.spark = tune_for_session(spark or get_session())
        # Canonical absolute path: writers compare _metadata.file_path
        # URIs (always absolute) against manifest paths built from
        # this root — a relative warehouse would make every comparison
        # silently miss.
        self.warehouse = os.path.abspath(warehouse_dir)
        os.makedirs(warehouse_dir, exist_ok=True)
        self._catalog_path = os.path.join(warehouse_dir, "_catalog.json")
        # Advisory single-writer lock, acquired BEFORE recovery runs:
        # the pid-in-txn-marker guard below stops recovery from rolling
        # back a LIVE transaction, but without a lock two engines in
        # different processes could still race commits (last os.replace
        # wins — VERDICT r4 missing #4). The lock makes the documented
        # one-process-per-warehouse contract mechanical: a second
        # process fails fast at init, naming the owner. Same-process
        # engine objects share the lock (one pid, one JVM — the normal
        # restart-simulation pattern); a dead owner's lock is taken
        # over silently (crash = release), so no unlock-on-crash
        # bookkeeping is needed.
        self._lock_path = os.path.join(self.warehouse, "_engine.lock")
        self._acquire_warehouse_lock()
        self.catalog: dict = (
            json.load(open(self._catalog_path))
            if os.path.exists(self._catalog_path)
            else {"tables": {}, "indexes": {}}
        )
        # Per-table metadata shards (VERDICT r4 missing #3, finishing
        # the stats-sidecar job): on disk the root catalog holds only a
        # tiny {"meta_file": ...} pointer per table; each table's full
        # meta (schema, manifest, retained history) lives in a
        # content-addressed immutable file <table>/_meta.<sha1>.json.
        # A commit therefore writes the changed tables' shards + the
        # pointer root — other tables' history volume never rides
        # along. In MEMORY the catalog stays fully inflated (every
        # call site keeps meta["history"] et al.); ``_meta_ptrs``
        # remembers which shard file each inflated meta came from so
        # ``_save_catalog`` can skip unchanged tables by content hash.
        # Pre-shard catalogs (inline metas, no "meta_file" key) load
        # as-is and shard on their first save.
        self._meta_ptrs: dict[str, str] = {}
        for tname, entry in list(self.catalog["tables"].items()):
            mf = entry.get("meta_file") if isinstance(entry, dict) else None
            if mf is not None:
                self.catalog["tables"][tname] = json.load(
                    open(os.path.join(self.warehouse, mf))
                )
                self._meta_ptrs[tname] = mf
        # Per-table zone-map sidecars (<table>/_stats.json), loaded
        # lazily and flushed only when that table's stats changed. Kept
        # OUT of the catalog JSON so a commit's metadata write is
        # independent of every OTHER table's accumulated stats volume —
        # at 1M files the monolithic catalog was the one driver-side
        # write that grew with total metadata (VERDICT r3 #8). Stats
        # entries are keyed by immutable uuid segment dirs, so a stale
        # sidecar entry (crash between sidecar flush and catalog
        # commit, or a rolled-back transaction's staged segment) can
        # never be wrongly matched to different data — it is simply
        # never referenced by the manifest.
        self._seg_stats: dict[str, dict] = {}
        self._stats_dirty: set[str] = set()
        # deletion-vector sidecar positions by path (immutable files)
        # and each table dir's file URI prefix (see _dv_filter)
        self._dv_cache: dict[str, dict] = {}
        self._table_uris: dict[str, str] = {}
        for tname, tmeta in self.catalog["tables"].items():
            legacy = tmeta.pop("segment_stats", None)  # pre-sidecar
            if legacy is not None:
                self._seg_stats[tname] = legacy
                self._stats_dirty.add(tname)
        # Crash recovery for transactions: BEGIN persists its catalog
        # snapshot next to the catalog (the durable undo record). A
        # marker still present here means the process died inside a
        # transaction whose statements had already advanced the durable
        # catalog — restore the snapshot (= ROLLBACK), honoring the
        # all-or-nothing contract across crashes, not just errors.
        # Version dirs the dead transaction wrote become unreferenced
        # orphans; VACUUM sweeps them.
        self._txn_snap_path = self._catalog_path + ".txn"
        if os.path.exists(self._txn_snap_path):
            marker = json.load(open(self._txn_snap_path))
            # New-format markers carry the owning pid; recovery must
            # NOT roll back a transaction whose owner is still running
            # (a second engine on the same warehouse would otherwise
            # silently revoke the live transaction's durable state).
            # A legacy marker (the raw catalog snapshot) has no owner
            # and is always treated as a crash.
            snap = marker.get("catalog", marker)
            owner = marker.get("__txn_pid")
            # ANDB_FORCE_RECOVERY unbricks the pid-recycling case: the
            # owner died long ago but the OS reassigned its pid to an
            # unrelated long-lived process, so the liveness probe can
            # never clear on its own.
            if (
                owner is not None
                and _pid_alive(owner)
                and not os.environ.get("ANDB_FORCE_RECOVERY")
            ):
                raise EngineError(
                    f"warehouse has an open transaction owned by live "
                    f"process {owner}; one engine per warehouse at a "
                    f"time (if that pid belongs to an unrelated process "
                    f"after a restart, set ANDB_FORCE_RECOVERY=1 to "
                    f"roll the transaction back)"
                )
            self.catalog = snap
            # The snapshot is the fully-inflated catalog BEGIN dumped;
            # the normal sharded save persists it (content-addressing
            # rewrites exactly the tables the dead transaction had
            # touched). Marker removal AFTER the save: a crash between
            # the two replays the same idempotent recovery.
            self.catalog.setdefault("stats", {})
            self._save_catalog()
            os.remove(self._txn_snap_path)
        # Active transaction state (BEGIN..COMMIT/ROLLBACK): a snapshot
        # of the catalog plus the version dirs created/superseded since
        # BEGIN. Table data is versioned directories, so rollback is a
        # pointer restore — no data copy (MVCC-lite; the analog of the
        # reference's WAL-undo abort path, andb/storage/xact/undo.py).
        self._txn: dict | None = None
        # Session variables (the reference's SessionVars threading.local,
        # andb/runtime/session_vars.py:6-8). `andb.ann_mode` gates the
        # vector access-path rewrite in _select (plans/ann.py): approximate
        # answers are strictly opt-in.
        self.session_vars: dict[str, str] = {"andb.ann_mode": "exact"}
        self.catalog.setdefault("stats", {})
        # Logical (non-materialized) views: name -> {"sql": defining
        # query, "columns": creation-time schema snapshot (advisory —
        # the live schema re-derives at every bind)}. Persisted in the
        # catalog root like "stats"/"indexes"; the defining SQL plans
        # through the FULL engine pipeline at reference time
        # (``_bind_referenced_views``), so engine-only SQL (QUALIFY,
        # BY NAME, DISTINCT ON, COLUMNS) works in view bodies and a
        # view always reflects its base tables' CURRENT state. DuckDB
        # CREATE VIEW analog; the reference has no view surface
        # (andb/sql/parser_.py has no CREATE VIEW production).
        self.catalog.setdefault("views", {})
        # Spark temp-view names this engine bound for logical views —
        # swept when a rollback/restore removes the catalog entry, so
        # a stale session binding can never serve a dropped view.
        self._bound_views: set[str] = set()
        # Helper temp views the running statement bound (rewrite
        # passes, CTE bodies, subquery sources, time travel), in bind
        # order. execute() notes the length on entry and drops the
        # suffix on exit (_release_views), so nested execute() calls
        # (EXECUTE, IMPORT DATABASE) release only their own; the
        # streaming sinks' commit (_overwrite_all) scopes the refreshes
        # it triggers the same way. A helper is needed only until the
        # SQL naming it is analyzed, so statement end is never early.
        self._stmt_views: list[str] = []
        # Sequence reservations as (sequence, previous current), in
        # order; execute() settles its own suffix on exit, the same
        # scoping as _stmt_views (_settle_sequences).
        self._seq_reserved: list[tuple[str, int | None]] = []
        register_all(self.spark)
        # re-register managed tables from a previous session (durability
        # across engine restarts — the reference's catalog reload,
        # initializer.py:51-63)
        for name in self.catalog["tables"]:
            if os.path.exists(self._table_dir(name)):
                self._view(name)
        # System views build LAZILY: execute() refreshes them when a
        # statement actually references andb_* (the same dirty hook
        # DDL uses). Building all six createDataFrame views eagerly
        # cost ~0.2 s of driver time per engine open, paid by every
        # lifecycle bench row and by compare.py's per-query engines,
        # almost none of which ever read a system view (r15 guide §1
        # measurement).
        self._sysviews_dirty = True
        if attach_dir:
            from andb_spark.catalog import register_tables

            register_tables(self.spark, attach_dir)

    def _acquire_warehouse_lock(self) -> None:
        """Take the per-warehouse advisory lock or fail fast.

        The lock is a pid file; every read-check-claim of it runs under
        an fcntl.flock-ed guard file, so the whole protocol is one
        critical section — no TOCTOU between observing a stale owner
        and claiming (the two prior designs both had one: tmp-file +
        os.replace let the replace loser keep running, and rename-claim
        let a slow claimant steal a winner's fresh live lock between
        its create and the claimant's rename). The guard needs no
        staleness handling of its own: the kernel drops flocks when
        their holder dies, and the guard is held only for the few
        microseconds of the claim protocol, never for the engine's
        lifetime (so same-process re-entrancy — where flocks on two
        fds of one file CONFLICT — just briefly blocks, then sees its
        own pid and returns).

        Owner-pid decision under the guard: our own pid → re-entrant
        (another engine object in this process — same writer), absent /
        torn / dead pid → claim, live foreign pid → refuse naming the
        owner. ANDB_FORCE_RECOVERY=1 overrides the live-owner check for
        the pid-recycling case, same escape as transaction recovery.
        One engine process per warehouse; liveness rather than fencing
        — advisory for cooperating engines, not a defense against
        kill -9 followed by pid reuse (documented boundary)."""
        import fcntl

        me = os.getpid()
        gfd = os.open(self._lock_path + ".guard", os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(gfd, fcntl.LOCK_EX)
            try:
                owner = json.load(open(self._lock_path)).get("pid")
            except (OSError, ValueError):
                owner = None  # absent or torn — claimable
            if owner == me:
                return  # re-entrant within this process
            if (
                owner is not None
                and _pid_alive(owner)
                and not os.environ.get("ANDB_FORCE_RECOVERY")
            ):
                raise EngineError(
                    f"warehouse {self.warehouse} is locked by live process "
                    f"{owner}; one engine process per warehouse at a time "
                    f"(close() the other engine, or if that pid belongs to "
                    f"an unrelated process after a restart, set "
                    f"ANDB_FORCE_RECOVERY=1 to take the lock over)"
                )
            # Claim: write-then-replace so the lock file is never
            # observable without its pid, even by readers that do not
            # take the guard.
            tmp = self._lock_path + f".tmp.{me}"
            with open(tmp, "w") as f:
                f.write(json.dumps({"pid": me}))
            os.replace(tmp, self._lock_path)
        finally:
            os.close(gfd)  # releases the flock

    def close(self) -> None:
        """Release the warehouse lock (if this process holds it) and
        any statement-scoped caches. The engine object is not usable
        afterwards for writes from another process until re-opened.
        Idempotent; never raises on a missing/foreign lock."""
        try:
            import fcntl

            gfd = os.open(self._lock_path + ".guard", os.O_CREAT | os.O_RDWR)
            try:
                fcntl.flock(gfd, fcntl.LOCK_EX)  # same critical section
                owner = json.load(open(self._lock_path)).get("pid")
                if owner == os.getpid():
                    os.remove(self._lock_path)
            finally:
                os.close(gfd)
        except (OSError, ValueError):
            pass
        for tname in [
            n for n, m in self.catalog["tables"].items()
            if m.get("temp")
        ]:
            shutil.rmtree(
                os.path.join(self.warehouse, tname), ignore_errors=True
            )
            self.catalog["tables"].pop(tname, None)
            try:
                self.spark.catalog.dropTempView(tname)
            except Exception:
                pass
        from andb_spark.caching import release_caches

        release_caches()

    # ------------------------------------------------------------- util --
    #
    # Storage model (manifest versions — the Iceberg/Delta snapshot
    # economics over plain parquet): a table VERSION is an ordered list
    # of immutable data paths ("segments": a directory written by one
    # commit, or an individual surviving parquet file left by
    # copy-on-write DML). Segments are SHARED across versions, so
    #   - append (INSERT / COPY FROM / streaming batch) writes only the
    #     new rows and commits manifest = old + [new]  → O(batch);
    #   - UPDATE/DELETE rewrite only the files containing matched rows
    #     and re-reference every untouched file  → O(changed files);
    #   - overwrite (CREATE/ALTER/OPTIMIZE/MERGE) commits [new].
    # The catalog JSON `os.replace` stays the single commit point;
    # readers resolve the manifest to concrete paths at view refresh, so
    # they see an old version or the new one, never a mix. Pruning is
    # reference-counted: a segment dir dies only when neither the
    # current manifest nor any retained history entry references it or
    # a file inside it.
    def _table_dir(self, name: str) -> str:
        """Directory of the table's most recent commit segment — the
        anchor for existence checks. NOT the full table: readers go
        through ``_read_table`` (a version can span many segments)."""
        meta = self.catalog["tables"].get(name)
        version = meta.get("version", "") if meta else ""
        base = os.path.join(self.warehouse, name)
        return os.path.join(base, version) if version else base

    @staticmethod
    def _segments_of(meta_or_entry: dict) -> list[str]:
        """Manifest of a table meta or a history entry, tolerating the
        pre-manifest format (one version dir) for old catalogs."""
        segs = meta_or_entry.get("segments")
        if segs is not None:
            return list(segs)
        v = meta_or_entry.get("version")
        return [v] if v else []

    def _segment_paths(self, name: str, meta: dict | None = None) -> list[str]:
        base = os.path.join(self.warehouse, name)
        meta = meta if meta is not None else self._meta(name)
        return [os.path.join(base, s) for s in self._segments_of(meta)]

    def _read_table(self, name: str) -> DataFrame:
        """Current contents of a managed table: the union of its
        manifest's segments (one multi-path parquet scan). The DECLARED
        schema drives the read when the table has one — segments
        written before a metadata-only ADD COLUMN lack the new field
        and surface it as NULL (or the column's recorded BACKFILL
        value when the ADD carried a DEFAULT); segments still
        physically carrying a dropped column simply never materialize
        it (projection pushdown)."""
        meta = self._meta(name)
        return self._read_files(name, self._segment_paths(name, meta))

    def _read_files(
        self,
        name: str,
        paths: list[str],
        dvs: dict[str, dict] | None = None,
        positions: bool = False,
        dnf: list[dict] | None = None,
    ) -> DataFrame:
        """Read a subset of a managed table's files with the DECLARED
        schema — every rewrite path must use this, or files written
        before a metadata-only ADD COLUMN would lose the column (and
        files predating a DROP would resurrect it) when rewritten.

        Deletion vectors: the rows the DVs ``dvs`` (default: the
        current manifest's; time travel passes its version's) mark
        deleted are dropped by one filter on each FileScan
        (``_dv_filter``). ``positions`` adds each row's ``__file``
        (``_metadata.file_path``) and ``__pos`` (``_metadata.row_index``)
        — what a DV names a row by. ``dnf`` (a ``_zone_dnf``
        predicate the caller filters these rows by) leaves out the DVs
        none of whose deleted rows can satisfy it: dropping those rows
        would change nothing.

        ALTER ADD COLUMN ... DEFAULT backfill (Iceberg v3
        initial-default economics — metadata-only at ANY table size):
        the alter recorded the folded default and the segments that
        predate the column. Those segments read with the constant
        substituted in; everything else reads untouched. Grouping is
        by needed-fill set, so the common case (no backfill anywhere)
        stays the ONE multi-path scan with zero plan change, and a
        backfilled table costs one scan per distinct fill-set (≤
        alters+1), no shuffle. CoW rewrites read through here, so a
        rewritten file materializes the backfill and drops out of the
        fill set by construction."""
        meta = self._meta(name)
        dvs = self._dvs_of(meta) if dvs is None else dvs

        def scan(reader, ps: list[str]) -> DataFrame:
            df = self._scan(reader, name, ps, dvs, dnf)
            if positions:
                df = df.selectExpr(
                    "*", "_metadata.file_path AS __file",
                    "_metadata.row_index AS __pos",
                )
            return df

        if not meta.get("columns"):
            return scan(self.spark.read, paths)
        schema = self._schema(name)
        bf = [
            c for c in meta["columns"]
            if isinstance(c.get("backfill"), dict)
        ]
        if not bf:
            return scan(self.spark.read.schema(schema), paths)
        root = os.path.join(self.warehouse, name)

        def _segdir(p: str) -> str:
            return os.path.relpath(p, root).split(os.sep, 1)[0]

        groups: dict[frozenset, list[str]] = {}
        for p in paths:
            need = frozenset(
                c["name"] for c in bf
                if _segdir(p) in c["backfill"]["segments"]
            )
            groups.setdefault(need, []).append(p)
        parts = []
        for need, ps in groups.items():
            df = scan(self.spark.read.schema(schema), ps)
            for c in bf:
                if c["name"] in need:
                    df = df.withColumn(
                        c["name"],
                        F.expr(c["backfill"]["value_sql"]).cast(
                            _parse_type(c["type"])[0]
                        ),
                    )
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.select(
            *[f.name for f in schema.fields],
            *(["__file", "__pos"] if positions else []),
        )

    def _scan(
        self, reader, name: str, paths: list[str], dvs: dict[str, dict],
        dnf: list[dict] | None = None,
    ) -> DataFrame:
        """One parquet scan of ``paths`` without the rows ``dvs``
        delete."""
        df = reader.parquet(*paths)
        cut = self._dv_filter(name, paths, dvs, dnf)
        return df if cut is None else df.filter(cut)

    # ---------------------------------------------- deletion vectors --
    #
    # A manifest (the current one and every retained history entry)
    # may map a data file, by its path relative to the table dir, to a
    # DELETION VECTOR: ``{"dv": "_dv/<sidecar>.json", "n": <rows>}``.
    # The sidecar is an immutable JSON file, one per (file, commit),
    # holding the sorted parquet ``_metadata.row_index`` positions of
    # the file's deleted rows (Delta Lake deletion vectors, Iceberg v2
    # position deletes); the count rides in the manifest so row counts
    # need no sidecar read. Positions never go inline into the catalog
    # JSON, so a commit's metadata write stays independent of delete
    # volume. A sidecar is written before the catalog save that makes
    # it reachable (a crash in between leaves unreachable garbage) and
    # is pruned with the same reference counting as segment dirs.
    # Every read goes through ``_read_files``; small UPDATE, DELETE and
    # literal ON CONFLICT statements commit DVs (plus a driver-staged
    # segment of the changed rows) instead of rewriting the files they
    # hit, and copy-on-write folds a rewritten file's DV away.
    _DV_DIR = "_dv"
    # Most rows one statement may delete through DVs (their pre-images
    # come to the driver); a broader change takes copy-on-write. The
    # measured crossover on a 10k-row file (the smallest file whose
    # rewrite a DV saves; copy-on-write only gets dearer on larger
    # files): a DV UPDATE of 200 / 600 / 1000 rows took 0.23 / 0.34 /
    # 0.48 s against copy-on-write's flat ~0.5 s, a DV DELETE
    # 0.10-0.14 s against 0.33-0.42 s.
    _DV_CAP = 1024

    @staticmethod
    def _dvs_of(meta_or_entry: dict) -> dict[str, dict]:
        return meta_or_entry.get("dvs") or {}

    @staticmethod
    def _set_dvs(meta_or_entry: dict, dvs: dict[str, dict]) -> None:
        """Record a DV map; tables without DVs carry no key at all."""
        if dvs:
            meta_or_entry["dvs"] = dvs
        else:
            meta_or_entry.pop("dvs", None)

    def _dv_sidecar(self, name: str, dv: dict) -> dict:
        """One DV's sidecar: the sorted deleted-row positions
        (``rows``) and, when the statements that wrote it held the
        deleted rows, their ``zone`` (sidecars are immutable, so they
        are cached by path)."""
        path = os.path.join(self.warehouse, name, dv["dv"])
        side = self._dv_cache.get(path)
        if side is None:
            if len(self._dv_cache) >= 256:
                self._dv_cache.clear()
            with open(path) as f:
                side = self._dv_cache[path] = json.load(f)
        return side

    def _dv_positions(self, name: str, dv: dict) -> list[int]:
        return self._dv_sidecar(name, dv)["rows"]

    def _table_uri(self, name: str) -> str:
        """The table dir as Spark spells it in ``_metadata.file_path``:
        Hadoop's percent-encoded URI (a space or ``%`` in the warehouse
        path is escaped), asked of the JVM once per table."""
        uri = self._table_uris.get(name)
        if uri is None:
            path = self.spark._jvm.org.apache.hadoop.fs.Path(
                os.path.join(self.warehouse, name)
            )
            uri = self._table_uris[name] = "file:" + path.toUri().toString()
        return uri

    def _dv_filter(
        self, name: str, paths: list[str], dvs: dict[str, dict],
        dnf: list[dict] | None = None,
    ) -> str | None:
        """The filter dropping the DV'd rows of the files under
        ``paths`` (manifest entries: segment dirs or files), or None
        when none of them carries a DV that matters: with ``dnf``, a
        DV whose deleted rows' zone misses the predicate is left
        out."""
        if not dvs:
            return None
        root = os.path.join(self.warehouse, name)
        listed = set(paths)
        stats = self._stats_of(name)
        rows = [
            (stats.get(os.path.relpath(p, root)) or {}).get("__rows")
            for p in paths
        ]
        interpret = None not in rows and sum(rows) <= self._DV_INTERPRET_ROWS
        parts = []
        for rel, dv in sorted(dvs.items()):
            if (
                os.path.join(root, rel) in listed
                or os.path.join(root, rel.split("/", 1)[0]) in listed
            ):
                zone = self._dv_sidecar(name, dv).get("zone")
                if dnf and zone and self._zone_disjoint(zone, dnf):
                    continue
                uri = _sql_lit(f"{self._table_uri(name)}/{rel}")
                parts.append(
                    f"(_metadata.file_path = {uri} AND"
                    f" {self._dv_member(name, dv, interpret)})"
                )
        return f"NOT ({' OR '.join(parts)})" if parts else None

    # rows per bucket of a DV's membership test (see _dv_member)
    _DV_BUCKET = 256
    # Largest scan (rows, by the zone stats) whose DV test is
    # interpreted (see _dv_member): compiling the fused test costs
    # ~25 ms per query, interpreting it ~0.1 µs more per scanned row.
    _DV_INTERPRET_ROWS = 200_000

    def _dv_member(self, name: str, dv: dict, interpret: bool) -> str:
        """SQL testing whether ``_metadata.row_index`` is one of the
        DV's positions, at a plan cost independent of their number:
        the positions, bucketed by ``row_index DIV _DV_BUCKET``, are
        ONE JSON string literal that constant folding parses once per
        query, and a row scans only its own bucket. (An ``IN`` list of
        literals costs analysis and optimization per position: ~25 ms
        per read at 300 positions, against ~7 ms for this form.)

        ``interpret`` spells the bucket scan as ``exists`` with a
        lambda, which Spark does not compile: the filter then leaves
        the scan's whole-stage-compiled code, which no longer holds the
        query's own literals and is reused from Spark's code cache
        across reads. Otherwise every read with a new literal compiles
        the DV test again (~25 ms on a 10k-row table) — cheaper than
        interpreting it only on large scans."""
        b = self._DV_BUCKET
        rows = self._dv_positions(name, dv)
        buckets: list[list[int]] = [[] for _ in range(rows[-1] // b + 1)]
        for r in rows:
            buckets[r // b].append(r)
        js = json.dumps(buckets, separators=(",", ":"))
        bucket = (
            f"try_element_at(from_json('{js}', 'array<array<bigint>>'),"
            f" CAST(_metadata.row_index DIV {b} AS INT) + 1)"
        )
        test = (
            f"exists({bucket}, x -> x = _metadata.row_index)" if interpret
            else f"array_contains({bucket}, _metadata.row_index)"
        )
        return f"coalesce({test}, false)"

    def _dv_deleted(self, name: str, files: list[str]) -> int:
        """Rows the current DVs delete from ``files`` (absolute paths)."""
        root = os.path.join(self.warehouse, name)
        dvs = self._dvs_of(self._meta(name))
        return sum(
            dvs.get(os.path.relpath(f, root), {}).get("n", 0) for f in files
        )

    def _dv_matches(self, name: str, condition, cond: str) -> DataFrame | None:
        """The rows ``condition`` (the compiled WHERE text ``cond``)
        matches, with their ``__file`` and ``__pos``: one scan of the
        manifest entries zone maps cannot rule out, reading through
        the DVs whose deleted rows could match (``_zone_dnf(cond)``).
        None when zone maps rule out every entry. UPDATE and DELETE
        collect it (``_dv_collect``) and, past the cap, group it by
        file (``_cow_of_hits``)."""
        scan = self._zone_scan_entries(name, cond)
        if not scan:
            return None
        root = os.path.join(self.warehouse, name)
        return self._read_files(
            name, [os.path.join(root, e) for e in scan],
            positions=True, dnf=_zone_dnf(cond),
        ).filter(condition)

    def _dv_collect(self, name: str, matched: DataFrame | None) -> list:
        """ONE collect of ``matched`` (``_dv_matches``): ``__file``,
        ``__pos`` and every declared column (the pre-image, whose zone
        the DV keeps). At most ``_DV_CAP + 1`` rows come back — one
        more than the cap tells the caller to take copy-on-write."""
        if matched is None:
            return []
        cols = ["__file", "__pos"] + [
            f.name for f in self._schema(name).fields
        ]
        return matched.select(*cols).limit(self._DV_CAP + 1).collect()

    def _broad_change(self, name: str, n_files: int) -> bool:
        """Whether a change hitting ``n_files`` data files touches
        nearly every file of the table (>= 80 %). File-granular
        bookkeeping then buys nothing: the rewrite is table-sized
        either way, and a manifest of individual surviving files would
        only bloat the catalog — so the change takes no deletion
        vectors and rewrites the whole table."""
        return n_files >= 0.8 * len(self._data_files(name))

    def _dv_hits(
        self, name: str, found: list[tuple[str, int]]
    ) -> dict[str, list[int]] | None:
        """Deleted positions per hit file (path relative to the table
        dir) for the matched rows ``found`` as (``_metadata.file_path``,
        row index) pairs, or None when the change takes copy-on-write:
        more than ``_DV_CAP`` rows, a broad change
        (``_broad_change``), or a file whose DV would delete more than
        half its rows (rewriting it folds the DV away)."""
        if len(found) > self._DV_CAP:
            return None
        root = os.path.join(self.warehouse, name)
        hits: dict[str, list[int]] = {}
        for uri, pos in found:
            rel = os.path.relpath(self._uri_path(uri), root)
            hits.setdefault(rel, []).append(pos)
        if self._broad_change(name, len(hits)):
            return None
        dvs = self._dvs_of(self._meta(name))
        for rel, pos in hits.items():
            gone = dvs.get(rel, {}).get("n", 0) + len(pos)
            if 2 * gone > _parquet_rows(os.path.join(root, rel)):
                return None
        return hits

    def _cow_of_hits(
        self, name: str, found: list[tuple[str, int]], matched: DataFrame,
    ) -> tuple[int, list[str], list[str]]:
        """Copy-on-write split for a change ``_dv_hits`` refused: the
        collected matches ``found`` name the hit files, unless the
        collect hit its cap — then the frame it collected, ``matched``,
        is grouped by file in full (``_split_by_matches``)."""
        if len(found) > self._DV_CAP:
            return self._split_by_matches(name, matched)
        hit = {self._uri_path(uri) for uri, _ in found}
        keep, affected = self._split_hit_files(name, hit, len(found))
        return len(found), keep, affected

    def _stage_dvs(
        self, name: str, hits: dict[str, list[int]], gone: list,
        table=None,
    ) -> None:
        """Stage a DV commit (same ``_staged`` contract as
        ``_stage_version``; commit via ``_commit_staged``): ``hits``
        merged into the current DVs (``gone``: the deleted rows as
        (``_metadata.file_path``, declared-column values), whose
        zone each hit file's DV keeps), and with ``table`` (a pyarrow
        table of the changed rows) one ``_stage_arrow`` segment that
        also takes in earlier DV commits' small segments
        (``_fold_dv_segments``). No file of the table's bulk data is
        rewritten."""
        meta = self._meta(name)
        base = self._segments_of(meta)
        fold: list[str] = []
        if table is not None:
            fold, table = self._fold_dv_segments(name, base, hits, table)
        root = os.path.join(self.warehouse, name)
        rows: dict[str, list[tuple]] = {}
        for uri, values in gone:
            rel = os.path.relpath(self._uri_path(uri), root)
            rows.setdefault(rel, []).append(tuple(values))
        dvs = self._write_dvs(
            name,
            {
                rel: pos for rel, pos in hits.items()
                if rel.split("/", 1)[0] not in fold
            },
            rows,
        )
        if table is not None:
            self._stage_arrow(
                name, table, base=[e for e in base if e not in fold]
            )
            meta["_staged"]["stats"]["__dv"] = 1
        else:
            meta["_staged"] = {"version": None, "segments": base}
        meta["_staged"]["dvs"] = dvs

    def _fold_dv_segments(self, name: str, base: list[str], hits, table):
        """Earlier DV commits' segments (zone stats marked ``__dv``)
        that fit, with ``table``, in ``_EXACT_ZONE_ROWS`` rows: their
        live rows (less their DVs and this commit's ``hits``) join the
        new segment and they leave the manifest, so point UPDATEs and
        upserts add no file per statement, and the new segment keeps
        an exact zone that point reads skip. Returns (folded entries,
        the combined table). A DV commit already changes the table's
        file lineage, and older versions keep the folded files; a
        segment whose footer schema differs from today's (an ALTER
        since) stays."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        stats = self._stats_of(name)
        dvs = self._dvs_of(self._meta(name))
        root = os.path.join(self.warehouse, name)
        fold, parts, total = [], [table], table.num_rows
        for entry in base:
            st = stats.get(entry) or {}
            if "/" in entry or not st.get("__dv"):
                continue
            if total + st["__rows"] > _EXACT_ZONE_ROWS:
                continue
            files = sorted(
                f for f in os.listdir(os.path.join(root, entry))
                if f.endswith(".parquet")
            )
            got = []
            for f in files:
                # the single-file reader: pq.read_table's dataset layer
                # costs the driver ~5 MB of resident memory on first use
                t = pq.ParquetFile(os.path.join(root, entry, f)).read(
                    use_threads=False
                )
                if not t.schema.equals(table.schema):
                    break
                rel = f"{entry}/{f}"
                gone = set(hits.get(rel, ()))
                if rel in dvs:
                    gone |= set(self._dv_positions(name, dvs[rel]))
                got.append(self._take(
                    t, [i for i in range(t.num_rows) if i not in gone]
                ))
            else:
                fold.append(entry)
                parts += got
                total += st["__rows"]
        return fold, pa.concat_tables(parts)

    def _write_dvs(
        self, name: str, hits: dict[str, list[int]],
        gone: dict[str, list[tuple]] | None = None,
    ) -> dict[str, dict]:
        """Write one sidecar per hit file holding its current DV's
        positions plus ``hits``' (nothing references them until a
        catalog save commits the returned map: the current DVs with
        the hit files' replaced). With ``gone`` (each hit file's
        deleted rows, declared-column values) the sidecar also keeps
        the zone of every row its DV deletes (``_dv_filter`` leaves a
        DV out of scans whose predicate misses it)."""
        dvs = dict(self._dvs_of(self._meta(name)))
        if not hits:
            return dvs
        token = uuid.uuid4().hex[:12]
        os.makedirs(
            os.path.join(self.warehouse, name, self._DV_DIR), exist_ok=True
        )
        schema = self._schema(name)
        for rel, pos in hits.items():
            old = dvs.get(rel)
            rows = sorted(
                set(pos) | set(self._dv_positions(name, old) if old else ())
            )
            side = {"file": rel, "rows": rows}
            zone = (
                _rows_zone(schema, gone[rel])
                if gone and rel in gone else None
            )
            if zone and old:
                before = self._dv_sidecar(name, old).get("zone")
                zone = _merge_zones(zone, before) if before else None
            if zone:
                side["zone"] = zone
            path = f"{self._DV_DIR}/{rel.replace('/', '.')}.{token}.json"
            with open(os.path.join(self.warehouse, name, path), "w") as f:
                json.dump(side, f)
            dvs[rel] = {"dv": path, "n": len(rows)}
        return dvs

    def _arrow_rows(self, schema: T.StructType, rows: list, skip: int = 0):
        """Collected Spark rows (the declared columns from index
        ``skip`` on) as a pyarrow table of ``schema``."""
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        return pa.Table.from_pydict(
            {
                f_.name: [r[skip + i] for r in rows]
                for i, f_ in enumerate(schema.fields)
            },
            schema=to_arrow_schema(schema),
        )

    # column types whose values round-trip exactly through a collect,
    # ``_sql_lit`` and pyarrow: the pre-images a DV UPDATE or upsert
    # re-stages on the driver (anything else takes copy-on-write)
    _DV_ROW_TYPES = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
        T.DoubleType, T.DecimalType, T.StringType, T.BooleanType,
        T.DateType,
    )

    def _driver_rows_ok(self, schema: T.StructType) -> bool:
        return all(
            isinstance(f_.dataType, self._DV_ROW_TYPES)
            for f_ in schema.fields
        )

    def _lineage(self, name: str) -> list[str]:
        """The table's current files relative to the warehouse, each
        with its DV sidecar when it carries one (``<file>#<sidecar>``):
        the file identities an incremental matview refresh compares. A
        DV commit keeps the file set, so without the DV in the identity
        a DELETE would read as pure insertion."""
        root = os.path.join(self.warehouse, name)
        dvs = self._dvs_of(self._meta(name))
        out = []
        for f in self._data_files(name):
            dv = dvs.get(os.path.relpath(f, root))
            rel = os.path.relpath(f, self.warehouse)
            out.append(f"{rel}#{dv['dv']}" if dv else rel)
        return out

    def _data_files(self, name: str) -> list[str]:
        """Concrete parquet files of the current manifest (manifest
        entries expanded: a dir entry contributes its part files, a
        file entry contributes itself). A listing, not a scan — the
        same driver-side metadata op a lakehouse manifest read is."""
        files: list[str] = []
        for path in self._segment_paths(name):
            if os.path.isdir(path):
                files += sorted(
                    os.path.join(path, f)
                    for f in os.listdir(path)
                    if f.endswith(".parquet")
                )
            elif os.path.isfile(path):
                files.append(path)
        return files

    def _view(self, name: str) -> DataFrame:
        df = self._read_table(name)
        df.createOrReplaceTempView(name)
        return df

    def _scoped_view(self, df: DataFrame, prefix: str) -> str:
        """Bind ``df`` under a fresh ``<prefix><hex>`` temp view owned
        by the running statement (dropped when execute() returns) and
        return its name."""
        name = f"{prefix}{uuid.uuid4().hex[:8]}"
        df.createOrReplaceTempView(name)
        self._stmt_views.append(name)
        return name

    def _release_views(self, mark: int) -> None:
        """End of a statement scope: drop the helper views bound since
        ``mark`` (a nested scope drops only its own suffix)."""
        for v in self._stmt_views[mark:]:
            self.spark.catalog.dropTempView(v)
        del self._stmt_views[mark:]

    # ------------------------------------------- logical views --
    def _view_dep_order(self, roots: list[str]) -> list[str]:
        """Topological closure of the catalog views reachable from
        ``roots`` (dependencies first), by the relation names of each
        defining SQL (``_relation_names``). Cycles — possible only via
        CREATE OR REPLACE VIEW re-pointing an existing name — are a
        named refusal here, at
        bind/create time, never a recursion blowup at plan time."""
        vws = self.catalog["views"]
        order: list[str] = []
        done: set[str] = set()

        def visit(n: str, stack: frozenset) -> None:
            if n in done:
                return
            if n in stack:
                raise EngineError(
                    f"circular view dependency involving {n}"
                )
            body_sql = vws[n]["sql"]
            if self.catalog.get("macros") or self.catalog.get(
                "table_macros"
            ):
                # a view reference hidden inside a MACRO body must
                # still count as a dependency — scan the expanded
                # text (arg errors surface at the view's own plan,
                # not here)
                try:
                    body_sql = self._expand_macros(body_sql)
                except EngineError:
                    pass
            rels = _relation_names(blank_literals(body_sql))
            # d == n (a body naming its own view) is NOT flagged here:
            # ``_bind_view`` drops the old binding before re-planning,
            # so a genuine 1-cycle fails to plan with the named error
            # instead of silently layering the stale previous plan.
            for d in vws:
                if d != n and d.lower() in rels:
                    visit(d, stack | {n})
            done.add(n)
            order.append(n)

        for r in roots:
            visit(r, frozenset())
        return order

    def _bind_view(self, name: str) -> DataFrame:
        """(Re)bind one logical view: plan its defining SQL through
        the FULL engine pipeline (so engine-only SQL works in view
        bodies) over the base tables' CURRENT temp views, and register
        the analyzed plan under the view's name. The pipeline's helper
        views drop at statement end — the analyzed plan embeds their
        logical plans, so the binding outlives them."""
        # drop the PREVIOUS binding first: a body referencing its own
        # name (a self-cycle via CREATE OR REPLACE) must fail to plan
        # loudly, never resolve against the stale previous plan
        if name in self._bound_views:
            self.spark.catalog.dropTempView(name)
            self._bound_views.discard(name)
        try:
            df = self._plan_engine_select(
                self._normalize_stored_sql(self.catalog["views"][name]["sql"])
            )
        except EngineError:
            raise
        except Exception as e:
            raise EngineError(
                f"view {name} failed to plan — a base table, view, or"
                f" column it references may have changed: {e}"
            ) from e
        aliases = self.catalog["views"][name].get("aliases")
        if aliases:
            # CREATE VIEW v (x, y) AS ... column aliases (DuckDB
            # semantics, probed: a PARTIAL list renames a prefix,
            # the rest keep their own names; duplicate aliases
            # dedup with _N suffixes — collision-aware against
            # the whole final set (review r11 #6); more aliases
            # than columns errors)
            cur = df.columns
            if len(aliases) > len(cur):
                raise EngineError(
                    f"view {name}: more VIEW aliases than columns"
                    " in the defining query's result"
                )
            renamed = list(aliases) + cur[len(aliases):]
            used: set[str] = set()
            out = []
            for c in renamed:
                cand, i = c, 0
                while cand in used:
                    i += 1
                    cand = f"{c}_{i}"
                used.add(cand)
                out.append(cand)
            df = df.toDF(*out)
        df.createOrReplaceTempView(name)
        self._bound_views.add(name)
        return df

    def _bind_referenced_views(
        self, stmt: str, tolerant: bool = False
    ) -> None:
        """Resolve logical views LAZILY: any statement naming a
        catalog view as a RELATION (``_relation_names``: FROM/JOIN
        lists, UPDATE/INTO/USING targets, DESCRIBE and the like, view
        DDL) (re)binds it and its transitive view dependencies,
        dependencies first — a view therefore always reflects its
        base tables' state as of the statement that reads it (DuckDB
        late-binding semantics). Binding runs the pre-passes the
        view's plan needs (LIMIT p%, POSITIONAL JOIN and nextval over
        FROM count rows, nextval reserves a block), so a column or
        alias merely spelled like a view must not bind it.
        Stale session bindings of views a ROLLBACK/RESTORE removed
        from the catalog are swept first, so they can never serve."""
        vws = self.catalog.get("views", {})
        for name in list(self._bound_views):
            if name not in vws:
                # a table may have taken the name since (DROP VIEW +
                # CREATE TABLE): its binding is not ours to drop
                if name not in self.catalog["tables"]:
                    self.spark.catalog.dropTempView(name)
                self._bound_views.discard(name)
        if not vws:
            return
        rels = _relation_names(blank_literals(stmt))
        roots = [n for n in vws if n.lower() in rels]
        if not roots:
            return
        try:
            order = self._view_dep_order(roots)
        except EngineError:
            if not tolerant:
                raise
            return
        for n in order:
            try:
                self._bind_view(n)
            except EngineError:
                if not tolerant:
                    raise
                # view DDL: a broken view (base table dropped) must
                # stay droppable / replaceable — the DDL's own
                # validation raises where it matters

    def _meta(self, name: str) -> dict:
        try:
            return self.catalog["tables"][name]
        except KeyError:
            if name in self.catalog.get("views", {}):
                raise EngineError(
                    f"{name} is a view, not a managed table — views"
                    " cannot be DML/DDL targets"
                ) from None
            raise EngineError(f"table {name} does not exist") from None

    def _writable_meta(self, name: str) -> dict:
        meta = self._meta(name)
        if meta.get("matview_sql"):
            raise EngineError(
                f"{name} is a materialized view; use REFRESH MATERIALIZED VIEW"
            )
        return meta

    def _stats_of(self, name: str) -> dict:
        """Mutable zone-map stats for one table, from the lazy sidecar
        cache. Callers that MUTATE the dict must add ``name`` to
        ``self._stats_dirty`` so the next ``_save_catalog`` flushes it."""
        if name not in self._seg_stats:
            p = os.path.join(self.warehouse, name, "_stats.json")
            self._seg_stats[name] = (
                json.load(open(p)) if os.path.exists(p) else {}
            )
        return self._seg_stats[name]

    def _save_catalog(self) -> None:
        # Dirty stats sidecars flush BEFORE the catalog commit point:
        # sidecar entries are advisory (pruning only) and keyed by
        # immutable segment dirs, so an orphaned flush is harmless,
        # while the reverse order could commit a manifest whose new
        # segment briefly lacks its zone maps.
        for tname in self._stats_dirty:
            tdir = os.path.join(self.warehouse, tname)
            if not os.path.isdir(tdir):  # dropped table: nothing to flush
                continue
            tmp = os.path.join(tdir, "_stats.json.tmp")
            with open(tmp, "w") as f:
                json.dump(self._seg_stats.get(tname, {}), f)
            os.replace(tmp, os.path.join(tdir, "_stats.json"))
        self._stats_dirty.clear()
        # Per-table meta shards, then the pointer root as the single
        # atomic commit point (Iceberg/Delta economics: immutable
        # metadata files + one tiny root swap). Shard files are
        # content-addressed — identical meta hashes to the pointer
        # already on record, so unchanged tables cost zero I/O and a
        # crash-orphaned shard (written, root never swapped) is inert:
        # nothing references it until a LATER save commits the same
        # content, which rewrites the same bytes first. Serialization
        # CPU stays O(catalog) for the hashes (what the old monolithic
        # dump also paid); the WRITE is O(changed tables) where it
        # used to be O(everything).
        tables_root: dict[str, dict] = {}
        stale: list[str] = []
        for tname, meta in self.catalog["tables"].items():
            if meta.get("temp") or tname == getattr(
                self, "_pending_temp", None
            ):
                continue  # session-scoped: never persisted
            blob = json.dumps(meta, sort_keys=True)
            digest = hashlib.sha1(blob.encode()).hexdigest()[:16]
            rel = f"{tname}/_meta.{digest}.json"
            if self._meta_ptrs.get(tname) != rel:
                tdir = os.path.join(self.warehouse, tname)
                os.makedirs(tdir, exist_ok=True)
                tmp = os.path.join(tdir, f"_meta.{digest}.json.tmp")
                with open(tmp, "w") as f:
                    f.write(blob)
                os.replace(tmp, os.path.join(self.warehouse, rel))
                old = self._meta_ptrs.get(tname)
                if old:
                    stale.append(old)
                self._meta_ptrs[tname] = rel
            tables_root[tname] = {"meta_file": rel}
        for gone in set(self._meta_ptrs) - set(self.catalog["tables"]):
            self._meta_ptrs.pop(gone)  # dropped: dir removal took the shard
        root = dict(self.catalog)
        root["tables"] = tables_root
        tmp = self._catalog_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(root, f, indent=1)
        os.replace(tmp, self._catalog_path)
        # Superseded shards are unreferenced once the root swapped;
        # best-effort removal (a missed one is swept by VACUUM).
        for rel in stale:
            try:
                os.remove(os.path.join(self.warehouse, rel))
            except OSError:
                pass
        # System views refresh LAZILY: rebuilding three temp-view
        # DataFrames on every commit costs more than most DML
        # statements; execute() refreshes them just-in-time when a
        # statement actually references an andb_* relation.
        self._sysviews_dirty = True

    # System catalog relations, SQL-selectable like any table. The
    # reference exposes its catalog the same way via SystemTableScan
    # (andb/executor/operator/physical/select.py:407-417) over andb_class
    # / andb_attribute / andb_index (andb/catalog/class_.py:17-32,
    # attribute.py:6-27); here the catalog is driver-held JSON metadata
    # (KBs, not data), so temp views over tiny local DataFrames are the
    # right physical form — no scan, no shuffle, broadcastable into any
    # metadata join at every scale.
    def _refresh_system_views(self) -> None:
        self._sysviews_dirty = False
        tables_rows = [
            (
                name,
                len(meta.get("columns", [])),
                meta.get("vnum", 1),
                bool(meta.get("matview_sql")),
                meta.get("comment"),
            )
            for name, meta in sorted(self.catalog["tables"].items())
        ]
        tables_schema = T.StructType(
            [
                T.StructField("table_name", T.StringType(), False),
                T.StructField("column_count", T.IntegerType(), False),
                T.StructField("version", T.IntegerType(), False),
                T.StructField("is_matview", T.BooleanType(), False),
                T.StructField("comment", T.StringType(), True),
            ]
        )
        _local_df(
            self.spark, tables_rows, tables_schema
        ).createOrReplaceTempView("andb_tables")

        cols_rows = [
            (name, c["name"], i + 1, c["type"], bool(c.get("notnull")),
             c.get("comment"))
            for name, meta in sorted(self.catalog["tables"].items())
            for i, c in enumerate(meta.get("columns", []))
        ]
        cols_schema = T.StructType(
            [
                T.StructField("table_name", T.StringType(), False),
                T.StructField("column_name", T.StringType(), False),
                T.StructField("ordinal", T.IntegerType(), False),
                T.StructField("type_name", T.StringType(), False),
                T.StructField("notnull", T.BooleanType(), False),
                T.StructField("comment", T.StringType(), True),
            ]
        )
        _local_df(
            self.spark, cols_rows, cols_schema
        ).createOrReplaceTempView("andb_columns")

        # The manifest as a relation — the lakehouse "files metadata
        # table" (Delta DESCRIBE DETAIL / Iceberg .files analog): one
        # row per live manifest entry with its live row count, the
        # rows its deletion vectors delete, and its zone maps. SQL
        # over it answers "which segments would a predicate touch"
        # without running the query.
        seg_rows = []
        for name, meta in sorted(self.catalog["tables"].items()):
            seg_stats = self._stats_of(name)
            dvs = self._dvs_of(meta)
            for pos, entry in enumerate(self._segments_of(meta)):
                st = seg_stats.get(entry.split("/", 1)[0], {})
                deleted = sum(
                    dv["n"] for rel, dv in dvs.items()
                    if rel == entry or rel.split("/", 1)[0] == entry
                )
                seg_rows.append(
                    (
                        name,
                        pos,
                        entry,
                        # live rows; a file entry is a CoW survivor:
                        # its parent segment's bounds still bound it
                        # (subset), but the row count does not transfer
                        int(st["__rows"]) - deleted
                        if "__rows" in st and "/" not in entry
                        else None,
                        deleted,
                        json.dumps(
                            {
                                k: v
                                for k, v in st.items()
                                if not k.startswith("__")
                            },
                            sort_keys=True,
                        ),
                    )
                )
        seg_schema = T.StructType(
            [
                T.StructField("table_name", T.StringType(), False),
                T.StructField("position", T.IntegerType(), False),
                T.StructField("entry", T.StringType(), False),
                T.StructField("n_rows", T.LongType(), True),
                T.StructField("deleted_rows", T.LongType(), False),
                T.StructField("zone_maps", T.StringType(), False),
            ]
        )
        _local_df(
            self.spark, seg_rows, seg_schema
        ).createOrReplaceTempView("andb_segments")

        idx_rows = [
            (idx, meta["table"], ",".join(meta["columns"]), meta["method"])
            for idx, meta in sorted(self.catalog["indexes"].items())
        ]
        idx_schema = T.StructType(
            [
                T.StructField("index_name", T.StringType(), False),
                T.StructField("table_name", T.StringType(), False),
                T.StructField("columns", T.StringType(), False),
                T.StructField("method", T.StringType(), False),
            ]
        )
        _local_df(
            self.spark, idx_rows, idx_schema
        ).createOrReplaceTempView("andb_indexes")

        view_rows = [
            (
                name,
                meta["sql"],
                len(meta.get("columns", [])),
                meta.get("comment"),
            )
            for name, meta in sorted(
                self.catalog.get("views", {}).items()
            )
        ]
        view_schema = T.StructType(
            [
                T.StructField("view_name", T.StringType(), False),
                T.StructField("sql", T.StringType(), False),
                T.StructField("column_count", T.IntegerType(), False),
                T.StructField("comment", T.StringType(), True),
            ]
        )
        _local_df(
            self.spark, view_rows, view_schema
        ).createOrReplaceTempView("andb_views")
        macro_rows = [
            (
                meta.get("name", key),
                kind,
                ", ".join(
                    p + (f" := {d}" if d is not None else "")
                    for p, d in meta["params"]
                ),
                meta["body"],
            )
            for kind, reg in (
                ("scalar", self.catalog.get("macros") or {}),
                ("table", self.catalog.get("table_macros") or {}),
            )
            for key, meta in sorted(reg.items())
        ]
        macro_schema = T.StructType(
            [
                T.StructField("macro_name", T.StringType(), False),
                T.StructField("kind", T.StringType(), False),
                T.StructField("params", T.StringType(), False),
                T.StructField("body", T.StringType(), False),
            ]
        )
        _local_df(
            self.spark, macro_rows, macro_schema
        ).createOrReplaceTempView("andb_macros")

    # How many superseded versions stay readable via VERSION AS OF
    # before the write path prunes them (VACUUM prunes all).
    RETAIN_VERSIONS = 5

    # Staged-write output sizing (guide §6): writes whose OPTIMIZER
    # OUTPUT ESTIMATE is at most _STAGE_SIZING_MAX_BYTES are
    # repartitioned to ~one file per _STAGE_TARGET_FILE_BYTES before
    # landing; bigger or unestimable writes (LogicalRDD sources
    # report the conf default, effectively infinite) are left to AQE
    # so a wrong estimate can never serialize a genuinely large
    # write. Both knobs are session vars
    # (``andb.stage_sizing_max_bytes`` = 0 disables sizing,
    # ``andb.stage_target_file_bytes``) so deployments can match
    # their object-store file-size sweet spot.
    _STAGE_TARGET_FILE_BYTES = 32 * 1024 * 1024
    _STAGE_SIZING_MAX_BYTES = 256 * 1024 * 1024

    def _overwrite(self, name: str, df: DataFrame) -> int:
        """Versioned full rewrite: the new table state lands in a fresh
        segment dir and the manifest becomes [that segment]. Readers see
        the old or the new version, never a mix (plain-parquet ACID
        without Delta). Inside a transaction the superseded segments are
        retained for rollback; otherwise the old manifest joins the
        table's version HISTORY, kept readable for time travel
        (`VERSION AS OF`) up to RETAIN_VERSIONS back — immutable,
        shared segments make time travel free, the same economics as
        Delta/Iceberg snapshots."""
        n = self._stage_version(name, df)
        self._commit_staged(name)
        # Continuous-aggregate mode tracks EVERY base mutation, not
        # just appends (TRUNCATE / INSERT OVERWRITE / full-rewrite DML
        # land here): the rewrite broke file lineage, so the refresh
        # takes the always-sound full path.
        self._maybe_auto_refresh(name)
        return n

    def _append(self, name: str, df: DataFrame) -> int:
        """Versioned APPEND: write only ``df`` as a new segment and
        commit manifest = old + [new]. O(batch) I/O regardless of table
        size — every pre-existing file is re-referenced, not rewritten.
        Same atomicity as ``_overwrite`` (one catalog save). The row
        count comes free from the parquet footers."""
        n = self._stage_version(name, df, base="current")
        self._commit_staged(name)
        # order matters: refresh dependent matviews BEFORE compaction —
        # compaction rewrites small files, which breaks the file-lineage
        # continuity the incremental refresh needs
        self._maybe_auto_refresh(name)
        self._maybe_auto_compact(name)
        return n

    def _commit_staged(
        self, name: str, extra_meta: dict[str, dict] | None = None
    ) -> None:
        """Advance the manifest to the staged segment and commit (one
        catalog save, with any extra metadata keys — e.g. a streaming
        high-water mark — in the SAME save); prune newly-unreferenced
        dirs strictly after."""
        prune = self._advance_pointer(name)
        for t, kv in (extra_meta or {}).items():
            self._meta(t).update(kv)
        self._save_catalog()
        # only after the commit point — see _advance_pointer
        self._drop_paths(prune)
        self._view(name)

    @staticmethod
    def _plan_is_sorted(df: DataFrame) -> bool:
        """True when the optimized plan's top (under column-pruning
        Projects) is a global Sort — the caller asked for a row order
        the staged-write sizing repartition must not destroy."""
        try:
            p = df._jdf.queryExecution().optimizedPlan()
            name = p.getClass().getSimpleName()
            while name == "Project":
                p = p.children().apply(0)
                name = p.getClass().getSimpleName()
            return name == "Sort" and bool(getattr(p, "global")())
        except Exception:
            return False

    def _stage_version(
        self,
        name: str,
        df: DataFrame,
        base: list[str] | str | None = None,
        changed: set[str] | None = None,
    ) -> int:
        """Phase 1 of a versioned write: land ``df`` in a fresh segment
        dir on disk and record the staged manifest. Nothing references
        the dir yet — a crash here leaves only unreachable garbage
        (VACUUM-able), never a partial table.

        ``base`` is the manifest prefix the new segment extends:
        None → [] (full rewrite), "current" → the live manifest
        (append), or an explicit entry list (copy-on-write DML keeps
        the untouched files).

        ``changed`` names the columns whose values the statement may
        have changed in rows that already existed (None = every
        column — new rows, or a rewrite of unknown shape): DELETE and
        compaction pass an empty set, UPDATE its SET targets. The
        PK/UNIQUE/CHECK probes skip every constraint on unchanged
        columns. That is sound because a committed version always
        satisfies its constraints: they are declared only at CREATE
        TABLE (ALTER ... ADD COLUMN with a constraint is refused), and
        every later write is probed here. A future ALTER ... ADD
        CONSTRAINT must therefore validate the existing rows before
        it commits."""
        meta = self._meta(name)
        new_version = "v-" + uuid.uuid4().hex[:12]
        new_dir = os.path.join(self.warehouse, name, new_version)
        # Output sizing at the write choke point (guide §6): a small
        # change set arriving on many near-empty partitions (an
        # un-coalesced join/union tail — r15 probe: an INSERT OR
        # IGNORE batch landed as 32 files / 25 KiB total) would pay
        # 32 write tasks, 32 driver footer reads, and 32-file probe
        # scans on every later statement. When the optimizer's output
        # estimate is SMALL (≤ _STAGE_SIZING_MAX_BYTES), repartition
        # to ~one file per _STAGE_TARGET_FILE_BYTES — an extra
        # shuffle of ≤ that many bytes, upstream parallelism
        # untouched (a plain coalesce would narrow the whole final
        # stage). Large or unknown estimates are left to AQE: sizing
        # a big write from a possibly-wrong estimate could serialize
        # real data volume, the opposite trade.
        try:
            est = int(
                df._jdf.queryExecution().optimizedPlan().stats()
                .sizeInBytes()
            )
        except Exception:
            est = 0
        sizing_cap = int(
            self.session_vars.get(
                "andb.stage_sizing_max_bytes",
                self._STAGE_SIZING_MAX_BYTES,
            )
        )
        if 0 < est <= sizing_cap:
            per_file = int(
                self.session_vars.get(
                    "andb.stage_target_file_bytes",
                    self._STAGE_TARGET_FILE_BYTES,
                )
            )
            # No partition-count probe: df.rdd.getNumPartitions()
            # costs a full extra physical planning of the write's
            # plan (measured ~0.1-0.3 s per statement on CoW
            # rewrites) — more than the one bounded extra exchange
            # the unconditional repartition adds when the input was
            # already narrow.
            # per_file <= 0 = sizing disabled (ADVICE r15 #2: 0 must
            # mirror the max-bytes var's 0-disables, not divide by
            # zero); a plan whose top is a global Sort keeps its
            # order — the round-robin repartition would interleave an
            # INSERT ... ORDER BY's rows (ADVICE r15 #1). Staged
            # writes of UNSORTED plans still do not promise row
            # order (no SQL engine does without ORDER BY).
            if per_file > 0 and not self._plan_is_sorted(df):
                df = df.repartition(max(1, -(-est // per_file)))
        df.write.mode("overwrite").parquet(new_dir)
        # NOT NULL enforcement reads the STAGED footers (one source
        # execution total — see _check_staged_notnull); a violation
        # removes the dir and raises before anything references it
        self._check_staged_notnull(name, new_dir)
        if base == "current":
            base = self._segments_of(meta)
        # Harvest the segment's row count and per-column min/max ZONE
        # MAPS straight from the parquet FOOTERS the write just
        # produced — a driver-side metadata read (O(files), zero Spark
        # jobs, zero data I/O). The zone maps live in the manifest and
        # let later DML planning skip whole segments without opening
        # them (the Iceberg manifest-stats economics) — see
        # _zone_scan_entries — and bound the constraint probes' base
        # scan below. Harvest happens BEFORE marking the stage: if it
        # raises, no stray '_staged' key survives in the in-memory
        # catalog to be persisted by a later unrelated _save_catalog.
        count, stats = _footer_stats(new_dir)
        self._check_staged_constraints(
            name, new_dir, base, df.schema, count, stats, changed
        )
        stats["__rows"] = count  # zero-row segments prune unconditionally
        meta["_staged"] = {
            "version": new_version,
            "segments": list(base or []) + [new_version],
            "stats": stats,
        }
        return count

    # Literal tokens the driver-side INSERT fast path understands.
    _LIT_ROW_RE = re.compile(r"^\((.*)\)$", re.S)
    # a typed date literal in strict ISO form; every other spelling
    # ('1997-2-3', a bare string into a date column) is Spark's to cast
    _LIT_DATE_RE = re.compile(
        r"date\s*'([0-9]{4}-[0-9]{2}-[0-9]{2})'", re.I
    )

    @staticmethod
    def _parse_literal_rows(values_text: str) -> list[list[tuple]] | None:
        """Parse a VALUES tail into tagged literals, or None when any
        scalar is not a plain literal: expressions, arrays, typed
        literals other than a strict ISO ``date 'YYYY-MM-DD'``, and
        strings holding a backslash (Spark's parser unescapes it) all
        need Spark's evaluator."""
        rows: list[list[tuple]] = []
        for part in split_items(values_text):
            rm = AnalyticsEngine._LIT_ROW_RE.match(part.strip())
            if not rm:
                return None
            vals: list[tuple] = []
            for lit in split_items(rm.group(1)):
                lit = lit.strip()
                dm = AnalyticsEngine._LIT_DATE_RE.fullmatch(lit)
                if re.fullmatch(r"null", lit, re.I):
                    vals.append(("n", None))
                elif re.fullmatch(r"true", lit, re.I):
                    vals.append(("b", True))
                elif re.fullmatch(r"false", lit, re.I):
                    vals.append(("b", False))
                elif dm:
                    try:
                        day = datetime.date.fromisoformat(dm.group(1))
                    except ValueError:
                        return None  # '1997-02-30': Spark's error
                    vals.append(("d", day))
                elif re.fullmatch(r"'(?:[^']|'')*'", lit, re.S):
                    if "\\" in lit:
                        return None
                    vals.append(("s", lit[1:-1].replace("''", "'")))
                elif re.fullmatch(r"-?[0-9]+", lit):
                    vals.append(("i", int(lit)))
                elif re.fullmatch(r"-?[0-9]+\.[0-9]+", lit):
                    vals.append(("f", float(lit)))
                else:
                    return None
            rows.append(vals)
        return rows if rows else None

    # literal tag → the Spark types of the columns it converts to
    # EXACTLY (anything else — e.g. a string into an int column, a
    # float into an int — falls back to Spark so cast semantics stay
    # Spark's, bit for bit). Keyed by the column's Spark type, not its
    # declared spelling: the catalog keeps `integer`, `bool`, `char`
    # and `text` as written and stores a bare `varchar` as `string`,
    # and all of them read back as one of these types (varchar(n) is
    # a string the gate truncates). FloatType ('real'/'float') is
    # deliberately absent: the driver path would convert literal →
    # Python double → float32 (double rounding) while Spark casts the
    # decimal literal to float32 in one correctly-rounded step, so
    # boundary literals could differ by one ulp (ADVICE r4) — float32
    # targets always take the Spark path.
    _LIT_COMPAT = {
        "i": (T.IntegerType, T.LongType, T.DoubleType),
        "f": (T.DoubleType,),
        "s": (T.StringType,),
        "b": (T.BooleanType,),
        "d": (T.DateType,),
    }

    def _literal_table(
        self, name: str, schema: T.StructType, cols: list[str], vtext: str
    ):
        """The VALUES tail ``vtext`` for columns ``cols`` as a pyarrow
        table of the declared schema (omitted columns NULL), or None
        to fall back to the Spark path. Only builds the table when
        every literal's conversion to its column type is provably
        identical to Spark's cast — wrong-arity rows, range overflows,
        float32/timestamp/vector targets and non-literal scalars all
        fall back — and when no omitted column carries a DEFAULT (an
        arbitrary expression the Spark path fills)."""
        rows = self._parse_literal_rows(vtext)
        if rows is None or any(len(r) != len(cols) for r in rows):
            return None
        if len({c.lower() for c in cols}) != len(cols):
            # duplicated column list: by_col would silently interleave
            # both values into one column — defer to the Spark path,
            # which raises its ambiguous-column error
            return None
        meta = self._meta(name)
        if any(
            c.get("default") is not None and c["name"] not in cols
            for c in meta["columns"]
        ):
            return None
        widths = {}
        for c in meta["columns"]:
            vm = _VARCHAR_RE.match(c["type"].strip())
            if vm:
                widths[c["name"]] = int(vm.group(1))
        types = {f_.name: f_.dataType for f_ in schema.fields}
        by_col: dict[str, list] = {c: [] for c in cols}
        for r in rows:
            for c, (tag, v) in zip(cols, r):
                if tag != "n":  # NULL fits any type
                    dt = types[c]
                    if type(dt) not in self._LIT_COMPAT[tag]:
                        return None
                    if isinstance(dt, T.IntegerType) and not (
                        -(2**31) <= v < 2**31
                    ):
                        return None  # overflow: Spark's cast wraps
                    if c in widths:
                        v = v[: widths[c]]  # varchar(n) truncation
                by_col[c].append(v)
        from pyspark.sql.pandas.types import to_arrow_schema

        import pyarrow as pa

        n = len(rows)
        try:
            return pa.Table.from_pydict(
                {
                    f_.name: by_col.get(f_.name, [None] * n)
                    for f_ in schema.fields
                },
                schema=to_arrow_schema(schema),
            )
        except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError):
            return None  # any conversion doubt → Spark decides

    def _try_literal_append(
        self, name: str, schema: T.StructType, cols: list[str], vtext: str
    ) -> int | None:
        """Driver-side INSERT VALUES: returns the inserted row count,
        or None to fall back to the Spark path. ``_literal_table``
        types the batch, ``_decide_literal_constraints`` decides every
        constraint it can break (at most one Spark job: the pushed-
        down probe of the base files zone maps cannot rule out) and
        ``_stage_arrow`` writes it as one new segment."""
        table = self._literal_table(name, schema, cols, vtext)
        if table is None:
            return None
        base = self._segments_of(self._meta(name))
        self._decide_literal_constraints(
            name, table,
            lambda keysets, keys: next(
                (
                    i for i, held in enumerate(
                        self._key_holders(name, base, keysets, keys)[0]
                    )
                    if held
                ),
                None,
            ),
        )
        count = self._stage_arrow(name, table, base=base)
        self._commit_staged(name)
        self._maybe_auto_refresh(name)  # same ordering as _append
        self._maybe_auto_compact(name)
        return count

    def _stage_arrow(self, name: str, table, base: list[str] | None) -> int:
        """Stage a driver-side pyarrow table as one new segment — the
        pyarrow twin of ``_stage_version``'s phase 1, producing the
        SAME ``_staged`` contract (commit via ``_commit_staged``).
        Used where the payload is literal or empty and a Spark job
        submit would be pure constant overhead. It checks nothing:
        the caller has already decided every constraint the rows can
        break (``_decide_literal_constraints`` for literal batches;
        an empty segment breaks none)."""
        import pyarrow.parquet as pq

        meta = self._meta(name)
        new_version = "v-" + uuid.uuid4().hex[:12]
        new_dir = os.path.join(self.warehouse, name, new_version)
        os.makedirs(new_dir, exist_ok=True)
        pq.write_table(table, os.path.join(new_dir, "part-00000.parquet"))
        if table.num_rows:
            count, stats = _footer_stats(new_dir)  # zone maps, as always
            if 1 < count <= _EXACT_ZONE_ROWS:
                stats["__vals"] = _exact_vals(
                    {c: table.column(c).to_pylist()
                     for c in table.column_names},
                    stats,
                )
        else:
            # zero-row segments prune unconditionally — no footer read
            count, stats = 0, {}
        stats["__rows"] = count
        meta["_staged"] = {
            "version": new_version,
            "segments": list(base or []) + [new_version],
            "stats": stats,
        }
        return count

    def _stage_empty(self, name: str) -> int:
        """Stage an EMPTY segment without running a Spark job: CREATE
        TABLE / TRUNCATE / unfiltered DELETE only need a schema-bearing
        zero-row parquet file, which pyarrow writes driver-side in
        microseconds."""
        from pyspark.sql.pandas.types import to_arrow_schema

        return self._stage_arrow(
            name,
            to_arrow_schema(self._schema(name)).empty_table(),
            base=None,
        )

    @staticmethod
    def _top_dirs(entries: list[str]) -> set[str]:
        """Top-level segment dirs referenced by manifest entries (an
        entry is either a segment dir or a file inside one)."""
        return {e.split("/", 1)[0] for e in entries}

    def _advance_pointer(self, name: str) -> list[str]:
        """Phase 2: move the catalog manifest to the staged one
        (in memory — durable only at the next ``_save_catalog``, which
        is the commit point). Returns the no-longer-referenced segment
        dirs and DV sidecars to prune; the CALLER deletes them AFTER
        the catalog save (``_drop_paths``) — a destructive rmtree
        before the commit point would leave the durable (old) catalog
        referencing pruned dirs on crash, breaking VERSION AS OF and
        the all-or-nothing contract of ``_overwrite_all``. Segments and
        DVs are shared across versions, so pruning is reference-counted
        (``_push_history``).

        The staged DV map (a DV commit's) or else the current one is
        kept for the files the new manifest still references: a
        rewritten file's DV leaves with the file. A DV-only commit
        stages no segment (``version`` None) and keeps the version
        dir anchor."""
        meta = self._meta(name)
        old_version = meta.get("version")
        old_segments = self._segments_of(meta)
        old_dvs = self._dvs_of(meta)
        old_vnum = meta.get("vnum", 1)
        staged = meta.pop("_staged")
        live = set(staged["segments"])
        new_dvs = {
            rel: dv for rel, dv in staged.get("dvs", old_dvs).items()
            if rel in live or rel.split("/", 1)[0] in live
        }
        meta["version"] = staged["version"] or old_version
        meta["segments"] = staged["segments"]
        self._set_dvs(meta, new_dvs)
        meta["vnum"] = old_vnum + 1
        if staged.get("stats"):
            self._stats_of(name)[staged["version"]] = staged["stats"]
            self._stats_dirty.add(name)
        if staged["segments"] == [staged["version"]]:
            # Full rewrite: every pre-existing file is now unreferenced
            # by the current version, so dropped-column residue is gone.
            meta.pop("dropped_columns", None)
        prune: list[str] = []
        if self._txn is not None:
            base = os.path.join(self.warehouse, name)
            if staged["version"]:
                self._txn["created"].append(
                    os.path.join(base, staged["version"])
                )
            sides = {dv["dv"] for dv in new_dvs.values()}
            self._txn["created"] += [
                os.path.join(base, d)
                for d in sides - {dv["dv"] for dv in old_dvs.values()}
            ]
            # Segments and DVs dropped by this write are deletable at
            # COMMIT only if no retained history entry still references
            # them (rollback meanwhile restores the snapshot manifest,
            # which does — hence deferral, not deletion).
            referenced = self._references(meta)
            for entry in meta.get("history", []):
                referenced |= self._references(entry)
            for d in self._references(
                {"segments": old_segments, "dvs": old_dvs}
            ) - referenced:
                self._txn["superseded"].append(os.path.join(base, d))
        elif old_version:
            entry = {
                "vnum": old_vnum,
                "version": old_version,
                "segments": old_segments,
            }
            self._set_dvs(entry, old_dvs)
            prune = self._push_history(name, meta, entry)
        return prune

    def _references(self, meta_or_entry: dict) -> set[str]:
        """Table-dir names a manifest keeps alive: its top-level
        segment dirs and its DV sidecars."""
        return self._top_dirs(self._segments_of(meta_or_entry)) | {
            dv["dv"] for dv in self._dvs_of(meta_or_entry).values()
        }

    def _push_history(self, name: str, meta: dict, entry: dict) -> list[str]:
        """Append the superseded manifest ``entry`` to ``meta``'s
        history (``meta`` already holds the new current manifest), trim
        it to RETAIN_VERSIONS and return the segment dirs and DV
        sidecars only the dropped entries referenced — the paths the
        caller deletes after the catalog save. Zone maps die with
        their dirs."""
        history = meta.setdefault("history", [])
        history.append(entry)
        dropped = history[: -self.RETAIN_VERSIONS]
        meta["history"] = history[-self.RETAIN_VERSIONS:]
        referenced = self._references(meta)
        for kept in meta["history"]:
            referenced |= self._references(kept)
        gone: set[str] = set()
        for old in dropped:
            gone |= self._references(old)
        gone -= referenced
        for d in gone:
            if self._stats_of(name).pop(d, None) is not None:
                self._stats_dirty.add(name)
        return [os.path.join(self.warehouse, name, d) for d in sorted(gone)]

    @staticmethod
    def _drop_paths(paths: list[str]) -> None:
        """Best-effort removal of pruned segment dirs and DV sidecars
        (a missed one is swept by VACUUM)."""
        for p in paths:
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                try:
                    os.remove(p)
                except OSError:
                    pass

    def _overwrite_all(
        self,
        updates: dict[str, DataFrame] | None = None,
        extra_meta: dict[str, dict] | None = None,
        appends: dict[str, DataFrame] | None = None,
    ) -> dict[str, int]:
        """Multi-table ATOMIC commit: stage every table's new segment
        on disk (full rewrites via ``updates``, O(batch) appends via
        ``appends``), then move all catalog manifests plus any extra
        metadata keys (e.g. a streaming high-water mark) and commit them
        in ONE catalog save — ``os.replace`` of the catalog JSON is the
        single commit point, so readers (and crash recovery) see either
        none or all of the updates. This is what lets the streaming
        dedup ingest keep its clean/bands tables and batch mark in
        lockstep (streaming/dedup_ingest.py) with per-batch I/O
        proportional to the batch, not the accumulated history."""
        updates = updates or {}
        appends = appends or {}
        counts = {}
        try:
            for name, df in updates.items():
                counts[name] = self._stage_version(name, df)
            for name, df in appends.items():
                counts[name] = self._stage_version(name, df, base="current")
        except Exception:
            for name in list(updates) + list(appends):
                self._meta(name).pop("_staged", None)  # dirs are garbage
            raise
        prune: list[str] = []
        for name in list(updates) + list(appends):
            prune += self._advance_pointer(name)
        for name, kv in (extra_meta or {}).items():
            self._meta(name).update(kv)
        self._save_catalog()
        self._drop_paths(prune)  # destructive step strictly after the commit
        for name in list(updates) + list(appends):
            self._view(name)
        # the streaming sinks commit here outside execute(), so this
        # commit is the statement scope of the refreshes it triggers
        vmark = len(self._stmt_views)
        try:
            for name in appends:  # refresh-then-compact, as in _append
                self._maybe_auto_refresh(name)
                self._maybe_auto_compact(name)
        finally:
            self._release_views(vmark)
        return counts

    def _schema(self, name: str) -> T.StructType:
        meta = self._meta(name)
        fields = []
        for col in meta["columns"]:
            dt, _ = _parse_type(col["type"])
            fields.append(T.StructField(col["name"], dt, not col["notnull"]))
        return T.StructType(fields)

    def _fold_constant(self, expr: str, dt) -> str:
        """Fold a row-independent expression to ONE SQL literal, for
        ALTER ADD COLUMN ... DEFAULT backfill (DuckDB evaluates the
        default once at alter time for existing rows). A one-row
        local-relation plan — no table data, no shuffle. Per-row
        nondeterministic expressions (rand/uuid/...) cannot fold to a
        single honest value and refuse by name; current_date/
        current_timestamp are query-constant and fold fine."""
        if re.search(
            r"\b(rand|randn|random|uuid|shuffle|nextval|currval|"
            r"monotonically_increasing_id)\s*\(",
            blank_literals(expr), re.I,
        ):
            raise EngineError(
                "ALTER TABLE ADD COLUMN DEFAULT must be"
                f" deterministic to backfill existing rows: {expr!r}"
            )
        try:
            row = self.spark.sql(f"select ({expr}) as v").collect()[0]
        except Exception as e:
            raise EngineError(
                f"cannot evaluate DEFAULT expression {expr!r}: {e}"
            ) from e
        v = row["v"]
        if v is None:
            return "null"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, (int, float)):
            return repr(v)
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        # date/timestamp/decimal render through their string forms;
        # the read-path cast restores the declared type
        return "'" + str(v).replace("'", "''") + "'"

    # ------------------------------------------------- sequences --
    def _create_sequence(self, stmt: str) -> Result:
        """CREATE [OR REPLACE] SEQUENCE [IF NOT EXISTS] name
        [START [WITH] n] [INCREMENT [BY] n] [MINVALUE n] [MAXVALUE n]
        (DuckDB): driver-held counter state in the catalog — the only
        place a strictly monotonic per-row counter can live in a
        distributed engine. CYCLE wraps with the STANDARD semantics
        (ascending: crossing MAXVALUE restarts at MINVALUE, default
        1; descending mirror, restart at MAXVALUE, default -1) via a
        closed-form offset formula (``_seq_value_at``), so block
        allocation and the distributed fills wrap without iteration.
        DuckDB 1.0.0's artifact — CYCLE silently ignored for |inc|>1
        ascending (values run past MAXVALUE unboundedly, probed) —
        is NOT replicated; the differential grid pins the |inc|=1
        and exact-hit shapes where the engines agree. NO CYCLE
        sequences exceeeding MAXVALUE/MINVALUE raise like DuckDB's
        "reached maximum value"."""
        m = re.match(
            r"create\s+(or\s+replace\s+)?sequence\s+"
            r"(if\s+not\s+exists\s+)?(\w+)\s*(.*)$",
            stmt, re.I | re.S,
        )
        if not m:
            raise EngineError(f"cannot parse CREATE SEQUENCE: {stmt!r}")
        orp, ine, name, opts = m.groups()
        seqs = self.catalog.setdefault("sequences", {})
        if name in seqs and ine:
            return Result(
                warning=f"sequence {name} already exists, skipped"
            )
        if name in seqs and not orp:
            raise EngineError(f"sequence {name} already exists")
        seq = {"start": 1, "inc": 1, "min": None, "max": None}
        if re.search(r"\bcycle\b", opts or "", re.I) and not re.search(
            r"\bno\s+cycle\b", opts or "", re.I
        ):
            seq["cycle"] = True
        for kw, key in (
            (r"start(?:\s+with)?", "start"),
            (r"increment(?:\s+by)?", "inc"),
            (r"minvalue", "min"),
            (r"maxvalue", "max"),
        ):
            km = re.search(rf"\b{kw}\s+(-?\d+)", opts or "", re.I)
            if km:
                seq[key] = int(km.group(1))
        if seq["inc"] == 0:
            raise EngineError("sequence INCREMENT must be non-zero")
        if seq["inc"] < 0 and not re.search(
            r"\bstart\b", opts or "", re.I
        ):
            seq["start"] = -1  # DuckDB: descending defaults start -1
        seq["current"] = None  # advances on first nextval
        seqs[name] = seq
        self._save_catalog()
        return Result()

    def _drop_sequence(self, stmt: str) -> Result:
        m = re.match(
            r"drop\s+sequence\s+(if\s+exists\s+)?(\w+)\s*$", stmt, re.I
        )
        if not m:
            raise EngineError(f"cannot parse DROP SEQUENCE: {stmt!r}")
        ife, name = m.groups()
        seqs = self.catalog.setdefault("sequences", {})
        if name not in seqs:
            if ife:
                return Result(warning=f"sequence {name} does not exist")
            raise EngineError(f"sequence {name} does not exist")
        del seqs[name]
        self._save_catalog()
        return Result()

    @staticmethod
    def _seq_bounds(s: dict) -> tuple[int, int]:
        """Effective [min, max] window — the standard defaults
        (ascending min 1, descending max -1, int64 extremes on the
        open side)."""
        if s["inc"] > 0:
            return (
                s["min"] if s["min"] is not None else 1,
                s["max"] if s["max"] is not None else (1 << 63) - 1,
            )
        return (
            s["min"] if s["min"] is not None else -(1 << 63),
            s["max"] if s["max"] is not None else -1,
        )

    @classmethod
    def _seq_value_at(cls, s: dict, first: int, k: int) -> int:
        """Value ``k`` steps after ``first`` (k=0 → first) under the
        sequence's wrap rule — linear for NO CYCLE; for CYCLE the
        trajectory runs to the bound then restarts at the opposite
        one (min ascending, max descending), so a lap of L =
        floor(window/|inc|)+1 values repeats: past the first wrap the
        position is (k - s0 - 1) mod L from the restart anchor.
        Closed-form, so block reservation and the DISTRIBUTED fills
        wrap without per-step iteration."""
        inc = s["inc"]
        if not s.get("cycle"):
            return first + inc * k
        mn, mx = cls._seq_bounds(s)
        if inc > 0:
            s0 = (mx - first) // inc
            lap = (mx - mn) // inc + 1
            anchor = mn
        else:
            s0 = (first - mn) // (-inc)
            lap = (mx - mn) // (-inc) + 1
            anchor = mx
        if k <= s0:
            return first + inc * k
        return anchor + inc * ((k - s0 - 1) % lap)

    def _seq_fill_col(self, name: str, first: int, idx0) -> F.Column:
        """The ``_seq_value_at`` formula as a Spark Column over a
        0-based dense-index column — the distributed twin used by
        the DEFAULT-nextval fill and nextval-over-FROM."""
        s = self.catalog["sequences"][name]
        inc = s["inc"]
        lin = F.lit(first) + F.lit(inc) * idx0
        if not s.get("cycle"):
            return lin
        mn, mx = self._seq_bounds(s)
        if inc > 0:
            s0 = (mx - first) // inc
            lap = (mx - mn) // inc + 1
            anchor = mn
        else:
            s0 = (first - mn) // (-inc)
            lap = (mx - mn) // (-inc) + 1
            anchor = mx
        wrapped = F.lit(anchor) + F.lit(inc) * (
            (idx0 - F.lit(s0) - F.lit(1)) % F.lit(lap)
        )
        return F.when(idx0 <= F.lit(s0), lin).otherwise(wrapped)

    def _seq_next_block(self, name: str, n: int) -> int:
        """Reserve ``n`` successive sequence values; returns the FIRST.
        The bound check covers the whole block (DuckDB parity error);
        a CYCLE sequence wraps instead of erroring. The reservation
        advances ``current`` in memory and belongs to the running
        statement, which settles it on exit (``_settle_sequences``).
        A write's own commit persists it with the written rows."""
        seqs = self.catalog.setdefault("sequences", {})
        if name not in seqs:
            raise EngineError(f"sequence {name} does not exist")
        s = seqs[name]
        first = (
            s["start"] if s["current"] is None
            else self._seq_value_at(s, s["current"], 1)
        )
        last = self._seq_value_at(s, first, n - 1) if n else first
        if not s.get("cycle"):
            if s["inc"] > 0 and s["max"] is not None and last > s["max"]:
                raise EngineError(
                    f"sequence {name} reached maximum value"
                    f" ({s['max']})"
                )
            if s["inc"] < 0 and s["min"] is not None and last < s["min"]:
                raise EngineError(
                    f"sequence {name} reached minimum value"
                    f" ({s['min']})"
                )
        if n > 0:
            self._seq_reserved.append((name, s["current"]))
            s["current"] = last
        return first

    def _settle_sequences(self, mark: int, keep: bool) -> None:
        """End of a statement scope: persist the sequence values
        reserved since ``mark`` — like DuckDB, a failed statement
        keeps them — or, when ``keep`` is false (the statement only
        planned), restore each sequence's previous value. Either way
        one catalog save records the outcome, so a plan-only
        statement's own save (CREATE VIEW) is undone on disk too."""
        undo = self._seq_reserved[mark:]
        if not undo:
            return
        del self._seq_reserved[mark:]
        if not keep:
            for name, prev in reversed(undo):
                self.catalog["sequences"][name]["current"] = prev
        self._save_catalog()

    def _seq_currval(self, name: str) -> int:
        seqs = self.catalog.setdefault("sequences", {})
        if name not in seqs:
            raise EngineError(f"sequence {name} does not exist")
        if seqs[name]["current"] is None:
            raise EngineError(
                f"currval: sequence {name} has not been used yet"
            )
        return seqs[name]["current"]

    _NEXTVAL_RE = re.compile(
        r"\b(nextval|currval)\s*\(\s*'(\w+)'\s*\)", re.I
    )

    def _seq_calls(self, text: str) -> list[re.Match]:
        """nextval/currval call sites in ``text`` whose function
        token sits OUTSIDE string literals (the sequence-name
        argument is itself a literal, so the match runs on the
        original text and the blank only vets the function token —
        a 'nextval(' inside a string must not count)."""
        b = blank_literals(text)
        return [
            cm for cm in self._NEXTVAL_RE.finditer(text)
            if b[cm.start(1):cm.end(1)] == text[cm.start(1):cm.end(1)]
        ]

    def _sub_sequence_calls(self, text: str, rows: int = 1) -> str:
        """Substitute nextval('s') / currval('s') calls with allocated
        literals — the scalar path (SELECT without FROM, VALUES
        tuples: the row count is known at plan time, so each textual
        occurrence advances once per row in left-to-right order,
        DuckDB's evaluation order). ``rows`` > 1 means the SAME text
        evaluates once per row (a VALUES tuple list substitutes
        per-tuple instead — callers pass each tuple separately)."""
        calls = self._seq_calls(text)
        if not calls:
            return text
        out, pos = [], 0
        for cm in calls:
            out.append(text[pos:cm.start()])
            fn, name = cm.group(1).lower(), cm.group(2)
            if fn == "nextval":
                v = self._seq_next_block(name, rows)
            else:
                v = self._seq_currval(name)
            out.append(str(v))
            pos = cm.end()
        out.append(text[pos:])
        return "".join(out)

    def _seq_default_fill(
        self, df: DataFrame, colname: str, dt, seqname: str
    ) -> tuple[DataFrame, int | None]:
        """Fill a DEFAULT nextval('seq') column over an UNKNOWN-count
        source: dense 1-based index via the distributed zipWithIndex
        construction (``_zip_index`` — two passes, no global window),
        then first + inc * (idx - 1). The block reserves AFTER the
        count is known (the localCheckpoint inside _zip_index pins the
        rows, so the fill and the reservation see the same count —
        _zip_index's own partition counts, no second job)."""
        seqs = self.catalog.setdefault("sequences", {})
        if seqname not in seqs:
            raise EngineError(f"sequence {seqname} does not exist")
        idx = f"_seq_{uuid.uuid4().hex[:6]}"
        d, n = self._zip_index(df, idx)
        first = self._seq_next_block(seqname, n) if n else (
            seqs[seqname]["start"]
        )
        return (
            d.withColumn(
                colname,
                # _zip_index is 1-based: value at offset idx-1
                # (linear, or the CYCLE wrap formula)
                self._seq_fill_col(
                    seqname, first, F.col(idx) - F.lit(1)
                ).cast(dt),
            ).drop(idx),
            n,
        )

    def _rewrite_sequence_calls(self, stmt: str) -> str:
        """Scalar sequence-call substitution in the SELECT pipeline:
        nextval/currval over a no-FROM statement (or currval
        anywhere — it reads without advancing) substitute to
        literals. nextval over a FROM query (r11 verdict #7) routes
        through the distributed dense-index fill — see
        ``_nextval_from_rewrite``."""
        calls = self._seq_calls(stmt)
        if not calls:
            return stmt
        b = blank_literals(stmt)
        has_next = any(
            c.group(1).lower() == "nextval" for c in calls
        )
        if has_next and re.search(r"\bfrom\b", b, re.I):
            return self._nextval_from_rewrite(stmt)
        return self._sub_sequence_calls(stmt)

    def _nextval_from_rewrite(self, stmt: str) -> str:
        """``SELECT ..., nextval('s'), ... FROM <query>`` (DuckDB
        evaluates nextval once per OUTPUT row, select items left to
        right): supported for BARE nextval select items (optionally
        aliased) — the inner query plans WITHOUT them through the
        full pipeline, rows take a dense 1-based index via the
        distributed ``_zip_index`` (two passes, no single-task global
        window), one block per sequence reserves AFTER the count is
        known, and the j-th select item of a sequence fills
        COLUMN-MAJOR — ``first + inc * (j*n + idx-1)`` — matching
        DuckDB's probed vectorized evaluation (two nextval items
        over two rows yield a=6,7 b=8,9, not row-major
        interleaving). Row order follows the
        inner plan's enumeration (deterministic for VALUES, sorted
        and single-split sources — the POSITIONAL JOIN contract);
        nextval nested inside expressions or non-select-list clauses
        refuses by name (DEFAULT nextval('s') is the scale-path
        workaround either way)."""
        m = re.match(r"^\s*select\s+", stmt, re.I)
        f = find_top_level_keyword(stmt, ("from",))
        if not m or f is None or re.match(
            r"^\s*select\s+distinct\b", stmt, re.I
        ):
            raise EngineError(
                "nextval over a FROM query is supported only as a"
                " plain SELECT-list item — declare the column"
                " DEFAULT nextval('seq') instead"
            )
        items = split_top_level(stmt[m.end(): f[0]])
        seq_items: dict[int, tuple[str, str]] = {}  # pos → (seq, alias)
        inner_items: list[str] = []
        # a star item expands to MANY inner-plan columns, so the
        # 1:1 positional mapping below must widen for it; one star
        # has a determinable span, two or more do not (r12 ADVICE
        # #2: `select nextval('s'), * from t` used to keep only the
        # first source column)
        star_pos = {
            i for i, it in enumerate(items)
            if re.fullmatch(r"\s*(?:[\w`\"]+\s*\.\s*)?\*\s*", it)
        }
        if len(star_pos) > 1:
            raise EngineError(
                "nextval over a FROM query supports at most one *"
                " select item — list the columns explicitly"
            )
        for i, it in enumerate(items):
            im = re.fullmatch(
                r"\s*nextval\s*\(\s*'(\w+)'\s*\)"
                r"(?:\s+(?:as\s+)?(\w+))?\s*",
                it, re.I,
            )
            if im:
                alias = im.group(2) or f"nextval('{im.group(1)}')"
                seq_items[i] = (im.group(1), alias)
            else:
                if self._seq_calls(it):
                    raise EngineError(
                        "nextval composed inside an expression over"
                        " a FROM query is not supported — use a bare"
                        " nextval('seq') select item or a DEFAULT"
                        " nextval('seq') column"
                    )
                inner_items.append(it.strip())
        if self._seq_calls(stmt[f[0]:]):
            raise EngineError(
                "nextval outside the SELECT list of a FROM query is"
                " not supported — use a DEFAULT nextval('seq')"
                " column"
            )
        if not seq_items:  # only currval calls: substitute in place
            return self._sub_sequence_calls(stmt)
        inner = (
            "select "
            + (", ".join(inner_items) if inner_items else "1 as _one")
            + " " + stmt[f[0]:]
        )
        df = self._plan_engine_select(inner)
        idx = f"_seq_{uuid.uuid4().hex[:6]}"
        d, n = self._zip_index(df, idx)
        seqs_used = [s for s, _a in seq_items.values()]
        per_seq_m = {s: seqs_used.count(s) for s in set(seqs_used)}
        first: dict[str, int] = {}
        for s, mm in per_seq_m.items():
            if s not in self.catalog.get("sequences", {}):
                raise EngineError(f"sequence {s} does not exist")
            first[s] = (
                self._seq_next_block(s, n * mm) if n else
                self.catalog["sequences"][s].get("start", 1)
            )
        seen: dict[str, int] = {}
        out_cols: list = []
        inner_cols = (
            [c for c in d.columns if c != idx] if inner_items else []
        )
        # the one permitted star spans every inner column the other
        # (non-star, non-nextval) items don't account for
        star_span = len(inner_cols) - (len(inner_items) - 1) \
            if star_pos else 0
        inner_iter = iter(inner_cols)
        for i, it in enumerate(items):
            if i in seq_items:
                s, alias = seq_items[i]
                j = seen.get(s, 0)
                seen[s] = j + 1
                out_cols.append(
                    self._seq_fill_col(
                        s, first[s],
                        F.lit(j * n) + F.col(idx) - F.lit(1),
                    ).cast("bigint").alias(alias)
                )
            elif i in star_pos:
                for _ in range(star_span):
                    out_cols.append(F.col(f"`{next(inner_iter)}`"))
            else:
                out_cols.append(F.col(f"`{next(inner_iter)}`"))
        view = self._scoped_view(d.select(*out_cols), "_nv_")
        return f"select * from {view}"

    def _sub_values_sequences(self, vtext: str) -> str:
        """Per-tuple sequence substitution in a VALUES list: each row
        evaluates its nextval calls independently, in row order
        (DuckDB's evaluation order)."""
        if not self._seq_calls(vtext):
            return vtext
        body = vtext.strip()
        if not re.match(r"values\b", body, re.I):
            return vtext
        out = [
            self._sub_sequence_calls(row)
            for row in split_items(body[6:])
        ]
        return "values " + ", ".join(out)

    def _sequence_defaults(self, name: str) -> dict[str, str]:
        """Columns whose DEFAULT is a bare nextval('seq') call, by
        lowercase column name → sequence name. Expression-wrapped
        sequence defaults (nextval(..) + 1) refuse at fill time."""
        out: dict[str, str] = {}
        for c in self._meta(name).get("columns", []):
            d = c.get("default")
            if d is None:
                continue
            m = re.fullmatch(
                r"nextval\s*\(\s*'(\w+)'\s*\)", d.strip(), re.I
            )
            if m:
                out[c["name"].lower()] = m.group(1)
            elif self._seq_calls(d):
                raise EngineError(
                    f"DEFAULT on {c['name']} composes nextval inside"
                    " an expression — only a bare nextval('seq')"
                    " default is supported"
                )
        return out

    # ------------------------------------------------ USING SAMPLE --
    _SAMPLE_SPEC_RE = re.compile(
        r"\busing\s+sample\s+"
        r"(?:(reservoir|bernoulli|system)\s*\(\s*)?"      # method(...)
        r"(\d+(?:\.\d+)?)\s*(%|percent\b|rows\b)?\s*\)?"  # n [unit]
        r"(?:\s*\(\s*(?:reservoir|bernoulli|system)"      # (method[,seed])
        r"(?:\s*,\s*\d+)?\s*\))?",
        re.I,
    )

    def _rewrite_using_sample(self, stmt: str) -> str:
        """DuckDB's ``USING SAMPLE`` clause, lowered onto Spark
        TABLESAMPLE. Units map exactly (``n ROWS`` / bare n → ``(n
        ROWS)``, ``n%``/``n PERCENT`` → ``(n PERCENT)``); the method
        and seed are accepted and IGNORED (documented: sampling is
        engine-random either way — DuckDB's system sampling is
        per-vector all-or-nothing, Spark's percent is per-row
        Bernoulli; no cross-engine row identity exists, so the grade
        is invariant-based). DuckDB-probed binding honored: the
        sample attaches to the FROM source and applies BEFORE the
        WHERE/aggregation wherever the clause sits in the statement.
        Multi-relation FROMs refuse by name."""
        b = blank_literals(stmt)
        m = re.search(r"\busing\s+sample\b", b, re.I)
        if not m:
            return stmt
        if paren_depth_at(b, m.start()) > 0:
            # a subquery's clause: the generic engine-subquery lift
            # plans that group standalone, where this rewrite sees it
            # at depth 0
            return stmt
        sm = self._SAMPLE_SPEC_RE.search(stmt)
        if not sm or sm.start() != m.start():
            raise EngineError(
                f"cannot parse USING SAMPLE near: {stmt[m.start():][:40]!r}"
            )
        n, unit = sm.group(2), (sm.group(3) or "rows").lower()
        unit = "percent" if unit in ("%", "percent") else "rows"
        ts = f" tablesample ({n} {unit}) "
        # DuckDB binds the sample to the FROM source — it applies
        # BEFORE the WHERE/aggregation wherever the clause sits
        # (probed: `where k < 100 using sample 10 rows` samples the
        # TABLE then filters). Attach to the single FROM relation.
        head = stmt[: sm.start()]
        fk = find_top_level_keyword(head, ("from",))
        if fk is None:
            raise EngineError(
                "USING SAMPLE needs a FROM source to sample"
            )
        tm = re.match(
            r"\s*(\w+)", head[fk[0] + len("from"):]
        )
        between = head[fk[0] + len("from"):]
        # multi-relation guard scans the FROM clause ONLY (up to the
        # next top-level clause keyword), at paren depth 0 — a comma
        # inside `where k in (1,2)` is not a join list (ADVICE r11)
        bb = blank_literals(between)
        ck = re.search(
            r"\b(where|group|having|order|limit|offset|qualify"
            r"|window|fetch|union|intersect|except)\b",
            bb, re.I,
        )
        from_clause = bb[: ck.start()] if ck else bb
        multi = re.search(r"\bjoin\b", from_clause, re.I) or any(
            c == "," and paren_depth_at(from_clause, i) == 0
            for i, c in enumerate(from_clause)
        )
        if not tm or multi:
            raise EngineError(
                "USING SAMPLE is supported over a single plain FROM"
                " relation — sample a subquery/join via TABLESAMPLE"
                " on a lifted view instead"
            )
        insert_at = fk[0] + len("from") + tm.end(1)
        return (
            head[:insert_at] + ts + head[insert_at:]
            + stmt[sm.end():]
        )

    _LO_OK = re.compile(
        r"^(unbounded\s+preceding|\d+\s+preceding|current\s+row)$", re.I
    )
    _HI_OK = re.compile(
        r"^(unbounded\s+following|\d+\s+following|current\s+row)$", re.I
    )

    def _exclude_peers_repl(
        self, fn: str, arg: str, star: bool, spec_wo: str,
        fm: re.Match | None, kind: str,
    ) -> str:
        """Replacement text for ``fn(arg) OVER (spec EXCLUDE
        TIES|GROUP)`` — frame aggregate minus the aggregate of the
        excluded peers, built from plain window expressions over the
        SAME partition/order (one sort, one shuffle; Catalyst fuses
        them into a single Window exec and CSEs the shared
        cumulatives).

        GROUP excludes every frame row whose ORDER BY key ties the
        current row's (the current row included); TIES excludes the
        peers but keeps the current row. Peers-inside-the-frame:

        - RANGE/default frame: a frame that contains the current row
          contains the WHOLE peer group (value-distance 0), so the
          excluded aggregate is one window — RANGE BETWEEN CURRENT
          ROW AND CURRENT ROW.
        - ROWS frame [lo, hi]: the peer group [pg_lo, pg_hi] can
          straddle either edge. With cps(p) the cumulative aggregate
          up to absolute row p, the preceding peers inside the frame
          sum to cps(rn-1) - cps(max(rn-a, pg_lo) - 1) and the
          following ones to cps(min(rn+b, pg_hi)) - cps(rn); every
          cps lands on an expressible bound — rn±const are ROWS
          cumulatives, cps(pg_hi) is the RANGE cumulative, and
          cps(pg_lo - 1) is the RANGE cumulative minus the peer
          aggregate. The max/min branch is decided by row_number -
          rank (the count of preceding peers) vs the frame offset.

        The empty-kept-frame guard mirrors SQL: sum/avg yield NULL,
        count yields 0."""
        prefix = (
            spec_wo[: fm.start()].strip() if fm else spec_wo.strip()
        )
        is_rows = bool(fm) and fm.group(1).lower() == "rows"
        rng_cur = "range between current row and current row"

        def w(aggexpr: str, frame: str | None) -> str:
            if frame is None:  # the original (exclude-stripped) frame
                return f"({aggexpr} over ({spec_wo}))"
            return f"({aggexpr} over ({prefix} {frame}))"

        def c0(x: str) -> str:
            return f"coalesce({x}, 0)"

        def excl(af: str, aa: str) -> str:
            """Aggregate ``af(aa)`` of the EXCLUDED rows."""
            if af == "count":
                cur = (
                    "1" if aa == "*" else
                    f"(case when ({aa}) is not null then 1 else 0"
                    " end)"
                )
            else:
                cur = f"coalesce({aa}, 0)"
            a_call = f"{af}({aa})"
            peer = c0(w(a_call, rng_cur))
            if not is_rows:
                return peer if kind == "group" else (
                    f"({peer} - {cur})"
                )
            lo = re.sub(r"\s+", " ", fm.group(2).strip().lower())
            hi = re.sub(r"\s+", " ", fm.group(3).strip().lower())
            cum1p = c0(w(
                a_call,
                "rows between unbounded preceding and 1 preceding",
            ))
            cum0 = c0(w(
                a_call,
                "rows between unbounded preceding and current row",
            ))
            rngc = c0(w(
                a_call,
                "range between unbounded preceding and current row",
            ))
            before_group = f"({rngc} - {peer})"
            j = (
                f"(row_number() over ({prefix}) -"
                f" rank() over ({prefix}))"
            )
            am = re.match(r"^(\d+) preceding$", lo)
            if lo == "current row" or (am and am.group(1) == "0"):
                pp = "0"
            elif lo == "unbounded preceding":
                pp = f"({cum1p} - {before_group})"
            else:
                a = int(am.group(1))
                cumap = c0(w(
                    a_call,
                    f"rows between unbounded preceding and {a + 1}"
                    " preceding",
                ))
                pp = (
                    f"({cum1p} - (case when {j} >= {a} then {cumap}"
                    f" else {before_group} end))"
                )
            bm = re.match(r"^(\d+) following$", hi)
            if hi == "current row" or (bm and bm.group(1) == "0"):
                fp = "0"
            elif hi == "unbounded following":
                fp = f"({rngc} - {cum0})"
            else:
                bnum = int(bm.group(1))
                cumbf = c0(w(
                    a_call,
                    f"rows between unbounded preceding and {bnum}"
                    " following",
                ))
                fcnt = f"({c0(w('count(*)', rng_cur))} - 1 - {j})"
                fp = (
                    f"((case when {fcnt} <= {bnum} then {rngc} else"
                    f" {cumbf} end) - {cum0})"
                )
            core = f"({pp} + {fp})"
            return f"({core} + {cur})" if kind == "group" else core

        cnt_arg = "*" if star else arg
        cnt_kept = (
            f"({c0(w(f'count({cnt_arg})', None))}"
            f" - {excl('count', cnt_arg)})"
        )
        if fn == "count":
            return cnt_kept
        sum_kept = (
            f"({c0(w(f'sum({arg})', None))} - {excl('sum', arg)})"
        )
        if fn == "sum":
            return (
                f"(case when {cnt_kept} = 0 then null else"
                f" {sum_kept} end)"
            )
        return (  # avg
            f"(case when {cnt_kept} = 0 then null else"
            f" {sum_kept} / cast({cnt_kept} as double) end)"
        )

    def _exclude_order_key(
        self, spec_wo: str, fm: re.Match | None, what: str
    ) -> tuple[str, str, str]:
        """The single ORDER BY key of a window spec (RANGE-frame
        EXCLUDE machinery needs per-key value arithmetic) →
        (key expr, nulls position 'first'|'last', the spec's
        partition-only prefix). Multi-key specs refuse by name."""
        sb = blank_literals(spec_wo)
        obm = next(
            (
                mm for mm in re.finditer(r"\border\s+by\b", sb, re.I)
                if paren_depth_at(sb, mm.start()) == 0
            ),
            None,
        )
        if obm is None:
            raise EngineError(f"window {what} needs an ORDER BY")
        oend = fm.start() if fm else len(spec_wo)
        items = split_top_level(spec_wo[obm.end(): oend])
        if len(items) != 1:
            raise EngineError(
                f"window {what} needs a single ORDER BY key"
                " (the peer/value arithmetic is per-key)"
            )
        key, _dirn, nulls = parse_order_item(items[0])
        return key, nulls or "last", spec_wo[: obm.start()].strip()

    def _exclude_minmax_rows_repl(
        self, fn: str, arg: str, spec_wo: str,
        fm: re.Match, kind: str,
    ) -> str:
        """min/max OVER (spec EXCLUDE TIES|GROUP) on a BOUNDED ROWS
        frame (r13 verdict #6 — the peer group can straddle the
        frame edge, so neither subtraction nor a value split works):
        a bounded ROWS frame materializes at most (p + f + 1) rows,
        so collect the frame's (key, value) pairs and drop the
        current key's peers with a null-safe filter — all JVM-side
        (collect_list shares the window sort; array HOFs do the
        rest), any key TYPE (the filter is <=> equality, no ±1 key
        arithmetic). A NULL ordering key is its own peer group and
        the null-safe compare handles it exactly. UNBOUNDED sides
        refuse by name: the per-row materialization would be
        O(partition), a scale hazard the bounded case doesn't have.
        array_min/array_max skip NULL values like the aggregates;
        an emptied frame yields NULL. TIES re-includes the current
        row (even on frames that missed it — DuckDB's row clamp has
        already run by the time this is called). Multi-key ORDER BY
        composes (unlike the RANGE value split): the peer test is a
        null-safe struct equality over every key."""
        lo = re.sub(r"\s+", " ", fm.group(2).strip().lower())
        hi = re.sub(r"\s+", " ", fm.group(3).strip().lower())
        if lo.startswith("unbounded") or hi.startswith("unbounded"):
            raise EngineError(
                f"window EXCLUDE {kind.upper()} with {fn}() on a"
                " ROWS frame with an UNBOUNDED side is not"
                " supported (the frame materialization is bounded"
                " by the frame width) — bound the frame, or use a"
                " RANGE frame with an integer key"
            )
        sb = blank_literals(spec_wo)
        obm = next(
            (
                mm for mm in re.finditer(r"\border\s+by\b", sb, re.I)
                if paren_depth_at(sb, mm.start()) == 0
            ),
            None,
        )
        if obm is None:
            raise EngineError(
                f"window EXCLUDE {kind.upper()} with {fn}() needs"
                " an ORDER BY"
            )
        items = split_top_level(spec_wo[obm.end(): fm.start()])
        keys = [parse_order_item(it)[0] for it in items]
        key = (
            f"({keys[0]})" if len(keys) == 1
            else "named_struct(" + ", ".join(
                f"'o{i}', ({k})" for i, k in enumerate(keys)
            ) + ")"
        )
        mfn = "array_min" if fn == "min" else "array_max"
        g = (
            f"{mfn}(transform(filter(collect_list("
            f"named_struct('k', {key}, 'v', ({arg})))"
            f" over ({spec_wo}),"
            f" _xe -> not (_xe.k <=> {key})), _xe -> _xe.v))"
        )
        if kind == "ties":
            comb = "least" if fn == "min" else "greatest"
            return (
                f"(case when {g} is null then ({arg})"
                f" when ({arg}) is null then {g}"
                f" else {comb}({g}, ({arg})) end)"
            )
        return f"({g})"

    def _exclude_minmax_range_repl(
        self, stmt: str, fn: str, arg: str, spec_wo: str,
        fm: re.Match | None, kind: str,
    ) -> str:
        """min/max OVER (spec EXCLUDE TIES|GROUP) on a RANGE or
        default frame (r12 verdict #5 — min/max cannot SUBTRACT the
        peer group the way sum/count/avg do, but on a value-based
        frame the kept set is two VALUE intervals that exclude the
        current key exactly: keys in [k-lo, k-1] and [k+1, k+hi]).
        That split is exact only for an INTEGER ordering key (the ±1
        is in key units), so the key's type is peeked by lazily
        planning it against the statement's top-level FROM — the
        same plan-for-schema trick as _rewrite_select_replace; any
        non-integral/unresolvable key refuses by name. TIES keeps
        the current row: combine the GROUP result with the row's own
        value null-safely."""
        if fm is not None and fm.group(1).lower() == "rows":
            return self._exclude_minmax_rows_repl(
                fn, arg, spec_wo, fm, kind
            )
        # single integer ORDER BY key (the ±1 arithmetic is exact
        # there and peers are exactly the equal keys)
        key, knulls, _pp = self._exclude_order_key(
            spec_wo, fm, f"EXCLUDE {kind.upper()} with {fn}()"
        )
        fb = find_top_level_keyword(stmt, ("from",))
        ktype = None
        if fb is not None:
            tail = stmt[fb[0] + 4:]
            t = find_top_level_keyword(
                tail, ("where", "group by", "having", "qualify",
                       "window", "order by", "limit", "offset"),
            )
            sources = tail[: t[0]] if t else tail
            try:
                ktype = self.spark.sql(
                    f"select ({key}) as _k from {sources}"
                ).schema[0].dataType.simpleString()
            except Exception:
                ktype = None
        if ktype not in ("tinyint", "smallint", "int", "bigint"):
            raise EngineError(
                f"window EXCLUDE {kind.upper()} with {fn}() needs an"
                " INTEGER ORDER BY key (the value split is exact"
                f" only in integer key units; key resolves to"
                f" {ktype or 'unknown'})"
            )
        prefix = (
            spec_wo[: fm.start()].strip() if fm else spec_wo.strip()
        )
        lo = (
            re.sub(r"\s+", " ", fm.group(2).strip().lower())
            if fm else "unbounded preceding"
        )
        hi = (
            re.sub(r"\s+", " ", fm.group(3).strip().lower())
            if fm else "current row"
        )
        lterm = rterm = "null"
        if lo != "current row" and lo != "0 preceding":
            lterm = (
                f"({fn}({arg}) over ({prefix} range between"
                f" {lo} and 1 preceding))"
            )
        if hi != "current row" and hi != "0 following":
            rterm = (
                f"({fn}({arg}) over ({prefix} range between"
                f" 1 following and {hi}))"
            )
        comb = "least" if fn == "min" else "greatest"

        def nz(a: str, b: str) -> str:
            if a == "null":
                return b
            if b == "null":
                return a
            return (
                f"(case when {a} is null then {b}"
                f" when {b} is null then {a}"
                f" else {comb}({a}, {b}) end)"
            )

        g = nz(lterm, rterm)
        empty = f"nullif(({arg}), ({arg}))"  # NULL of arg's type

        def done(x: str) -> str:
            return x if x != "null" else empty

        # a NULL ordering key is its own peer group: the value split
        # above can't see it (NULL compares with nothing), and both
        # engines give a NULL-key row a frame of exactly its peer
        # region extended to the partition edge on any UNBOUNDED
        # side. Excluding the group leaves the non-NULL-key rows on
        # the unbounded side toward them (NULLS LAST → preceding;
        # NULLS FIRST → following), else nothing.
        part_prefix = _pp
        nn = (
            f"({fn}(case when ({key}) is not null then ({arg}) end)"
            f" over ({part_prefix}))"
        )
        null_reaches = (
            lo == "unbounded preceding"
            if (knulls or "last") == "last"
            else hi == "unbounded following"
        )
        g_null = nn if null_reaches else "null"
        if kind == "group":
            body, nbody = done(g), done(g_null)
        else:
            body, nbody = done(nz(g, f"({arg})")), done(
                nz(g_null, f"({arg})")
            )
        if body == nbody:
            return body
        return (
            f"(case when ({key}) is null then {nbody}"
            f" else {body} end)"
        )

    def _rewrite_window_exclude(self, stmt: str) -> str:
        """Window frame EXCLUDE clause (DuckDB/Postgres; absent from
        Spark's OVER grammar). Supported class, each shape
        DuckDB-probed:

        - EXCLUDE NO OTHERS — the explicit default: strip.
        - EXCLUDE CURRENT ROW with sum/count/avg: rewrite by
          SUBTRACTION — ``sum(x) over f  minus  the current row's
          contribution``, with a count guard so an all-excluded frame
          yields NULL (SQL's empty-frame result), not 0. Works for
          ROWS, RANGE and default frames (the current row is inside
          its own peer group).
        - EXCLUDE CURRENT ROW with min/max on a ROWS BETWEEN frame:
          min/max don't subtract — SPLIT the frame into [start, 1
          preceding] ⊕ [1 following, end] and combine null-safely.
          RANGE/default frames for min/max refuse by name.
        - EXCLUDE TIES / EXCLUDE GROUP with sum/count/avg (r11
          verdict #2): peer-group subtraction. On RANGE/default
          frames the whole peer group provably sits inside any frame
          that contains the current row, so the excluded aggregate is
          one extra window (RANGE BETWEEN CURRENT ROW AND CURRENT
          ROW). On ROWS frames the peer group can STRADDLE the frame
          edges, so the peers-inside-the-frame aggregate is computed
          from cumulative prefix windows at the frame bounds
          intersected with the peer-group bounds (row_number/rank
          arithmetic — see ``_exclude_peers_repl``).
        - EXCLUDE TIES / EXCLUDE GROUP with min/max on RANGE/default
          frames (r12 verdict #5 — ``_exclude_minmax_range_repl``):
          the kept set is two value intervals around an INTEGER
          ordering key, no subtraction needed; non-integer keys on
          RANGE frames refuse by name.
        - EXCLUDE TIES / EXCLUDE GROUP with min/max on BOUNDED ROWS
          frames (r14 — ``_exclude_minmax_rows_repl``): collect the
          ≤ width frame rows and drop the current key's peers with
          a null-safe filter — any key type, multi-key ORDER BY
          composes; UNBOUNDED sides refuse by name (O(partition)
          materialization).
        - a frame that cannot contain the current row: DuckDB
          computes EVERY exclusion over the frame CLAMPED (row
          space) to touch the current row — probed on ROWS and RANGE
          frames, both sides, r13. TIES/GROUP clamp the near bound
          to CURRENT ROW textually and re-enter the machinery above
          (for RANGE the value-level clamp is equivalent: the
          far-side peers it adds are removed again with the peer
          group). EXCLUDE CURRENT ROW on ROWS clamps the same way;
          on RANGE the clamped gap is the ROWS cumulative at the
          current row minus the RANGE cumulative at the near bound
          (zero for NULL keys, whose frame already contains the
          row); min/max there refuses by name (no closed form).

        Pure text rewrite into plain OVER clauses, so Catalyst plans
        the result as ordinary window functions — the extra
        cumulative windows share the one partition/order sort, same
        shuffle."""
        if not re.search(
            r"\bexclude\b", blank_literals(stmt), re.I
        ):
            return stmt
        out = stmt
        for _ in range(200):  # bounded: each pass resolves one clause
            b = blank_literals(out)
            hit = None
            for om in re.finditer(r"\bover\s*\(", b, re.I):
                cp = match_bracket(out, om.end() - 1)
                sb = b[om.end(): cp]
                em = re.search(
                    r"\bexclude\s+(current\s+row|ties|group"
                    r"|no\s+others)\b",
                    sb, re.I,
                )
                if em and paren_depth_at(sb, em.start()) == 0:
                    hit = (om, cp, out[om.end(): cp], em)
                    break
            if hit is None:
                return out
            om, cp, spec, em = hit
            kind = re.sub(r"\s+", " ", em.group(1).lower())
            spec_wo = (spec[: em.start()] + spec[em.end():]).strip()
            if kind == "no others":
                out = out[: om.end()] + spec_wo + out[cp:]
                continue
            fm = FRAME_RE.search(spec_wo)
            contains_current = True
            if fm:
                contains_current = bool(
                    self._LO_OK.match(fm.group(2).strip())
                    and self._HI_OK.match(fm.group(3).strip())
                )
            elif re.search(r"\b(rows|range)\b", spec_wo, re.I):
                raise EngineError(
                    "window EXCLUDE over a shorthand frame is not"
                    " supported — spell ROWS/RANGE BETWEEN ... AND"
                    " ..."
                )
            if kind in ("ties", "group") and not re.search(
                r"\border\s+by\b", blank_literals(spec_wo), re.I
            ):
                raise EngineError(
                    f"window EXCLUDE {kind.upper()} needs an ORDER"
                    " BY (it defines the peer group)"
                )
            # locate the aggregate call the OVER belongs to
            head = out[: om.start()].rstrip()
            hb = blank_literals(head)
            if not head.endswith(")"):
                raise EngineError(
                    "window EXCLUDE CURRENT ROW: cannot locate the"
                    " aggregate call before OVER"
                )
            open_i = match_bracket_back(hb, len(head) - 1)
            nm = re.search(r"(\w+)\s*$", head[:open_i])
            if not nm:
                raise EngineError(
                    "window EXCLUDE CURRENT ROW: cannot locate the"
                    " aggregate call before OVER"
                )
            fn = nm.group(1).lower()
            arg = head[open_i + 1: len(head) - 1].strip()
            star = arg == "*"
            if not contains_current:
                known = fn in ("sum", "count", "avg", "min", "max")
                if not known:
                    # rank-family functions ignore frames: strip
                    out = out[: om.end()] + spec_wo + out[cp:]
                    continue
                is_rng = bool(fm) and fm.group(1).lower() == "range"
                lo0 = re.sub(r"\s+", " ", fm.group(2).strip().lower())
                hi0 = re.sub(r"\s+", " ", fm.group(3).strip().lower())
                prec_side = hi0.endswith("preceding")
                if kind != "current row" or not is_rng:
                    # DuckDB computes EVERY frame exclusion over the
                    # frame CLAMPED to touch the current row (probed
                    # ROWS + RANGE, both sides, r13): extend the near
                    # bound to CURRENT ROW and re-enter the loop —
                    # the clamped frame contains the current row, so
                    # the standard TIES/GROUP/CURRENT ROW machinery
                    # applies. For TIES/GROUP the value-level RANGE
                    # clamp is equivalent to DuckDB's row-level one
                    # (the far-side peers it adds are removed again
                    # with the peer group); for EXCLUDE CURRENT ROW
                    # the ROWS clamp is the row-level one exactly.
                    body = fm.group(1) + " between " + (
                        f"{lo0} and current row" if prec_side
                        else f"current row and {hi0}"
                    )
                    new_spec = (
                        f"{spec_wo[: fm.start()].strip()} {body}"
                        f" exclude {kind}"
                    )
                    out = out[: om.end()] + new_spec + out[cp:]
                    continue
                if fn in ("min", "max"):
                    raise EngineError(
                        f"window EXCLUDE CURRENT ROW with {fn}() on"
                        " a RANGE frame that does not contain the"
                        " current row is not supported (DuckDB"
                        " row-clamps the frame and the clamped gap"
                        " has no min/max closed form) — use a ROWS"
                        " frame"
                    )
                # sum/count/avg, RANGE + EXCLUDE CURRENT ROW: the
                # row-level clamp is frame ∪ rows(gap .. current] —
                # the gap aggregate is the ROWS cumulative at the
                # current row minus the RANGE cumulative at the
                # frame's near bound (both expressible, same sort).
                # A NULL ordering key's frame already CONTAINS the
                # row (it clamps to the peer region), so its gap is
                # zero — the gap term gates on key non-nullness.
                key0, _kn0, _pp0 = self._exclude_order_key(
                    spec_wo, fm, "EXCLUDE CURRENT ROW"
                )
                pfx2 = spec_wo[: fm.start()].strip()

                def _w2(af: str, aa: str, frame: str) -> str:
                    return (
                        f"coalesce({af}({aa}) over"
                        f" ({pfx2} {frame}), 0)"
                    )

                def clamped(af: str, aa: str) -> str:
                    frame_a = _w2(af, aa, f"{fm.group(1)} between {lo0} and {hi0}")
                    if prec_side:
                        cum0 = _w2(
                            af, aa,
                            "rows between unbounded preceding and"
                            " current row",
                        )
                        cumr = _w2(
                            af, aa,
                            f"range between unbounded preceding and"
                            f" {hi0}",
                        )
                    else:
                        cum0 = _w2(
                            af, aa,
                            "rows between current row and unbounded"
                            " following",
                        )
                        cumr = _w2(
                            af, aa,
                            f"range between {lo0} and unbounded"
                            " following",
                        )
                    return (
                        f"({frame_a} + (case when ({key0}) is null"
                        f" then 0 else {cum0} - {cumr} end))"
                    )

                if fn == "count":
                    curn2 = (
                        "1" if star else
                        f"(case when ({arg}) is not null then 1"
                        " else 0 end)"
                    )
                    repl = (
                        f"({clamped('count', '*' if star else arg)}"
                        f" - {curn2})"
                    )
                else:
                    if star:
                        raise EngineError(
                            f"{fn}(*) is not a window call"
                        )
                    curn2 = (
                        f"(case when ({arg}) is not null then 1"
                        " else 0 end)"
                    )
                    tcnt = f"({clamped('count', arg)} - {curn2})"
                    tsum = (
                        f"({clamped('sum', arg)} -"
                        f" coalesce({arg}, 0))"
                    )
                    repl = (
                        f"(case when {tcnt} = 0 then null else"
                        f" {tsum} end)" if fn == "sum" else
                        f"(case when {tcnt} = 0 then null else"
                        f" {tsum} / cast({tcnt} as double) end)"
                    )
                out = head[: nm.start(1)] + repl + out[cp + 1:]
                continue
            if kind in ("ties", "group"):
                if fn in ("min", "max"):
                    repl = self._exclude_minmax_range_repl(
                        out, fn, arg, spec_wo, fm, kind
                    )
                elif fn not in ("sum", "count", "avg"):
                    raise EngineError(
                        f"window EXCLUDE {kind.upper()} with {fn}()"
                        " is not supported"
                        " (sum/count/avg/min/max are)"
                    )
                else:
                    if star and fn != "count":
                        raise EngineError(
                            f"{fn}(*) is not a window call"
                        )
                    repl = self._exclude_peers_repl(
                        fn, arg, star, spec_wo, fm, kind
                    )
            elif fn == "count":
                cnt = (
                    f"((count(*) over ({spec_wo})) - 1)" if star else
                    f"((count({arg}) over ({spec_wo})) - (case when"
                    f" ({arg}) is not null then 1 else 0 end))"
                )
                repl = cnt
            elif fn in ("sum", "avg"):
                if star:
                    raise EngineError(f"{fn}(*) is not a window call")
                cnt = (
                    f"((count({arg}) over ({spec_wo})) - (case when"
                    f" ({arg}) is not null then 1 else 0 end))"
                )
                sum_excl = (
                    f"(case when {cnt} = 0 then null else"
                    f" (sum({arg}) over ({spec_wo})) -"
                    f" coalesce({arg}, 0) end)"
                )
                repl = sum_excl if fn == "sum" else (
                    f"({sum_excl} / nullif(cast({cnt} as double), 0))"
                )
            elif fn in ("min", "max"):
                if not fm or fm.group(1).lower() != "rows":
                    raise EngineError(
                        f"window EXCLUDE CURRENT ROW with {fn}()"
                        " needs an explicit ROWS BETWEEN frame"
                        " (min/max cannot subtract)"
                    )
                prefix = spec_wo[: fm.start()].strip()
                lo, hi = fm.group(2).strip(), fm.group(3).strip()
                comb = "least" if fn == "min" else "greatest"
                lterm = rterm = "null"
                if re.match(
                    r"^(unbounded|\d+)\s+preceding$", lo, re.I
                ):
                    lterm = (
                        f"({fn}({arg}) over ({prefix} rows between"
                        f" {lo} and 1 preceding))"
                    )
                if re.match(
                    r"^(unbounded|\d+)\s+following$", hi, re.I
                ):
                    rterm = (
                        f"({fn}({arg}) over ({prefix} rows between"
                        f" 1 following and {hi}))"
                    )
                repl = (
                    f"(case when {lterm} is null then {rterm}"
                    f" when {rterm} is null then {lterm}"
                    f" else {comb}({lterm}, {rterm}) end)"
                )
            else:
                raise EngineError(
                    f"window EXCLUDE CURRENT ROW with {fn}() is not"
                    " supported (sum/count/avg/min/max are)"
                )
            out = head[: nm.start(1)] + repl + out[cp + 1:]
        raise EngineError("window EXCLUDE rewrite did not converge")

    # ------------------------------------- EXPORT/IMPORT DATABASE --
    def _table_ddl(self, name: str, meta: dict) -> str:
        """Reconstruct a CREATE TABLE statement from catalog metadata
        — columns with types/NOT NULL/PRIMARY KEY/DEFAULT, composite
        keys and UNIQUE/CHECK as table-level entries. Backfill
        records are deliberately NOT carried: the data export reads
        through the fill, so the exported files hold the values
        physically."""
        cols = []
        pk = [c["name"] for c in meta["columns"] if c.get("pk")]
        for c in meta["columns"]:
            parts = [c["name"], c["type"]]
            if c.get("default") is not None:
                parts.append(f"default {c['default']}")
            if c.get("pk") and len(pk) == 1:
                parts.append("primary key")
            elif c.get("notnull"):
                parts.append("not null")
            cols.append(" ".join(parts))
        if len(pk) > 1:
            cols.append(f"primary key ({', '.join(pk)})")
        for uq in meta.get("uniques", []):
            cols.append(f"unique ({', '.join(uq)})")
        for ck in meta.get("checks", []):
            cols.append(f"check ({ck})")
        return f"CREATE TABLE {name} ({', '.join(cols)});"

    @staticmethod
    def _split_sql_script(text: str) -> list[str]:
        """Split a script on ';' terminators outside string literals
        (''-escape-aware) — the IMPORT DATABASE reader."""
        out, cur = [], []
        i, n = 0, len(text)
        while i < n:
            ch = text[i]
            if ch == "'":
                cur.append(ch)
                i += 1
                while i < n:
                    cur.append(text[i])
                    if text[i] == "'":
                        if i + 1 < n and text[i + 1] == "'":
                            cur.append(text[i + 1])
                            i += 2
                            continue
                        break
                    i += 1
                i += 1
                continue
            if ch == ";":
                s = "".join(cur).strip()
                if s:
                    out.append(s)
                cur = []
            else:
                cur.append(ch)
            i += 1
        s = "".join(cur).strip()
        if s:
            out.append(s)
        return out

    def _export_database(self, stmt: str) -> Result:
        """EXPORT DATABASE '<dir>' [(FORMAT parquet|csv)] (DuckDB):
        writes ``schema.sql`` (sequences with their CURRENT state,
        CREATE TABLE with the full constraint family, logical views
        in dependency order, macros, comments), ``load.sql`` (one
        COPY FROM per table, plus indexes and materialized views —
        those recompute over the loaded data), and one data file per
        table through the COPY TO path (reads through any backfill,
        so defaults are physical in the export). IMPORT DATABASE
        replays the two scripts through execute(), so a round trip
        restores tables, data, constraints (still enforcing),
        sequence positions, views, macros and comments."""
        m = re.match(
            r"export\s+database\s+'([^']+)'\s*"
            r"(?:\(\s*format\s+(\w+)\s*\))?\s*$",
            stmt, re.I,
        )
        if not m:
            raise EngineError(f"cannot parse EXPORT DATABASE: {stmt!r}")
        outdir, fmt = m.group(1), (m.group(2) or "parquet").lower()
        if fmt not in ("parquet", "csv"):
            raise EngineError(
                f"EXPORT DATABASE format {fmt} not supported"
                " (parquet|csv)"
            )
        os.makedirs(outdir, exist_ok=True)
        schema: list[str] = []
        load: list[str] = []

        def _q(s: str) -> str:
            return "'" + s.replace("'", "''") + "'"

        for sname, s in sorted(
            self.catalog.get("sequences", {}).items()
        ):
            nxt = (
                s["start"] if s["current"] is None
                else s["current"] + s["inc"]
            )
            line = (
                f"CREATE SEQUENCE {sname} START {nxt}"
                f" INCREMENT {s['inc']}"
            )
            if s.get("min") is not None:
                line += f" MINVALUE {s['min']}"
            if s.get("max") is not None:
                line += f" MAXVALUE {s['max']}"
            schema.append(line + ";")
        matviews: list[tuple[str, dict]] = []
        for tname, meta in sorted(self.catalog["tables"].items()):
            if meta.get("temp"):
                continue  # session-scoped: not part of the database
            if meta.get("matview_sql"):
                matviews.append((tname, meta))
                continue
            schema.append(self._table_ddl(tname, meta))
            if meta.get("comment") is not None:
                schema.append(
                    f"COMMENT ON TABLE {tname} IS"
                    f" {_q(meta['comment'])};"
                )
            for c in meta["columns"]:
                if c.get("comment") is not None:
                    schema.append(
                        f"COMMENT ON COLUMN {tname}.{c['name']} IS"
                        f" {_q(c['comment'])};"
                    )
            ext = "parquet" if fmt == "parquet" else "csv"
            data = os.path.join(outdir, f"{tname}.{ext}")
            self._copy(f"copy {tname} to '{data}' format {fmt}")
            load.append(
                f"COPY {tname} FROM '{data}' FORMAT {fmt};"
            )
        # macros BEFORE views: a view body may call a macro, and view
        # creation validates its body at import time
        for kind, reg in (
            ("", self.catalog.get("macros", {}) or {}),
            ("table ", self.catalog.get("table_macros", {}) or {}),
        ):
            for key, mmeta in sorted(reg.items()):
                params = ", ".join(
                    p + (f" := {d}" if d is not None else "")
                    for p, d in mmeta["params"]
                )
                body = mmeta["body"]
                as_kind = "table " if kind else ""
                schema.append(
                    f"CREATE MACRO {mmeta.get('name', key)}({params})"
                    f" AS {as_kind}{body};"
                )
        mv_names = {t for t, m in matviews}
        deferred_views: list[str] = []
        for vname in self._view_dep_order(
            list(self.catalog.get("views", {}))
        ):
            vmeta = self.catalog["views"][vname]
            blank = blank_literals(vmeta["sql"])
            if deferred_views or any(
                re.search(rf"\b{re.escape(t)}\b", blank, re.I)
                for t in mv_names
            ):
                # a view over a MATVIEW (or over such a view) can only
                # bind after the matview exists — defer past load.sql's
                # matview creation, keeping dependency order
                deferred_views.append(vname)
                continue
            schema.append(
                f"CREATE VIEW {vname} AS {vmeta['sql']};"
            )
            if vmeta.get("comment") is not None:
                schema.append(
                    f"COMMENT ON VIEW {vname} IS"
                    f" {_q(vmeta['comment'])};"
                )
        for iname, imeta in sorted(
            self.catalog.get("indexes", {}).items()
        ):
            load.append(
                f"CREATE INDEX {iname} ON {imeta['table']}"
                f" ({', '.join(imeta['columns'])});"
            )
        for tname, meta in matviews:
            load.append(
                f"CREATE MATERIALIZED VIEW {tname} AS"
                f" {meta['matview_sql']};"
            )
        for vname in deferred_views:
            vmeta = self.catalog["views"][vname]
            load.append(
                f"CREATE VIEW {vname} AS {vmeta['sql']};"
            )
            if vmeta.get("comment") is not None:
                load.append(
                    f"COMMENT ON VIEW {vname} IS"
                    f" {_q(vmeta['comment'])};"
                )
        for fname, lines in (
            ("schema.sql", schema), ("load.sql", load),
        ):
            with open(os.path.join(outdir, fname), "w") as f:
                f.write("\n".join(lines) + ("\n" if lines else ""))
        return Result(effect_rows=len(schema) + len(load))

    def _import_database(self, stmt: str) -> Result:
        m = re.match(
            r"import\s+database\s+'([^']+)'\s*$", stmt, re.I
        )
        if not m:
            raise EngineError(f"cannot parse IMPORT DATABASE: {stmt!r}")
        indir = m.group(1)
        n = 0
        for fname in ("schema.sql", "load.sql"):
            path = os.path.join(indir, fname)
            if not os.path.exists(path):
                if fname == "schema.sql":
                    raise EngineError(
                        f"IMPORT DATABASE: {path} does not exist"
                    )
                continue
            with open(path) as f:
                for s in self._split_sql_script(f.read()):
                    self.execute(s)
                    n += 1
        return Result(effect_rows=n)

    # ---------------------------------------- prepared statements --
    def _prepare(self, stmt: str) -> Result:
        """PREPARE name AS <statement> (DuckDB/Postgres): session-
        scoped statement templates with ``$1``/``?`` positional or
        ``$name`` named parameters, substituted as SQL literals at
        EXECUTE and planned through the FULL engine pipeline — so a
        prepared QUALIFY / PIVOT / BY NAME statement works like any
        other. Re-PREPARE overwrites (DuckDB-probed); state is
        session-only, like DuckDB's."""
        m = re.match(
            r"prepare\s+(\w+)\s+as\s+(.+)$", stmt, re.I | re.S
        )
        if not m:
            raise EngineError(f"cannot parse PREPARE: {stmt!r}")
        if not hasattr(self, "_prepared"):
            self._prepared: dict[str, str] = {}
        self._prepared[m.group(1)] = m.group(2).strip()
        return Result()

    def _execute_prepared(self, stmt: str) -> Result:
        m = re.match(
            r"execute\s+(\w+)\s*(?:\((.*)\))?\s*$", stmt, re.I | re.S
        )
        if not m:
            raise EngineError(f"cannot parse EXECUTE: {stmt!r}")
        name, argtext = m.group(1), m.group(2)
        store = getattr(self, "_prepared", {})
        if name not in store:
            raise EngineError(
                f'prepared statement "{name}" does not exist'
            )
        body = store[name]
        pos_args: list[str] = []
        named_args: dict[str, str] = {}
        if argtext and argtext.strip():
            for item in split_items(argtext):
                nm = re.match(r"^(\w+)\s*:=\s*(.+)$", item.strip(), re.S)
                if nm:
                    named_args[nm.group(1).lower()] = nm.group(2).strip()
                else:
                    pos_args.append(item.strip())
        # substitute on the blanked scan ($/? inside string literals
        # stay untouched); each arg splices verbatim as a SQL literal
        blanked = blank_literals(body)
        out: list[str] = []
        pos = 0
        next_q = 0  # successive ?-parameters

        def take(idx: int) -> str:
            if idx >= len(pos_args):
                raise EngineError(
                    f"prepared statement {name}: parameter"
                    f" ${idx + 1} has no value"
                )
            return pos_args[idx]

        for pm in re.finditer(r"\$(\w+)|\?", blanked):
            out.append(body[pos:pm.start()])
            if pm.group(0) == "?":
                out.append(take(next_q))
                next_q += 1
            elif pm.group(1).isdigit():
                out.append(take(int(pm.group(1)) - 1))
            else:
                key = pm.group(1).lower()
                if key not in named_args:
                    raise EngineError(
                        f"prepared statement {name}: parameter"
                        f" ${pm.group(1)} has no value"
                    )
                out.append(named_args[key])
            pos = pm.end()
        out.append(body[pos:])
        return self.execute("".join(out))

    def _deallocate(self, stmt: str) -> Result:
        m = re.match(
            r"deallocate\s+(?:prepare\s+)?(\w+)\s*$", stmt, re.I
        )
        if not m:
            raise EngineError(f"cannot parse DEALLOCATE: {stmt!r}")
        store = getattr(self, "_prepared", {})
        if m.group(1) not in store:
            raise EngineError(
                f'prepared statement "{m.group(1)}" does not exist'
            )
        del store[m.group(1)]
        return Result()

    # ------------------------------------------------- RETURNING --
    def _split_returning(self, stmt: str) -> tuple[str, str | None]:
        """Strip a top-level trailing RETURNING <projection> from a
        DML statement (DuckDB/Postgres). Returns (dml, projection) —
        projection None when absent."""
        f = find_top_level_keyword(stmt, ("returning",))
        if f is None:
            return stmt, None
        proj = stmt[f[0] + len("returning"):].strip()
        if not proj:
            raise EngineError("RETURNING needs a projection")
        return stmt[: f[0]].rstrip(), proj

    def _returning_result(
        self, df: DataFrame, proj: str, effect_rows: int
    ) -> Result:
        """Shape a RETURNING result: the projection items evaluate
        over the affected-row frame (post-image for INSERT/UPDATE,
        pre-image for DELETE — the caller picks the frame; the
        versioned write makes the pre-image free, old files are
        immutable). Row order is engine scan order, like DuckDB's."""
        items = split_items(proj)
        out = df.selectExpr(*items)
        return Result(
            columns=list(out.columns),
            types=[f.dataType.simpleString() for f in out.schema.fields],
            rows=[tuple(r) for r in out.collect()],
            effect_rows=effect_rows,
        )

    def _comment_on(self, stmt: str) -> Result:
        """COMMENT ON TABLE/VIEW/COLUMN <target> IS '<text>' | NULL
        (DuckDB): driver-side catalog metadata — the comment persists
        in the table/view/column entry and surfaces through the
        system views (andb_tables.comment, andb_columns.comment,
        andb_views.comment — the duckdb_tables()/duckdb_columns()
        analog). IS NULL clears. Strict kinds, like DROP: COMMENT ON
        TABLE refuses a view and vice versa."""
        m = re.match(
            r"comment\s+on\s+(table|view|column)\s+([\w.]+)\s+is\s+"
            r"(null|'(?:[^']|'')*')\s*$",
            stmt, re.I | re.S,
        )
        if not m:
            raise EngineError(f"cannot parse COMMENT ON: {stmt!r}")
        kind, target, val = (
            m.group(1).lower(), m.group(2), m.group(3)
        )
        text = (
            None if val.lower() == "null"
            else val[1:-1].replace("''", "'")
        )
        if kind == "table":
            if target in self.catalog.get("views", {}):
                raise EngineError(
                    f"{target} is a view — use COMMENT ON VIEW"
                )
            self._meta(target)["comment"] = text
        elif kind == "view":
            if target not in self.catalog.get("views", {}):
                if target in self.catalog["tables"]:
                    raise EngineError(
                        f"{target} is a table — use COMMENT ON TABLE"
                    )
                raise EngineError(f"view {target} does not exist")
            self.catalog["views"][target]["comment"] = text
        else:
            tname, _, cname = target.partition(".")
            if not cname:
                raise EngineError(
                    "COMMENT ON COLUMN expects table.column"
                )
            meta = self._meta(tname)
            col = next(
                (
                    c for c in meta.get("columns", [])
                    if c["name"].lower() == cname.lower()
                ),
                None,
            )
            if col is None:
                raise EngineError(
                    f"column {cname} not in {tname}"
                )
            col["comment"] = text
        self._save_catalog()
        self._sysviews_dirty = True
        return Result()

    def _summarize(self, stmt: str) -> Result:
        """SUMMARIZE <table | query> (DuckDB's exploration statement):
        per-column min / max / distinct_count / avg / std / q25 / q50
        / q75 / count / null_percentage, computed in ONE aggregation
        pass over the source (Spark's Expand handles the per-column
        exact distincts; percentiles are Spark's exact sort-based
        percentile()). Declared divergences from DuckDB, by design:
        distinct_count is EXACT where DuckDB's approx_unique is an
        HLL estimate, and the quantiles are exact where DuckDB
        samples — the engine favors exactness since the pass is
        column-parallel either way; stats render typed (doubles),
        not VARCHAR."""
        m = re.match(r"summarize\s+(.*)$", stmt, re.I | re.S)
        if not m or not m.group(1).strip():
            raise EngineError(f"cannot parse SUMMARIZE: {stmt!r}")
        body = m.group(1).strip()
        if re.fullmatch(r"\w+", body):
            df = self.spark.table(body)
        else:
            df = self._plan_engine_select(body)
        fields = df.schema.fields
        aggs = [F.count(F.lit(1)).alias("__total")]
        for i, f in enumerate(fields):
            c = self._safe_col(f.name)
            aggs += [
                F.min(c).cast("string").alias(f"min_{i}"),
                F.max(c).cast("string").alias(f"max_{i}"),
                F.countDistinct(c).alias(f"nd_{i}"),
                F.count(c).alias(f"cnt_{i}"),
            ]
            if isinstance(f.dataType, T.NumericType):
                qc = (
                    f.name if re.fullmatch(r"\w+", f.name)
                    else f"`{f.name}`"
                )
                aggs += [
                    F.avg(c).cast("double").alias(f"avg_{i}"),
                    F.stddev(c).cast("double").alias(f"std_{i}"),
                    F.expr(
                        f"percentile({qc},"
                        " array(0.25, 0.5, 0.75))"
                    ).alias(f"q_{i}"),
                ]
        row = df.agg(*aggs).collect()[0]
        total = row["__total"]
        rows = []
        for i, f in enumerate(fields):
            numeric = isinstance(f.dataType, T.NumericType)
            q = row[f"q_{i}"] if numeric else None
            rows.append((
                f.name,
                f.dataType.simpleString(),
                row[f"min_{i}"],
                row[f"max_{i}"],
                row[f"nd_{i}"],
                row[f"avg_{i}"] if numeric else None,
                row[f"std_{i}"] if numeric else None,
                float(q[0]) if q and q[0] is not None else None,
                float(q[1]) if q and q[1] is not None else None,
                float(q[2]) if q and q[2] is not None else None,
                total,
                (
                    round(100.0 * (total - row[f"cnt_{i}"]) / total, 2)
                    if total else None
                ),
            ))
        return Result(
            columns=[
                "column_name", "column_type", "min", "max",
                "distinct_count", "avg", "std", "q25", "q50",
                "q75", "count", "null_percentage",
            ],
            types=[
                "string", "string", "string", "string", "bigint",
                "double", "double", "double", "double", "double",
                "bigint", "double",
            ],
            rows=rows,
            effect_rows=len(rows),
        )

    def _column_defaults(self, name: str) -> dict[str, F.Column]:
        """Declared DEFAULT expressions by lowercase column name, as
        unevaluated Columns — a default is an arbitrary (usually
        constant-folded) expression, applied wherever a statement
        omits the column (DuckDB semantics: column-list INSERT, BY
        NAME INSERT, the DEFAULT keyword in VALUES / SET, DEFAULT
        VALUES)."""
        meta = self._meta(name)
        return {
            c["name"].lower(): F.expr(c["default"])
            for c in meta.get("columns", [])
            if c.get("default") is not None
            # sequence defaults fill via _seq_default_fill (dense
            # index), not as a Spark expression
            and not self._seq_calls(c["default"])
        }

    def _sub_default_keyword(
        self, name: str, collist: list[str], vtext: str
    ) -> str:
        """Substitute bare ``DEFAULT`` items inside a VALUES list with
        the positional column's declared default expression (NULL for
        a column without one — DuckDB-probed). Pure text: the result
        re-enters the normal VALUES planning, so expression defaults
        fold like any projected expression. Skips entirely (zero
        cost) when the blanked text carries no DEFAULT token."""
        if not re.search(
            r"\bdefault\b", blank_literals(vtext), re.I
        ):
            return vtext
        meta = self._meta(name)
        dflt = {
            c["name"].lower(): c["default"]
            for c in meta.get("columns", [])
            if c.get("default") is not None
        }
        body = vtext.strip()
        if not re.match(r"values\b", body, re.I):
            return vtext
        rows_text = body[6:].strip()
        out_rows = []
        for row in split_items(rows_text):
            row = row.strip()
            if not (row.startswith("(") and row.endswith(")")):
                return vtext  # malformed — let the normal path error
            items = split_items(row[1:-1])
            subbed = []
            for i, item in enumerate(items):
                if re.fullmatch(r"default", item.strip(), re.I):
                    col = (
                        collist[i].lower() if i < len(collist) else ""
                    )
                    subbed.append(
                        f"({dflt[col]})" if col in dflt else "null"
                    )
                else:
                    subbed.append(item)
            out_rows.append("(" + ", ".join(subbed) + ")")
        return "values " + ", ".join(out_rows)

    def _enforce_constraints(self, name: str, df: DataFrame) -> DataFrame:
        """varchar(n) truncation, mirroring the reference's insert path
        (relation.py:122-130). NOT NULL is enforced POST-STAGE from the
        written files' footer null counts (``_stage_version``): a
        pre-write probe would execute the source plan a second time —
        one wasted scan per INSERT...SELECT, and a nondeterministic
        source (rand()) could pass the probe yet write NULLs in the
        actual write."""
        meta = self._meta(name)
        for col in meta["columns"]:
            m = _VARCHAR_RE.match(col["type"])
            if m:
                df = df.withColumn(
                    col["name"],
                    F.substring(F.col(col["name"]), 1, int(m.group(1))),
                )
        return df

    def _check_staged_notnull(self, name: str, new_dir: str) -> None:
        """Reject a staged segment violating NOT NULL, from the parquet
        footers the write just produced (driver-side metadata; null
        counts are written by default). Files whose footer lacks a null
        count fall back to ONE bounded Spark probe over the staged
        segment only — never a re-execution of the source plan. Raises
        after removing the staged dir, so a failed statement leaves no
        trace (same external contract as the old pre-write probe)."""
        meta = self._meta(name)
        nn_cols = [
            c["name"] for c in meta.get("columns", []) if c.get("notnull")
        ]
        if not nn_cols:
            return
        import pyarrow.parquet as pq

        culprit: str | None = None
        unknown: set[str] = set()
        for fname in sorted(os.listdir(new_dir)):
            if not fname.endswith(".parquet") or culprit:
                continue
            md = pq.ParquetFile(os.path.join(new_dir, fname)).metadata
            for rg in range(md.num_row_groups):
                group = md.row_group(rg)
                for ci in range(group.num_columns):
                    col = group.column(ci)
                    if col.path_in_schema not in nn_cols:
                        continue
                    st = col.statistics
                    if st is None or st.null_count is None:
                        unknown.add(col.path_in_schema)
                    elif st.null_count > 0:
                        culprit = col.path_in_schema
        if culprit is None and unknown:
            probe = self.spark.read.parquet(new_dir)
            any_null = None
            for c in sorted(unknown):
                cond = F.col(c).isNull()
                any_null = cond if any_null is None else (any_null | cond)
            bad = probe.filter(any_null).select(*sorted(unknown)).limit(
                1
            ).collect()
            if bad:
                culprit = next(
                    c for c in sorted(unknown) if bad[0][c] is None
                )
        if culprit:
            self._meta(name).pop("_staged", None)
            shutil.rmtree(new_dir, ignore_errors=True)
            raise EngineError(
                f"column {culprit} of {name} violates NOT NULL"
            )

    @staticmethod
    def _keysets(
        meta: dict, changed: set[str] | None = None
    ) -> list[tuple[list[str], bool]]:
        """The table's key sets as (columns, is_pk) in declaration
        order, the PRIMARY KEY first — the order violations report
        in. Only sets including a ``changed`` column (lowercase
        names; None = every column) are kept."""

        def touched(cols) -> bool:
            return changed is None or any(c.lower() in changed for c in cols)

        pk = [c["name"] for c in meta.get("columns", []) if c.get("pk")]
        keysets = [(pk, True)] if pk and touched(pk) else []
        return keysets + [
            (list(uq), False)
            for uq in meta.get("uniques") or []
            if touched(uq)
        ]

    @staticmethod
    def _check_refs(check: str, names) -> set[str]:
        """Which of ``names`` (lowercase column names) a CHECK's text
        may reference — a case-insensitive identifier match outside
        literals. Conservative: words include function names, and an
        unusual (non-word) name falls back to a substring test, so a
        name is never missed, only sometimes over-matched."""
        text = blank_literals(check).lower()
        words = set(re.findall(r"\w+", text))
        return {
            c for c in names
            if (c in words if re.fullmatch(r"\w+", c)
                else c.strip('"`') in text)
        }

    @staticmethod
    def _constraint_error(
        name: str,
        keysets: list[tuple[list[str], bool]],
        dup: int | None,
        hit: int | None,
        check_bad: bool,
    ) -> str | None:
        """The violation a write reports, or None: the one place the
        messages and their precedence live, for the staged probe and
        the driver-side literal decisions alike. ``dup`` is the first
        key set (index into ``keysets``) with a duplicate among the
        written rows; ``hit`` the earliest set declared before it
        whose written keys an existing row already holds;
        ``check_bad`` whether a written row fails a CHECK. A base hit
        outranks an in-batch duplicate, which outranks CHECK."""
        if hit is None and dup is None:
            return f"CHECK constraint failed: {name}" if check_bad else None
        in_batch = hit is None
        ks, is_pk = keysets[dup if in_batch else hit]
        cols = ", ".join(ks)
        if is_pk and in_batch:
            return (
                f"PRIMARY KEY constraint violated on {name}:"
                f" duplicate key ({cols}) in the written rows"
            )
        kind = "primary key" if is_pk else "unique"
        return (
            f"duplicate key violates {kind} constraint on {name}"
            f" ({cols})" + (" in the written rows" if in_batch else "")
        )

    def _check_staged_constraints(
        self,
        name: str,
        new_dir: str,
        base: list[str] | None,
        schema: T.StructType,
        rows: int,
        stats: dict[str, list],
        changed: set[str] | None,
    ) -> None:
        """PRIMARY KEY / UNIQUE / CHECK enforcement at the versioned-
        write choke point, over the STAGED files only (never a
        re-execution of the source plan) — the batch-oriented analog
        of DuckDB's per-row index probe (Constraint Error parity).
        This is the only Spark-side constraint probe. Literal batches
        whose rows the driver already holds are decided without it
        (``_decide_literal_constraints``, same messages and
        precedence).

        Only what the statement could have broken is probed: the
        table's committed version already satisfies every constraint
        (see ``_stage_version``), so a PK/UNIQUE set is probed only
        when it includes a ``changed`` column and a CHECK only when
        its text names one (``_check_refs``). ``changed=None`` means
        every column.

        What remains costs at most two Spark actions:
          1. ONE aggregate over the staged rows: per key set,
             ``count(DISTINCT keys)`` against the count of rows whose
             keys are all non-NULL (a NULL-keyed UNIQUE row is exempt —
             two ``(1, NULL)`` rows coexist; PK columns are NOT NULL,
             checked from the footers before this), plus every CHECK
             folded into one OR (NULL passes, only FALSE violates). A
             staged segment of at most one row skips the duplicate
             part.
          2. ONE union of per-key-set left-semi joins against the
             manifest prefix the segment extends (appends: the live
             table; copy-on-write DML: the untouched files, so moving
             a key onto an existing row is caught while rewriting a
             row in place is not), ``limit(1)``. Base files are first
             pruned by intersecting the staged footer min/max (the
             zone maps the write already produced) with the per-
             segment zones, so a key-disjoint append reads zero base
             files.
        Violations report as ``_constraint_error`` orders them. A
        violation removes the staged dir and raises before anything
        references it, the same crash contract as
        ``_check_staged_notnull``."""
        meta = self._meta(name)
        if not rows:
            return
        low = None if changed is None else {c.lower() for c in changed}
        keysets = self._keysets(meta, low)
        checks = [
            c for c in meta.get("checks") or []
            if low is None or self._check_refs(c, low)
        ]
        if not keysets and not checks:
            return

        def keyed(ks: list[str]):
            cond = F.lit(True)
            for k in ks:
                cond = cond & F.col(k).isNotNull()
            return cond

        # one schema-pinned reader over the staged files: the segment
        # was just written from ``schema``, so re-inferring it would
        # cost a listing + footer-read job
        staged = self.spark.read.schema(schema).parquet(new_dir)
        aggs = []
        if rows > 1:
            for i, (ks, _) in enumerate(keysets):
                aggs += [
                    F.count_distinct(*[F.col(k) for k in ks]).alias(f"_d{i}"),
                    F.count(F.when(keyed(ks), 1)).alias(f"_n{i}"),
                ]
        if checks:
            bad = " or ".join(f"not coalesce(({c}), true)" for c in checks)
            aggs.append(F.count(F.when(F.expr(bad), 1)).alias("_bad"))
        got = staged.agg(*aggs).collect()[0] if aggs else None
        dup = next(
            (
                i for i in range(len(keysets))
                if rows > 1 and got[f"_d{i}"] < got[f"_n{i}"]
            ),
            None,
        )
        # base collisions of key sets declared BEFORE the first staged
        # violation take precedence over it
        probes = []
        for i, (ks, is_pk) in enumerate(keysets[:dup] if base else []):
            # a key column without footer bounds simply prunes nothing
            bounds = {
                k: tuple(stats[k]) for k in ks
                if k in stats and None not in stats[k]
            }
            entries = self._zone_entries(name, base, [bounds])
            if is_pk:
                self.session_vars["andb.last_pk_probe_files"] = len(
                    entries
                )
            if not entries:
                continue
            existing = self._read_files(
                name,
                [os.path.join(self.warehouse, name, e) for e in entries],
            )
            probes.append(
                staged.filter(keyed(ks)).select(*ks)
                .join(
                    existing.filter(keyed(ks)).select(*ks),
                    ks, "left_semi",
                )
                .select(F.lit(i).alias("_i"))
            )
        hit = None
        if probes:
            # union partitions keep branch order, so the first row
            # limit(1) returns belongs to the earliest colliding set
            row = functools.reduce(DataFrame.union, probes).limit(
                1
            ).collect()
            hit = row[0]["_i"] if row else None
        err = self._constraint_error(
            name, keysets, dup, hit, bool(checks) and got["_bad"] > 0
        )
        if err:
            meta.pop("_staged", None)
            shutil.rmtree(new_dir, ignore_errors=True)
            raise EngineError(err)

    def _decide_literal_constraints(self, name: str, table, base_hit) -> None:
        """Decide, on the driver, every constraint a batch of NEW rows
        held in a typed pyarrow ``table`` (``_literal_table``) can
        break — the driver-side twin of ``_stage_version``'s NOT NULL
        check plus ``_check_staged_constraints``, with the same
        messages and precedence (``_constraint_error``):
          - NOT NULL from the typed columns, naming the column the
            footer check names (the last declared one holding a NULL);
          - in-batch PK/UNIQUE duplicates on the typed Python tuples
            (a key with a NULL component is exempt);
          - base collisions: ``base_hit(keysets, keys)`` returns the
            index of the earliest of ``keysets`` (with the batch's key
            tuples per set) whose keys an existing row holds — asked
            only for the sets declared before the first in-batch
            duplicate, as the staged probe asks;
          - CHECK: one filter over the batch as a SQL VALUES relation
            (a LocalRelation: no Spark job), asked only when no key
            violation outranks it.
        Raises EngineError on a violation."""
        if not table.num_rows:
            return
        meta = self._meta(name)
        notnull = {c["name"] for c in meta["columns"] if c.get("notnull")}
        culprit = None
        for col in table.schema.names:
            if col in notnull and table.column(col).null_count:
                culprit = col
        if culprit:
            raise EngineError(f"column {culprit} of {name} violates NOT NULL")
        keysets = self._keysets(meta)
        checks = meta.get("checks") or []
        if not keysets and not checks:
            return
        keys = [self._key_tuples(table, ks) for ks, _ in keysets]
        dup = next(
            (i for i, ts in enumerate(keys) if self._has_dup(ts)), None
        )
        asked = keysets[:dup]
        hit = base_hit(asked, keys[: len(asked)]) if asked else None
        bad = False
        if checks and hit is None and dup is None:
            cond = " or ".join(f"not coalesce(({c}), true)" for c in checks)
            bad = bool(
                self._values_relation(self._schema(name), table)
                .filter(cond).limit(1).collect()
            )
        err = self._constraint_error(name, keysets, dup, hit, bad)
        if err:
            raise EngineError(err)

    @staticmethod
    def _key_tuples(table, ks: list[str]) -> list[tuple | None]:
        """Per row of a typed pyarrow table, its key over ``ks``
        (matched case-insensitively, as Spark resolves them), or None
        when a component is NULL — such a key never conflicts."""
        names = {n.lower(): n for n in table.schema.names}
        cols = [table.column(names[k.lower()]).to_pylist() for k in ks]
        return [
            None if any(v is None for v in t) else t for t in zip(*cols)
        ]

    @staticmethod
    def _take(table, rows: list[int]):
        """The given rows of a pyarrow table, in order (an empty list
        included, which ``take`` cannot type by itself)."""
        import pyarrow as pa

        return table.take(pa.array(rows, type=pa.int64()))

    @staticmethod
    def _has_dup(keys: list[tuple | None]) -> bool:
        present = [k for k in keys if k is not None]
        return len(set(present)) < len(present)

    def _key_holders(
        self, name: str, entries: list[str], keysets, keys,
        rows_of: int | None = None,
    ) -> tuple[list[set[tuple]], dict[tuple, list]]:
        """Per key set (columns, is_pk) with its batch key tuples
        ``keys``, which non-NULL keys existing rows of ``entries``
        hold: ONE collect over a union of reads of the files whose
        zone maps overlap each set's key bounds, the match pushed down
        to the scan (no job when every file is pruned). Records the
        PRIMARY KEY's surviving file count in
        ``andb.last_pk_probe_files``, as the staged probe does.

        Returns (holders, rows): with ``rows_of`` (a key set's index)
        the same collect also returns that set's holders as rows,
        ``rows[key]`` listing (``_metadata.file_path``, row index,
        pre-image row) — what a deletion-vector upsert replaces."""
        holders: list[set[tuple]] = [set() for _ in keysets]
        held_rows: dict[tuple, list] = {}
        distinct: list[list[tuple]] = []
        scans = []
        schema = self._schema(name)
        by_lower = {f_.name.lower(): f_.name for f_ in schema}
        row_type = _sql_type(schema)
        row_cols = ", ".join(_quote_ident(f_.name) for f_ in schema)
        for i, ((ks, is_pk), tuples) in enumerate(zip(keysets, keys)):
            cols = [by_lower[k.lower()] for k in ks]
            uniq = list(dict.fromkeys(t for t in tuples if t is not None))
            distinct.append(uniq)
            bounds = {}
            for ci, c in enumerate(cols):
                vals = [t[ci] for t in uniq]
                if vals and not isinstance(vals[0], bool):  # no bool zones
                    lo, hi = min(vals), max(vals)
                    if isinstance(lo, datetime.date):  # zones hold ISO text
                        lo, hi = lo.isoformat(), hi.isoformat()
                    bounds[c] = (lo, hi)
            files = self._zone_entries(name, entries, [bounds]) if uniq else []
            if is_pk:
                self.session_vars["andb.last_pk_probe_files"] = len(files)
            if not files:
                continue
            conds = [
                " AND ".join(
                    f"{_quote_ident(c)} = {_sql_lit(v)}"
                    for c, v in zip(cols, t)
                )
                for t in uniq
            ]
            if len(cols) == 1:
                lits = ", ".join(_sql_lit(t[0]) for t in uniq)
                match = f"{_quote_ident(cols[0])} IN ({lits})"
            else:
                match = " OR ".join(f"({c})" for c in conds)
            which = " ".join(f"WHEN {c} THEN {j}" for j, c in enumerate(conds))
            extra = []
            if rows_of is not None:
                extra = (
                    ["__file AS _f", "__pos AS _p",
                     f"struct({row_cols}) AS _r"]
                    if i == rows_of
                    else ["CAST(NULL AS STRING) AS _f",
                          "CAST(NULL AS BIGINT) AS _p",
                          f"CAST(NULL AS {row_type}) AS _r"]
                )
            exact = [
                {
                    c: (v.isoformat(),) * 2
                    if isinstance(v, datetime.date) else (v, v)
                    for c, v in zip(cols, t)
                }
                for t in uniq
            ]
            scans.append(
                self._read_files(
                    name,
                    [os.path.join(self.warehouse, name, e) for e in files],
                    positions=i == rows_of, dnf=exact,
                )
                .filter(match)
                .selectExpr(f"{i} AS _i", f"CASE {which} END AS _j", *extra)
            )
        if scans:
            for r in functools.reduce(DataFrame.union, scans).collect():
                key = distinct[r["_i"]][r["_j"]]
                holders[r["_i"]].add(key)
                if r["_i"] == rows_of:
                    held_rows.setdefault(key, []).append(
                        (r["_f"], r["_p"], r["_r"])
                    )
        return holders, held_rows

    def _values_relation(
        self, schema: T.StructType, table, alias: str = "_v"
    ) -> DataFrame:
        """The rows of a driver-side pyarrow ``table`` as a SQL VALUES
        relation cast to ``schema`` (same column order), named
        ``alias``. Spark folds it into a LocalRelation and evaluates a
        filter/limit/projection/collect over it on the driver, with no
        job (an aggregate over it, or any action over a
        ``createDataFrame`` frame, submits one)."""
        body = ", ".join(
            "(" + ", ".join(
                f"CAST({_sql_lit(v)} AS {_sql_type(f_.dataType)})"
                for v, f_ in zip(row, schema.fields)
            ) + ")"
            for row in zip(*(c.to_pylist() for c in table.columns))
        )
        names = ", ".join(_quote_ident(f_.name) for f_ in schema.fields)
        return self.spark.sql(
            f"SELECT * FROM VALUES {body} AS {_quote_ident(alias)}({names})"
        )

    # ---------------------------------------------------------- execute --
    _SYSVIEW_RE = re.compile(
        r"\bandb_(tables|columns|indexes|segments|views|macros)\b", re.I
    )

    # Statements that plan a query without running it: plain EXPLAIN,
    # DESCRIBE, view and macro DDL, PREPARE. They run the same
    # pre-passes execution runs, so their sequence reservations are
    # restored when they end (DuckDB: EXPLAIN does not advance a
    # sequence; EXPLAIN ANALYZE executes and does).
    _PLANS_ONLY_RE = re.compile(
        r"(?:explain\b(?!\s+analyze\b)|desc(?:ribe)?\s"
        r"|create\s+(?:or\s+replace\s+)?(?:view|macro)\b"
        r"|drop\s+view\b|prepare\b)",
        re.I,
    )

    def execute(self, sql: str) -> Result:
        """One statement in, one Result out (entrance.py:16-55 shape).

        Statement-scoped cache hygiene (ADVICE r3/r4): any persisted
        frame or broadcast an internal path registers with the caching
        registry during this statement is released before returning —
        results are fully materialized into the Result, so nothing the
        statement pinned can outlive it. Scoped (not global) release:
        entries registered BEFORE the statement — a streaming sink's
        batch state, a library caller's own operator composition — stay
        untouched, and nested execute() calls release only their own
        suffix. The helper temp views the statement bound
        (``_stmt_views``) drop at the same point, by the same rule, and
        its sequence reservations settle there: persisted, or restored
        when the statement only plans (``_PLANS_ONLY_RE``)."""
        from andb_spark.caching import cache_mark, release_caches_since

        t0 = time.perf_counter()
        cmark = cache_mark()
        vmark = len(self._stmt_views)
        smark = len(self._seq_reserved)
        stmt = sql.strip().rstrip(";").strip()
        if getattr(self, "_sysviews_dirty", False) and self._SYSVIEW_RE.search(
            stmt
        ):
            self._refresh_system_views()
        head = stmt.split(None, 2)[0].upper() if stmt else ""
        try:
            # Verbatim backslash literals normalize BEFORE macro
            # expansion (the splice normalizes each pristine body
            # itself, so neither side ever normalizes twice);
            # view/macro DDL and PREPARE store pristine SQL and
            # normalize at replan / EXECUTE re-entry instead.
            keep_pristine = bool(re.match(
                r"(?:create\s+(?:or\s+replace\s+)?"
                r"(?:materialized\s+view|view|macro)|prepare)\b",
                stmt, re.I,
            ))
            if not keep_pristine:
                stmt = dialect.escape_backslash_literals(stmt)
            if (
                self.catalog.get("macros")
                or self.catalog.get("table_macros")
            ) and (
                head in (
                    "SELECT", "WITH", "VALUES", "TABLE", "FROM",
                    "INSERT", "UPDATE", "DELETE", "MERGE", "COPY",
                    "EXPLAIN", "DESCRIBE", "DESC", "SHOW",
                )
                or (head == "CREATE" and re.match(
                    r"create\s+(?:or\s+replace\s+)?table\b", stmt, re.I
                ))
            ):
                # Macro calls expand textually BEFORE view binding and
                # dispatch, so scalar macros work in ANY expression
                # position (DML SET/WHERE, VALUES rows, COPY sources)
                # and table macros in any FROM list — and a view named
                # only inside a macro body still binds below. CREATE
                # VIEW / CREATE MATERIALIZED VIEW / CREATE MACRO
                # definitions do NOT expand here: their stored SQL
                # stays pristine so macro redefinitions LATE-BIND
                # (their replan paths expand at reference time).
                stmt = self._expand_macros(stmt)
            # DuckDB list/struct expression dialect, normalized once
            # for EVERY statement class (INSERT VALUES, UPDATE SET,
            # SELECT, CTAS bodies...) — exactly once: a second run
            # is not a no-op. Stored bodies normalize at replan
            # (_normalize_stored_sql).
            if not keep_pristine:
                stmt = dialect.normalize(stmt)
            # Logical views resolve LAZILY at reference time: any
            # statement mentioning a catalog view (re)binds it — its
            # defining SQL re-plans through the full pipeline over the
            # base tables' CURRENT temp views, so a view is always
            # fresh after base DML. View DDL binds TOLERANTLY
            # (review r11 #1): a view broken by a base-table drop must
            # stay droppable and OR-REPLACE-able — the DDL paths do
            # their own validation — where a read statement must raise.
            self._bind_referenced_views(
                stmt,
                tolerant=bool(re.match(
                    r"(?:create\s+(?:or\s+replace\s+)?|drop\s+)view\b",
                    stmt, re.I,
                )),
            )
            # CREATE TEMP[ORARY] TABLE (DuckDB/Postgres): normalize
            # the keyword away and flag the created table as
            # SESSION-SCOPED — excluded from every catalog save, its
            # data dirs removed at close(). Declared divergence:
            # DuckDB lets a temp table SHADOW a permanent one; the
            # engine keeps its single strict namespace and refuses
            # the collision loudly instead.
            temp_name: str | None = None
            tm_ = re.match(
                r"create\s+(or\s+replace\s+)?temp(?:orary)?\s+"
                r"table\s+(\w+)",
                stmt, re.I,
            )
            if tm_:
                temp_name = tm_.group(2)
                prior = self.catalog["tables"].get(temp_name)
                if prior is not None and not prior.get("temp"):
                    # the OR REPLACE spelling must NOT bypass the
                    # refusal (ADVICE r11): DuckDB's temp schema
                    # SHADOWS the permanent table non-destructively,
                    # so silently replacing here would let close()
                    # delete durable data a ported script never asked
                    # to drop
                    raise EngineError(
                        f"table {temp_name} already exists as a"
                        " permanent table — the engine keeps one"
                        " strict namespace (no temp shadowing); DROP"
                        " it first to reuse the name as a temp table"
                    )
                stmt = re.sub(
                    r"^create\s+(or\s+replace\s+)?temp(?:orary)?\s+",
                    lambda m_: "create " + (m_.group(1) or ""),
                    stmt, count=1, flags=re.I,
                )
                # the create's own commit save must already exclude
                # the table — a crash between that save and the flag
                # below must not leak it as permanent
                self._pending_temp = temp_name
            orm = re.match(
                r"create\s+or\s+replace\s+table\s+(\w+)\b(\s+as\b)?",
                stmt, re.I,
            )
            replace_as = False
            if orm:
                # CREATE OR REPLACE TABLE (DuckDB/Spark spelling).
                # The AS <query> form over an EXISTING table is an
                # atomic versioned swap (one commit; the old manifest
                # stays live while the new segment writes, so a
                # self-referencing source reads the pre-replace state,
                # exactly DuckDB's behavior — _replace_table_as also
                # validates the query BEFORE any mutation). The
                # column-list / CLONE forms VALIDATE the replacement
                # first (r9 review #1: a bad column type or missing
                # clone source must not destroy the table), then
                # drop-then-create: two versioned commits — inside an
                # explicit transaction both roll back together.
                exists = orm.group(1) in self.catalog["tables"]
                replace_as = bool(exists and orm.group(2))
                if not replace_as:
                    plain = re.sub(
                        r"^create\s+or\s+replace\s+table", "create table",
                        stmt, flags=re.I,
                    )
                    if exists:
                        cl = re.match(
                            r"create\s+table\s+\w+\s+clone\s+(\w+)",
                            plain, re.I,
                        )
                        colm = re.match(
                            r"create\s+table\s+\w+\s*\((.*)\)\s*$",
                            plain, re.I | re.S,
                        )
                        if cl:
                            if cl.group(1) not in self.catalog["tables"]:
                                raise EngineError(
                                    f"CLONE source {cl.group(1)} does"
                                    " not exist"
                                )
                        elif colm:
                            self._parse_column_defs(colm.group(1))
                        elif not re.match(
                            r"create\s+table\s+\w+\s+as\s+select\b",
                            plain, re.I,
                        ):
                            raise EngineError(
                                "cannot parse CREATE OR REPLACE TABLE:"
                                f" {stmt!r}"
                            )
                        self._drop_table(f"drop table {orm.group(1)}")
                    stmt = plain
            if replace_as:
                r = self._replace_table_as(
                    orm.group(1), stmt[orm.end(2):]
                )
            elif head == "CREATE" and re.match(
                r"create\s+table\s+\w+\s+as\b\s*"
                r"(?:\(|select\b|with\b|values\b|table\b"
                r"|pivot\b|unpivot\b)",
                stmt, re.I,
            ):
                r = self._create_table_as(stmt)
            elif head == "CREATE" and re.match(
                r"create\s+materialized\s+view", stmt, re.I
            ):
                r = self._create_matview(stmt)
            elif head == "REFRESH":
                r = self._refresh_matview(stmt)
            elif head == "DROP" and re.match(
                r"drop\s+materialized\s+view\s+", stmt, re.I
            ):
                r = self._drop_table(
                    re.sub(r"materialized\s+view", "table", stmt, flags=re.I)
                )
            elif head == "CREATE" and re.match(
                r"create\s+(?:or\s+replace\s+)?view\b", stmt, re.I
            ):
                r = self._create_view(stmt)
            elif head == "DROP" and re.match(r"drop\s+view\b", stmt, re.I):
                r = self._drop_view(stmt)
            elif head == "CREATE" and re.match(
                r"create\s+(?:or\s+replace\s+)?macro\b", stmt, re.I
            ):
                r = self._create_macro(stmt)
            elif head == "DROP" and re.match(r"drop\s+macro\b", stmt, re.I):
                r = self._drop_macro(stmt)
            elif head == "CREATE" and re.match(
                r"create\s+table\s+\w+\s+clone\s+\w+", stmt, re.I
            ):
                r = self._clone_table(stmt)
            elif head == "CREATE" and re.match(r"create\s+table", stmt, re.I):
                r = self._create_table(stmt)
            elif head == "ALTER":
                r = self._alter_table(stmt)
            elif head == "CREATE" and re.match(r"create\s+index", stmt, re.I):
                r = self._create_index(stmt)
            elif head == "DROP" and re.match(r"drop\s+table", stmt, re.I):
                r = self._drop_table(stmt)
            elif head == "DROP" and re.match(r"drop\s+index", stmt, re.I):
                r = self._drop_index(stmt)
            elif head == "TRUNCATE":
                r = self._truncate(stmt)
            elif head == "RESTORE":
                r = self._restore(stmt)
            elif head == "INSERT" and re.match(
                r"insert\s+overwrite\s+", stmt, re.I
            ):
                r = self._insert_overwrite(stmt)
            elif head == "INSERT":
                r = self._insert(stmt)
            elif head == "MERGE":
                r = self._merge(stmt)
            elif head == "DELETE":
                r = self._delete(stmt)
            elif head == "UPDATE":
                r = self._update(stmt)
            elif head == "EXPLAIN":
                r = self._explain(stmt)
            elif head == "COPY":
                r = self._copy(stmt)
            elif head == "CREATE" and re.match(
                r"create\s+(?:or\s+replace\s+)?sequence\b", stmt, re.I
            ):
                r = self._create_sequence(stmt)
            elif head == "DROP" and re.match(
                r"drop\s+sequence\b", stmt, re.I
            ):
                r = self._drop_sequence(stmt)
            elif head == "EXPORT":
                r = self._export_database(stmt)
            elif head == "IMPORT":
                r = self._import_database(stmt)
            elif head == "PREPARE":
                r = self._prepare(stmt)
            elif head == "EXECUTE":
                r = self._execute_prepared(stmt)
            elif head == "DEALLOCATE":
                r = self._deallocate(stmt)
            elif head == "COMMENT":
                r = self._comment_on(stmt)
            elif head == "SUMMARIZE":
                r = self._summarize(stmt)
            elif head == "CHECKPOINT":
                self.spark.catalog.clearCache()
                r = Result()
            elif head == "SET":
                r = self._set_var(stmt)
            elif head == "RESET":
                # RESET <var> (DuckDB/Postgres): back to the default —
                # the engine's defaults are "unset"
                rm_ = re.match(r"reset\s+([\w.]+)\s*$", stmt, re.I)
                if not rm_:
                    raise EngineError(f"cannot parse RESET: {stmt!r}")
                self.session_vars.pop(rm_.group(1), None)
                r = Result()
            elif head == "ANALYZE":
                r = self._analyze(stmt)
            elif head == "SHOW" and re.match(r"show\s+stats\s+for\s+\w+", stmt, re.I):
                r = self._show_stats(stmt)
            elif head == "SHOW" and re.match(r"show\s+var\s+", stmt, re.I):
                r = self._show_var(stmt)
            elif head == "SHOW" and re.match(
                r"show\s+history\s+for\s+\w+", stmt, re.I
            ):
                r = self._show_history(stmt)
            elif head == "SHOW" and re.match(r"show\s+tables\s*$", stmt, re.I):
                r = self._show_tables()
            elif head in ("DESCRIBE", "DESC") and re.match(
                r"desc(?:ribe)?\s+"
                r"(?:\w+\s*$"
                r"|(?:select|with|values|from|pivot|unpivot)\b)",
                stmt, re.I | re.S,
            ):
                # bare DESCRIBE <name>, plus DESCRIBE <query> (DuckDB
                # — the body plans through the FULL engine pipeline,
                # so engine-only SQL describes too); other multi-word
                # Spark variants (DESCRIBE EXTENDED/FUNCTION) fall
                # through to spark.sql below
                r = self._describe(stmt)
            elif head == "VACUUM":
                r = self._vacuum(stmt)
            elif head == "OPTIMIZE":
                r = self._optimize(stmt)
            elif head in ("BEGIN", "START"):
                r = self._begin()
            elif head == "COMMIT":
                r = self._commit()
            elif head in ("ROLLBACK", "ABORT"):
                r = self._rollback()
            elif head in (
                "SELECT", "WITH", "VALUES", "TABLE", "SHOW",
                "DESCRIBE", "DESC", "FROM", "PIVOT", "UNPIVOT",
            ):
                r = self._select(stmt)
            else:
                raise EngineError(f"unsupported statement: {head or '<empty>'}")
            if temp_name and temp_name in self.catalog["tables"]:
                self.catalog["tables"][temp_name]["temp"] = True
            if temp_name:
                self._pending_temp = None
        except EngineError:
            raise
        except Exception as e:  # surface Spark analysis errors uniformly
            msg = str(e)
            if "DATATYPE_MISMATCH" in msg and '"STRING"' in msg and (
                "try_element_at" in msg
                or (
                    'Cannot resolve "size(' in msg
                    and "try_cast(greatest(" in stmt
                )  # the slice lowering's distinctive clamp text
            ):
                # the collections rewrite lowered xs[i] for a
                # STRING-typed column (a text rewrite cannot see
                # column types) — name the boundary instead of the
                # raw Spark error (r12 verdict #6)
                raise EngineError(
                    "indexing/slicing a string-typed COLUMN with"
                    " [..] is not supported (a text rewrite cannot"
                    " see column types) — spell it substr(col, i, n)"
                ) from e
            raise EngineError(msg) from e
        finally:
            # a FAILED temp create must not leave the pending marker
            # suppressing saves of a later permanent table of the
            # same name
            self._pending_temp = None
            self._release_views(vmark)
            self._settle_sequences(
                smark, keep=not self._PLANS_ONLY_RE.match(stmt)
            )
            release_caches_since(cmark)
        r.elapsed = time.perf_counter() - t0
        return r

    # ----------------------------------------------------- transactions --
    def _begin(self) -> Result:
        """BEGIN: snapshot the catalog. Data needs no snapshot — every
        write lands in a fresh version dir, so the snapshot's pointers
        keep addressing immutable data (the reference's analog: xid
        allocation + undo chain, andb/entrance.py:25-51)."""
        if self._txn is not None:
            raise EngineError("transaction already in progress")
        self._txn = {
            "catalog": json.loads(json.dumps(self.catalog)),
            "created": [],      # version dirs written since BEGIN
            "superseded": [],   # version dirs replaced since BEGIN
        }
        # Durable undo record: statements inside the transaction save
        # the catalog as they commit (their staged writes must survive
        # their own crash windows), so abort-on-crash needs the
        # pre-transaction catalog ON DISK, not just in memory — see
        # __init__'s recovery path.
        tmp = self._txn_snap_path + ".tmp"
        with open(tmp, "w") as f:
            # The owning pid lets a SECOND engine opened on the same
            # warehouse distinguish a crashed transaction (owner dead
            # → roll back) from a LIVE concurrent one (owner alive →
            # leave its durable state alone) — see __init__'s recovery.
            json.dump(
                {"__txn_pid": os.getpid(), "catalog": self._txn["catalog"]},
                f,
                indent=1,
            )
        os.replace(tmp, self._txn_snap_path)
        return Result()

    def _commit(self) -> Result:
        """COMMIT: superseded segments become unreachable — delete
        (and drop their zone-map stats from the catalog)."""
        if self._txn is None:
            raise EngineError("no transaction in progress")
        # THE commit point across crashes: the durable catalog already
        # holds every statement's state; deleting the undo record makes
        # it final (a crash after this line replays as committed, before
        # it as rolled back). Cleanup below is non-semantic.
        if os.path.exists(self._txn_snap_path):
            os.remove(self._txn_snap_path)
        stats_dirty = False
        # DROP-then-reCREATE guard: DROP TABLE inside the txn queued the
        # whole table base dir; if a table of that name exists again at
        # COMMIT, its new segments live under the same dir — deleting it
        # would destroy committed data. Skip it (the old incarnation's
        # version dirs become VACUUM-able orphans instead).
        live_bases = {
            os.path.join(self.warehouse, t) for t in self.catalog["tables"]
        }
        for d in self._txn["superseded"]:
            if d in live_bases:
                continue
            self._drop_paths([d])
            tname = os.path.basename(os.path.dirname(d))
            if tname in self.catalog["tables"] and self._stats_of(
                tname
            ).pop(os.path.basename(d), None) is not None:
                self._stats_dirty.add(tname)
                stats_dirty = True
        pending = list(dict.fromkeys(self._txn.get("refresh_pending", [])))
        self._txn = None
        if stats_dirty:
            self._save_catalog()
        # Deferred autorefresh: the transaction's appends are durable
        # now, so dependent matviews catch up (each refresh is its own
        # committed versioned write; a crash between them leaves a view
        # one REFRESH behind, never wrong).
        for base in pending:
            if base in self.catalog["tables"]:
                self._maybe_auto_refresh(base)
        return Result()

    def _rollback(self) -> Result:
        """ROLLBACK/ABORT: restore the catalog snapshot and delete every
        version written since BEGIN. Mirrors the abort semantics the
        reference asserts in its e2e suite (tests/unit/
        test_execution.py:64-130: post-abort heap contents equal the
        pre-transaction rows)."""
        if self._txn is None:
            raise EngineError("no transaction in progress")
        snapshot = self._txn["catalog"]
        created = self._txn["created"]
        current_tables = set(self.catalog["tables"])
        self.catalog = snapshot
        # zone-map entries harvested for the transaction's version dirs
        # die with those dirs, or the sidecar accumulates one orphan
        # per rolled-back statement forever (the dirs are gone, so a
        # later VACUUM could never find them to clean)
        for d in created:
            tname = os.path.basename(os.path.dirname(d))
            if tname in self.catalog["tables"] and self._stats_of(
                tname
            ).pop(os.path.basename(d), None) is not None:
                self._stats_dirty.add(tname)
        self._save_catalog()
        self._drop_paths(created)  # segment dirs and DV sidecars
        # re-point views: restore tables from the snapshot, drop views of
        # tables created inside the transaction
        for name in current_tables - set(snapshot["tables"]):
            self.spark.catalog.dropTempView(name)
        for name in snapshot["tables"]:
            if os.path.exists(self._table_dir(name)):
                self._view(name)
        self._txn = None
        # undo record last: a crash mid-rollback re-runs the (idempotent)
        # snapshot restore at next startup
        if os.path.exists(self._txn_snap_path):
            os.remove(self._txn_snap_path)
        return Result()

    # --------------------------------------------- vars / stats / ANALYZE --
    # Every settable andb.* session variable: name -> (accepts the
    # value?, what it must be). SET checks the value here, so a bad one
    # fails the SET instead of every later statement that reads it.
    _ON_OFF = (lambda v: v in ("on", "off"), "on or off")
    _UINT = (lambda v: v.isdecimal(), "a non-negative integer")
    _POS_INT = (lambda v: v.isdecimal() and int(v) > 0, "a positive integer")
    _SETTINGS = {
        "andb.ann_mode": (lambda v: v in _ANN_MODES, f"one of {_ANN_MODES}"),
        "andb.matview_autorefresh": _ON_OFF,
        "andb.zone_prune": _ON_OFF,
        # small-file count threshold; 0 disables
        "andb.auto_compact": _UINT,
        "andb.max_result_rows": _POS_INT,
        # 0 disables the staged-write output sizing
        "andb.stage_sizing_max_bytes": _UINT,
        "andb.stage_target_file_bytes": _UINT,
        "andb.range_bucket_seconds": _POS_INT,
    }

    def _set_var(self, stmt: str) -> Result:
        m = re.match(r"set\s+([\w.]+)\s*=\s*'?([\w.\-]+)'?\s*$", stmt, re.I)
        if not m:
            raise EngineError(f"cannot parse SET statement: {stmt}")
        name, value = m.group(1), m.group(2)
        if name.lower().startswith("andb."):
            if name not in self._SETTINGS:
                raise EngineError(f"unknown setting {name}")
            ok, must_be = self._SETTINGS[name]
            if not ok(value):
                raise EngineError(f"{name} must be {must_be} (got {value})")
        self.session_vars[name] = value
        return Result()

    def _show_var(self, stmt: str) -> Result:
        name = re.match(r"show\s+var\s+([\w.]+)\s*$", stmt, re.I).group(1)
        return Result(
            columns=["name", "value"],
            types=["string", "string"],
            rows=[(name, self.session_vars.get(name))],
            effect_rows=1,
        )

    def _analyze(self, stmt: str) -> Result:
        """ANALYZE <table>: one-scan statistics into the catalog (the
        content of the reference's empty statistic stubs — plans/stats).
        Works on managed tables and attached fixture views alike."""
        m = re.match(r"analyze\s+(?:table\s+)?(\w+)\s*$", stmt, re.I)
        if not m:
            raise EngineError(f"cannot parse ANALYZE statement: {stmt}")
        name = m.group(1)
        from andb_spark.plans.stats import collect_stats

        stats = collect_stats(self.spark.table(name))
        self.catalog["stats"][name] = stats
        self._save_catalog()
        return Result(
            columns=["table", "rows", "n_columns"],
            types=["string", "bigint", "int"],
            rows=[(name, stats["rows"], len(stats["columns"]))],
            effect_rows=1,
        )

    def _show_stats(self, stmt: str) -> Result:
        name = re.match(r"show\s+stats\s+for\s+(\w+)\s*$", stmt, re.I).group(1)
        stats = self.catalog["stats"].get(name)
        if stats is None:
            raise EngineError(f"no statistics for {name} — run ANALYZE {name}")
        rows = [
            (
                c,
                stats["rows"],
                s["nulls"],
                s["ndv"],
                str(s.get("min")),
                str(s.get("max")),
            )
            for c, s in stats["columns"].items()
        ]
        return Result(
            columns=["column", "table_rows", "nulls", "ndv", "min", "max"],
            types=["string", "bigint", "bigint", "bigint", "string", "string"],
            rows=rows,
            effect_rows=len(rows),
        )

    def _show_tables(self) -> Result:
        """SHOW TABLES — the managed catalog as a result set (sugar over
        the andb_tables system view for shell users)."""
        rows = [
            (
                name,
                len(meta.get("columns", [])),
                meta.get("vnum", 1),
                bool(meta.get("matview_sql")),
            )
            for name, meta in sorted(self.catalog["tables"].items())
        ]
        return Result(
            columns=["table_name", "n_columns", "version", "is_matview"],
            types=["string", "int", "int", "boolean"],
            rows=rows,
            effect_rows=len(rows),
        )

    def _describe(self, stmt: str) -> Result:
        """DESCRIBE/DESC <table> — declared schema of a managed table,
        or the inferred Spark schema of an attached fixture view.
        DESCRIBE <query> (DuckDB): the analyzed schema of any
        statement the engine executes — planned through the full
        pipeline, so QUALIFY / DISTINCT ON / BY NAME unions /
        COLUMNS() describe like plain SQL. The query never runs; the
        pre-passes its plan needs do, as under EXPLAIN."""
        qm = re.match(
            r"desc(?:ribe)?\s+"
            r"((?:select|with|values|from|pivot|unpivot)\b.*)$",
            stmt, re.I | re.S,
        )
        if qm:
            df = self._plan_engine_select(qm.group(1))
            rows = [
                (f.name, f.dataType.simpleString(), f.nullable)
                for f in df.schema.fields
            ]
            return Result(
                columns=["column_name", "type", "nullable"],
                types=["string", "string", "boolean"],
                rows=rows,
                effect_rows=len(rows),
            )
        m = re.match(r"desc(?:ribe)?\s+(\w+)\s*$", stmt, re.I)
        if not m:
            raise EngineError(f"cannot parse DESCRIBE: {stmt!r}")
        name = m.group(1)
        meta = self.catalog["tables"].get(name)
        if meta and meta.get("columns"):
            rows = [
                (c["name"], c["type"], not c.get("notnull"))
                for c in meta["columns"]
            ]
        else:
            try:
                schema = self.spark.table(name).schema
            except Exception:
                raise EngineError(f"table {name} does not exist") from None
            rows = [
                (f.name, f.dataType.simpleString(), f.nullable)
                for f in schema.fields
            ]
        return Result(
            columns=["column_name", "type", "nullable"],
            types=["string", "string", "boolean"],
            rows=rows,
            effect_rows=len(rows),
        )

    # ------------------------------------------------- time travel --
    def _resolve_version(
        self, name: str, vnum: int
    ) -> tuple[list[str], dict[str, dict]]:
        """Data paths and DV map of a table version by number (current
        or retained): the manifest the version committed — segments
        and DV sidecars are immutable and shared, so a historical read
        is just a different path list and filter, no data copy."""
        meta = self._meta(name)
        if meta.get("vnum", 1) == vnum:
            return self._segment_paths(name, meta), self._dvs_of(meta)
        for entry in meta.get("history", []):
            if entry["vnum"] == vnum:
                return (
                    self._segment_paths(name, entry), self._dvs_of(entry)
                )
        retained = [e["vnum"] for e in meta.get("history", [])] + [
            meta.get("vnum", 1)
        ]
        raise EngineError(
            f"version {vnum} of {name} is not retained (available: {retained})"
        )

    def _show_history(self, stmt: str) -> Result:
        name = re.match(r"show\s+history\s+for\s+(\w+)\s*$", stmt, re.I).group(1)
        meta = self._meta(name)
        rows = [
            (e["vnum"], e["version"], False) for e in meta.get("history", [])
        ] + [(meta.get("vnum", 1), meta.get("version", ""), True)]
        return Result(
            columns=["version", "dir", "is_current"],
            types=["int", "string", "boolean"],
            rows=rows,
            effect_rows=len(rows),
        )

    def _vacuum(self, stmt: str) -> Result:
        """VACUUM <table>: drop all retained non-current versions.
        Segment dirs are shared across versions, so only dirs no longer
        referenced by the CURRENT manifest are deleted — history
        entries themselves all go."""
        m = re.match(r"vacuum\s+(\w+)\s*$", stmt, re.I)
        if not m:
            raise EngineError(f"cannot parse VACUUM statement: {stmt}")
        if self._txn is not None:
            # superseded-by-this-txn dirs live outside history; the
            # sweep would delete the very data ROLLBACK must restore
            # (Postgres rejects VACUUM in a transaction block too)
            raise EngineError("VACUUM cannot run inside a transaction")
        name = m.group(1)
        meta = self._meta(name)
        history = meta.get("history", [])
        referenced = self._references(meta)
        meta["history"] = []
        self._save_catalog()  # commit the emptied history FIRST
        # Sweep every unreferenced dir under the table root and every
        # unreferenced DV sidecar: retained history segments and DVs
        # AND orphans from crashed staged writes.
        base = os.path.join(self.warehouse, name)
        for d in os.listdir(base):
            full = os.path.join(base, d)
            if os.path.isdir(full) and d not in referenced | {self._DV_DIR}:
                shutil.rmtree(full, ignore_errors=True)
                if self._stats_of(name).pop(d, None) is not None:
                    self._stats_dirty.add(name)
        dv_dir = os.path.join(base, self._DV_DIR)
        if os.path.isdir(dv_dir):
            self._drop_paths([
                os.path.join(dv_dir, f) for f in os.listdir(dv_dir)
                if f"{self._DV_DIR}/{f}" not in referenced
            ])
        # also drop sidecar entries whose dirs are ALREADY gone (e.g.
        # recovered crashes that rmtree'd before any stats cleanup) —
        # VACUUM is the designated sweeper for all stats debris
        for d in list(self._stats_of(name)):
            if d not in referenced and not os.path.isdir(
                os.path.join(base, d)
            ):
                self._stats_of(name).pop(d, None)
                self._stats_dirty.add(name)
        # sweep crash-orphaned meta shards (written but never pointed
        # at by a root swap) and any leftover shard tmp files — only
        # the current pointer's file is live
        live_shard = os.path.basename(self._meta_ptrs.get(name, ""))
        for f in os.listdir(base):
            if f.startswith("_meta.") and f != live_shard:
                try:
                    os.remove(os.path.join(base, f))
                except OSError:
                    pass
        self._save_catalog()  # persist the stats cleanup
        return Result(effect_rows=len(history))

    # Target bytes per file for OPTIMIZE (the standard lakehouse 128 MB).
    OPTIMIZE_FILE_BYTES = 128 * 1024 * 1024

    def _optimize(self, stmt: str) -> Result:
        """OPTIMIZE <table> [ZORDER BY (a, b)]: compact a managed
        table's small files into ~128 MB targets (the many-small-file
        problem every append-heavy parquet table develops), optionally
        Z-order-clustering on the way (operators/zorder.py) so footer
        min/max stats prune scans on the clustered columns. The rewrite
        reuses the versioned-write machinery — readers keep the old
        version until the catalog pointer swaps, and time travel
        retains it."""
        m = re.match(
            r"optimize\s+(\w+)\s*(?:zorder\s+by\s*\(([^)]*)\))?\s*$",
            stmt,
            re.I,
        )
        if not m:
            raise EngineError(f"cannot parse OPTIMIZE statement: {stmt}")
        name, zcols = m.group(1), m.group(2)
        files = self._data_files(name)
        n_files_before = len(files)
        if zcols:
            # Z-ordering is a GLOBAL clustering — it must see every row,
            # so it rewrites the whole table (that is its job).
            total_bytes = sum(os.path.getsize(f) for f in files)
            target = max(1, -(-total_bytes // self.OPTIMIZE_FILE_BYTES))
            from andb_spark.operators.zorder import zorder

            cols = [c.strip() for c in zcols.split(",") if c.strip()]
            src = (
                # preserve the hidden AVG state through the rewrite
                # (see _compact_small) — it rides along unclustered
                self.spark.read.option("mergeSchema", "true").parquet(
                    *self._segment_paths(name)
                )
                if self._matview_hidden(self._meta(name))
                else self._read_table(name)
            )
            n = self._overwrite(
                name, zorder(src, cols, num_partitions=target)
            )
            return Result(
                columns=["files_before", "files_after", "rows"],
                types=["bigint", "bigint", "bigint"],
                rows=[(n_files_before, target, n)],
                effect_rows=n,
            )
        # Plain compaction is INCREMENTAL (the append-heavy manifest's
        # maintenance half): only files below the 128 MB target are
        # bin-packed into a new segment; already-right-sized files are
        # re-referenced verbatim — compaction I/O tracks the small-file
        # debt, not the table.
        n_packed, n_new = self._compact_small(name)
        # rows from driver-side metadata (manifest __rows + parquet
        # footers) — a full-table count() scan just for display would
        # contradict the maintenance path's O(debt) economics
        n = self._manifest_row_count(name)
        return Result(
            columns=["files_before", "files_after", "rows"],
            types=["bigint", "bigint", "bigint"],
            rows=[(n_files_before, n_files_before - n_packed + n_new, n)],
            effect_rows=n,
        )

    def _manifest_row_count(self, name: str) -> int:
        """Current row count from driver-side metadata only: zone-map
        ``__rows`` for full segment entries, parquet footer num_rows
        for copy-on-write file entries, less the rows the DVs delete.
        O(files), no Spark job."""
        import pyarrow.parquet as pq

        total = 0
        stats = self._stats_of(name)
        for entry in self._segments_of(self._meta(name)):
            st = stats.get(entry.split("/", 1)[0])
            if "/" not in entry and st and "__rows" in st:
                total += int(st["__rows"])
                continue
            path = os.path.join(self.warehouse, name, entry)
            files = (
                [
                    os.path.join(path, f)
                    for f in os.listdir(path)
                    if f.endswith(".parquet")
                ]
                if os.path.isdir(path)
                else [path]
            )
            for f in files:
                total += pq.ParquetFile(f).metadata.num_rows
        return total - sum(
            dv["n"] for dv in self._dvs_of(self._meta(name)).values()
        )

    def _compact_small(
        self, name: str, small: set[str] | None = None
    ) -> tuple[int, int]:
        """Bin-pack this table's sub-target files into ~128 MB segments
        (OPTIMIZE's plain path, also the auto-compaction worker).
        Right-sized files are re-referenced verbatim, so I/O tracks the
        small-file debt, not the table. ``small`` lets the caller pass
        an already-computed sub-target set (the auto-compact threshold
        check) so the file listing + stat pass runs once per append,
        not twice. Returns (files_packed, files_written); (0, 0) when
        there is nothing to pack."""
        if small is None:
            small = {
                f
                for f in self._data_files(name)
                if os.path.getsize(f) < self.OPTIMIZE_FILE_BYTES
            }
        if len(small) <= 1:  # nothing to pack
            return (0, 0)
        keep, affected = self._partition_entries(name, small)
        small_bytes = sum(os.path.getsize(f) for f in affected)
        target = max(1, -(-small_bytes // self.OPTIMIZE_FILE_BYTES))
        if self._matview_hidden(self._meta(name)):
            # An AVG matview stores hidden state OUTSIDE its declared
            # schema; a declared-schema rewrite would strip it from the
            # packed files while untouched files keep it — a mixed
            # manifest whose NULL state silently corrupts the next
            # incremental merge. Pack with the files' own full schema.
            packed = (
                self.spark.read.option("mergeSchema", "true")
                .parquet(*affected)
                .coalesce(target)
            )
        else:
            packed = self._read_files(name, affected).coalesce(target)
        # rows move between files unchanged: no constraint to re-probe
        self._stage_version(name, packed, base=keep, changed=set())
        self._commit_staged(name)
        return (len(affected), target)

    def _matview_hidden(self, meta: dict) -> list[str]:
        """Hidden AVG-state column names of a materialized view's plan
        ([] for non-matviews and non-self-maintainable views)."""
        sql = meta.get("matview_sql")
        if not sql:
            return []
        plan = _matview_plan(sql)
        return plan["hidden"] if plan else []

    def _maybe_auto_compact(self, name: str) -> None:
        """LSM-style amortized maintenance for append-heavy tables:
        when `SET andb.auto_compact = <n>` is active (n = small-file
        threshold, 0/unset = off) and an append has pushed the table's
        sub-128 MB file count to >= n, fold the debt into right-sized
        segments immediately. Each row is rewritten at most
        O(log(table/batch)) times across its lifetime — the classic
        amortized-compaction bound — instead of the table accumulating
        thousands of per-batch files that kill scan throughput at
        100 TB. Off by default: explicit OPTIMIZE keeps sole control
        unless the session opts in."""
        thr = int(self.session_vars.get("andb.auto_compact", "0") or 0)
        if thr <= 0:
            return
        small = {
            f
            for f in self._data_files(name)
            if os.path.getsize(f) < self.OPTIMIZE_FILE_BYTES
        }
        if len(small) >= thr:
            self._compact_small(name, small=small)
            self._reanchor_current_matviews(name)

    def _reanchor_current_matviews(self, base: str) -> None:
        """Metadata-only repair of the compaction/matview interplay:
        when autorefresh just brought this base's dependent views
        current (same statement, no transaction — the exact conditions
        under which _maybe_auto_refresh ran before this compaction),
        the views reflect every base row and compaction changed only
        the file layout, so repointing their seen-file anchors at the
        post-compaction manifest is sound — and keeps the continuous
        aggregate O(delta) across compaction events instead of forcing
        a full O(base) refresh after each one."""
        if (
            self.session_vars.get("andb.matview_autorefresh") != "on"
            or self._txn is not None
        ):
            return
        cur = self._lineage(base)
        dirty = False
        for mv_meta in self.catalog["tables"].values():
            if (
                mv_meta.get("matview_base") == base
                and "matview_seen" in mv_meta
            ):
                mv_meta["matview_seen"] = list(cur)
                dirty = True
        if dirty:
            self._save_catalog()

    # ------------------------------------------------------- statements --
    # Vector-search access-path rewrite target:
    #   SELECT <id>, cosine_distance(<vec>, array(...)) AS <d>
    #   FROM <table> ORDER BY <d> [ASC] LIMIT <k>
    # — the query shape the reference's vector future pointed at
    # (implementations.py:108). Rewritten through plans/ann.py when the
    # session has opted in (SET andb.ann_mode = lsh | auto).
    _ANN_RE = re.compile(
        r"^select\s+(?P<id>\w+)\s*,\s*"
        r"cosine_distance\(\s*(?P<vec>\w+)\s*,\s*array\((?P<lit>[^)]*)\)\s*\)"
        r"\s+as\s+(?P<alias>\w+)\s+"
        r"from\s+(?P<table>\w+)\s+"
        r"order\s+by\s+(?P=alias)(?:\s+asc)?"
        r"(?:\s+nulls\s+last)?\s+limit\s+(?P<k>\d+)\s*$",
        re.I,
    )

    # AS-OF JOIN SQL surface (DuckDB-compatible subset):
    #   FROM <lt> [<la>] ASOF [LEFT] JOIN <rt> [<ra>]
    #     ON [<eq> AND ...] <la>.<t> >= <ra>.<t2>   (backward)
    #                       <la>.<t> <= <ra>.<t2>   (forward)
    # Spark has no ASOF JOIN; the clause is rewritten onto the
    # union+window operator (operators/asof.py) materialized as a
    # per-statement temp view — the same pattern as VERSION AS OF.
    # The two join keywords are written once: the subquery-source
    # lift, each rewrite's catch-all, the engine-subquery lift's
    # depth-0 test and the CTE binder all read these.
    _ASOF_KW = re.compile(r"\basof\s+(?P<left>left\s+)?join\b", re.I)
    _POSITIONAL_KW = re.compile(r"\bpositional\s+join\b", re.I)
    _ASOF_RE = re.compile(
        r"\bfrom\s+(?P<lt>\w+)(?:\s+(?!asof\b)(?P<la>\w+))?\s+"
        + _ASOF_KW.pattern
        + r"\s+(?P<rt>\w+)(?:\s+(?!on\b)(?P<ra>\w+))?"
        r"\s+on\s+(?P<conds>.+?)"
        r"(?=\s+(?:where|group|order|limit)\b|\s*$)",
        re.I | re.S,
    )

    # Transparent range-join optimization: a plain INNER JOIN whose ON
    # clause is equalities + ONE cross-table BETWEEN (point-in-interval)
    # plans as a broadcast nested loop in Spark — quadratic. The engine
    # recognizes the shape and substitutes the bucketed decomposition
    # (operators/rangejoin.py) — identical inner-join semantics, work
    # O(points + intervals x buckets + matches). Width via
    # `SET andb.range_bucket_seconds` (default 1800) — SECONDS for
    # timestamp/date time columns, NATIVE UNITS for numeric ones
    # (microsecond epochs need a microsecond-scale width). Non-matching ON
    # shapes and outer/semi/anti joins pass through untouched.
    _RANGE_RE = re.compile(
        r"\bfrom\s+(?P<pt>\w+)(?:\s+(?!inner\b|join\b|asof\b)(?P<pa>\w+))?"
        r"\s+(?:inner\s+)?join\s+"
        r"(?P<it>\w+)(?:\s+(?!on\b)(?P<ia>\w+))?"
        r"\s+on\s+(?P<conds>[^;]+?between[^;]+?)"
        r"(?=\s+(?:where|group|order|limit)\b|\s*$)",
        re.I | re.S,
    )

    # Read-side data skipping: `SELECT ... FROM <one managed table>
    # WHERE <cond> ...` — the adjacency `from <name> where` rules out
    # joins, aliases, and subquery sources by construction.
    _FROM_WHERE_RE = re.compile(
        r"^select\b.*?\bfrom\s+(\w+)\s+where\s+(.*)$", re.I | re.S
    )
    _TRAILING_CLAUSE_RE = re.compile(
        r"\s+(?:group\s+by|order\s+by|having|limit|offset)\s", re.I
    )

    def _zone_prune_view(self, stmt: str) -> str | None:
        """Zone-map data skipping for READS (the DML planner's
        ``_zone_scan_entries`` applied to SELECT): when a single-table
        query's WHERE fits the conservative interval parser, swap the
        table's temp view for a scan over only the possibly-matching
        manifest segments. At 100 TB this is the difference between
        listing/opening every file of an append-heavy table and
        touching just the segments whose [min, max] overlap the
        predicate — the same manifest-stats economics Iceberg/Delta
        readers get, without waiting for parquet footer I/O to skip
        row groups. Returns the statement with its table token swapped
        for a UNIQUE statement-scoped temp view bound to the surviving
        segments, or None. The session-global view of the
        table is never rebound, so a concurrent SELECT on the same
        SparkSession can never observe the pruned binding.

        Every failure mode degrades to "no pruning": interval parsing
        is conjunct-prefix-sound (shearing the WHERE text at a clause
        keyword can only drop conjuncts, and any malformed fragment
        disables the parse entirely), so a swap never excludes a
        segment the real predicate could match."""
        if self.session_vars.get("andb.zone_prune") == "off":
            return None
        m = self._FROM_WHERE_RE.match(stmt)
        if not m or m.group(1) not in self.catalog["tables"]:
            return None
        name = m.group(1)
        # The rewrite swaps the table TOKEN; with multiple occurrences
        # (a scalar subquery, a self-join, or the name inside a string
        # literal) a single-token substitution is ambiguous. Prune only
        # when the name occurs exactly once — case-insensitively, since
        # Spark resolves identifiers that way — so the one occurrence
        # is provably the FROM clause the regex matched.
        if len(re.findall(rf"\b{re.escape(name)}\b", stmt, re.I)) != 1:
            return None
        cond_text = self._TRAILING_CLAUSE_RE.split(m.group(2))[0]
        meta = self._meta(name)
        if not _zone_dnf(cond_text) or not self._stats_of(name):
            return None
        entries = self._segments_of(meta)
        scan = self._zone_scan_entries(name, cond_text)
        self.session_vars["andb.last_zone_prune"] = (
            f"{name}: skipped {len(entries) - len(scan)}/{len(entries)} segments"
        )
        if len(scan) == len(entries):
            return None
        if scan:
            base = os.path.join(self.warehouse, name)
            pruned = self._read_files(
                name, [os.path.join(base, e) for e in scan],
                dnf=_zone_dnf(cond_text),
            )
        elif meta.get("columns"):
            # globally disjoint: zero files referenced, zero I/O
            pruned = self.spark.createDataFrame([], self._schema(name))
        else:
            pruned = self._read_table(name).limit(0)
        tmp = self._scoped_view(pruned, f"{name}__zp_")
        return re.sub(
            rf"\b{re.escape(name)}\b", tmp, stmt, count=1, flags=re.I
        )

    @staticmethod
    def _order_spec(col, direction: str, nulls: str, reverse: bool = False):
        """A Column sort spec for a parsed ORDER BY item. ``reverse``
        flips both the direction and the nulls placement — the exact
        inverse total order (used to probe a top-k set's LAST row).
        An item with no explicit NULLS qualifier takes DuckDB's
        default null order: NULLS LAST in BOTH directions (Spark's
        ASC default is NULLS FIRST — r12 verdict #1)."""
        if not nulls:
            nulls = "last"
        if reverse:
            direction = "desc" if direction == "asc" else "asc"
            nulls = "last" if nulls == "first" else "first"
        key = f"{direction}_nulls_{nulls}"
        return {
            "asc": col.asc(), "desc": col.desc(),
            "asc_nulls_first": col.asc_nulls_first(),
            "asc_nulls_last": col.asc_nulls_last(),
            "desc_nulls_first": col.desc_nulls_first(),
            "desc_nulls_last": col.desc_nulls_last(),
        }[key]

    def _rewrite_distinct_on(self, stmt: str) -> str:
        """DISTINCT ON (Postgres/DuckDB): keep the first row per key
        group under the statement's ORDER BY. Postgres' contract is
        enforced: ORDER BY must lead with the DISTINCT ON keys, and at
        least one tiebreak column must follow — without one the
        surviving row per group is arbitrary, which an engine should
        refuse rather than return unstably. Keys and ORDER BY items
        split paren-aware, so function expressions like
        date_trunc('day', ts) work as keys and tiebreaks.

        Rewrite: inject row_number() over (keys, tiebreaks) plus one
        helper column per ORDER BY item into the select list, filter
        rn=1 and sort DataFrame-side, materialize as a per-statement
        temp view, and hand ``select * from <view> [limit]`` back. The
        helper columns matter because Postgres sorts BEFORE projection
        — ``SELECT DISTINCT ON (k) a, b .. ORDER BY k, ts DESC`` is
        legal even when k/ts are unprojected expressions, so the
        ordering cannot be re-attached to the post-projection view by
        name."""
        m = re.match(r"^\s*select\s+distinct\s+on\s*\(", stmt, re.I)
        if not m:
            # catch-all: the spelling anywhere the anchored rewrite
            # can't reach (a FROM subquery; a WITH RECURSIVE prefix —
            # plain WITH prefixes are unwrapped by the CTE binder
            # before this runs) must fail by name with a working
            # workaround, not as Spark's cryptic UNRESOLVED_ROUTINE
            # `on` parse error (r10 probe)
            if re.search(
                r"\bselect\s+distinct\s+on\s*\(",
                blank_literals(stmt), re.I,
            ):
                raise EngineError(
                    "DISTINCT ON here is not supported — lift it into"
                    " a WITH clause body or make it the statement's"
                    " own select list"
                )
            return stmt
        # the matching close paren (keys may hold nested calls)
        try:
            i = match_bracket(stmt, m.end() - 1) + 1
        except EngineError:
            raise EngineError("DISTINCT ON: unbalanced parentheses")
        keys = [k.strip() for k in
                split_top_level(stmt[m.end(): i - 1])]
        rest = stmt[i:]
        # DISTINCT ON + QUALIFY in ONE statement (r8 verdict #5):
        # DuckDB's evaluation order is QUALIFY FIRST (window functions
        # computed over the pre-DISTINCT-ON rows, then filtered), and
        # DISTINCT ON picks survivors from what remains — verified by
        # probe against DuckDB 1.0. So the single row_number() this
        # rewrite injects cannot serve both: the QUALIFY predicate is
        # extracted here and evaluated in a FIRST stage (select-list
        # boolean + filter, same move as _rewrite_qualify), and the
        # DISTINCT ON row_number() runs in a SECOND stage over the
        # filtered view. Helper columns carry the (possibly
        # unprojected) ORDER BY expressions across the stage boundary.
        qualify_pred = None
        qf = find_top_level_keyword(rest, ("qualify",))
        if qf is not None:
            q_tail = rest[qf[0] + len("qualify"):]
            t = find_top_level_keyword(
                q_tail, ("order by", "limit", "offset")
            )
            qualify_pred = (q_tail[: t[0]] if t else q_tail).strip()
            if not qualify_pred:
                raise EngineError("QUALIFY: empty predicate")
            rest = rest[: qf[0]].rstrip() + (
                " " + q_tail[t[0]:].lstrip() if t else ""
            )
        ob = find_top_level_keyword(rest, ("order by",))
        if ob is None:
            raise EngineError(
                "DISTINCT ON requires ORDER BY <keys>, <tiebreak...>"
                " for a deterministic result"
            )
        body = rest[: ob[0]].rstrip()
        order = rest[ob[0] + len("order by"):].strip()
        # LIMIT / OFFSET after ORDER BY stays outer (r9 verdict #2: a
        # bare OFFSET with no LIMIT must be captured too, or it leaks
        # into the ORDER BY item list and dies as a parse error)
        lm = find_top_level_keyword(order, ("limit", "offset"))
        limit = ""
        if lm:
            limit = " " + order[lm[0]:].strip()
            order = order[: lm[0]].strip().rstrip(",")
        items = [o.strip() for o in split_top_level(order)]

        parsed = [parse_order_item(o) for o in items]
        norm = lambda x: re.sub(r"\s+", " ", x.strip().lower())
        lead = [norm(p[0]) for p in parsed]
        if [norm(k) for k in keys] != lead[: len(keys)]:
            raise EngineError(
                "DISTINCT ON: ORDER BY must start with the DISTINCT ON"
                f" expressions {keys}"
            )
        tail = items[len(keys):]
        if not tail:
            raise EngineError(
                "DISTINCT ON requires ORDER BY <keys>, <tiebreak...>"
                " for a deterministic result"
            )
        f = find_top_level_keyword(body, ("from",))
        if f is None:
            raise EngineError("DISTINCT ON: no FROM clause to attach to")
        sel, src = body[: f[0]].rstrip(), body[f[0]:]
        if re.match(r"^\s*\*\s+replace\s*\(", sel, re.I):
            # DISTINCT ON + star-REPLACE: DuckDB resolves the ORDER BY
            # (and any QUALIFY) against the REPLACED columns — probed
            # on 1.0: `order by v` under `* replace (0 - v as v)`
            # sorts by the negated value. So stage the replaced
            # projection as its own lazy view FIRST and run DISTINCT
            # ON over it; injecting helper columns next to the raw
            # `* replace` select list would bind them to the SOURCE
            # columns instead (sibling aliases are not visible).
            inner_sql = self._rewrite_surfaces(f"select {sel} {src}")
            rview = self._scoped_view(self.spark.sql(inner_sql), "_donrep_")
            sel, src = "*", f"from {rview}"
        helpers = ", ".join(
            f"{p[0]} as _don_o{n}" for n, p in enumerate(parsed)
        )

        sort_cols = [
            self._order_spec(F.col(f"_don_o{n}"), d, nl)
            for n, (_e, d, nl) in enumerate(parsed)
        ]
        if qualify_pred is not None:
            # stage 1: QUALIFY first — window functions in the
            # predicate see every pre-DISTINCT-ON row; the DISTINCT ON
            # row_number() is applied in stage 2 over the FILTERED
            # rows so it counts post-QUALIFY survivors (the single
            # reason the old code refused this composition)
            inner = f"select {sel}, ({qualify_pred}) as _qual, {helpers} {src}"
        else:
            inner = (
                f"select {sel}, row_number() over"
                f" (partition by {', '.join(keys)}"
                f" order by {', '.join(tail)}) as _don_rn, {helpers} {src}"
            )
        # the source may itself be an engine surface (ASOF, range or
        # POSITIONAL join) that Spark can't parse, or would parse as a
        # different query — run the surface pipeline on the inner
        # statement BEFORE planning it (r7 ADVICE #2)
        inner = self._rewrite_surfaces(inner)
        if qualify_pred is not None:
            from pyspark.sql import Window as _W

            # stage 2: DISTINCT ON over the QUALIFY survivors.
            # ORDER BY must lead with the keys (enforced above),
            # so the first len(keys) helper columns ARE the keys
            # and the remainder carries the tiebreak order with
            # its per-item direction/nulls placement.
            w = _W.partitionBy(
                *[F.col(f"_don_o{n}") for n in range(len(keys))]
            ).orderBy(*sort_cols[len(keys):])
            df = (
                self.spark.sql(inner)
                .filter(F.col("_qual"))
                .drop("_qual")
                .withColumn("_don_rn", F.row_number().over(w))
                .filter(F.col("_don_rn") == 1)
            )
        else:
            df = self.spark.sql(inner).filter(F.col("_don_rn") == 1)
        df = df.orderBy(*sort_cols).drop(
            "_don_rn", *[f"_don_o{n}" for n in range(len(parsed))]
        )
        view = self._scoped_view(df, "_don_")
        return f"select * from {view}{limit}"

    def _rewrite_qualify(self, stmt: str) -> str:
        """QUALIFY clause (DuckDB/Snowflake semantics — filter on
        window-function results after they are computed; Spark has no
        QUALIFY). Rewrite: inject the predicate into the select list as
        a boolean column, materialize filter+drop as a temp view, and
        re-attach any trailing ORDER BY / LIMIT onto a select from the
        view. Window expressions in the predicate evaluate over the
        same rows as the statement's own window functions, which is
        the defined QUALIFY evaluation order. SELECT DISTINCT composes
        correctly (QUALIFY filters FIRST, then DISTINCT — Snowflake's
        order): distinct is stripped from the inner statement and
        re-applied over the filtered view. The QUALIFY keyword is only
        recognized at paren depth 0 outside string literals — a column
        or literal containing the word is left alone."""
        found = find_top_level_keyword(stmt, ("qualify",))
        if found is None:
            return stmt
        q_at, _ = found
        head = stmt[:q_at].rstrip()
        tail = stmt[q_at + len("qualify"):].strip()
        t = find_top_level_keyword(
            tail, ("order by", "limit", "offset")
        )
        pred = tail[: t[0]].strip() if t else tail
        trailing = tail[t[0]:] if t else ""
        if not pred:
            raise EngineError("QUALIFY: empty predicate")
        # QUALIFY-then-DISTINCT (Snowflake evaluation order): pull the
        # DISTINCT out of the inner statement — leaving it in would
        # dedup over (select-list, _qual) and let duplicate rows with
        # different window values survive the filter
        outer_sel = "select *"
        dm = re.match(r"^\s*select\s+distinct\b(?!\s+on\b)", head, re.I)
        if dm:
            head = "select " + head[dm.end():].lstrip()
            outer_sel = "select distinct *"
        f = find_top_level_keyword(head, ("from",))
        if f is None:
            raise EngineError("QUALIFY: no FROM clause to attach to")
        from_at = f[0]
        inner = f"{head[:from_at].rstrip()}, ({pred}) as _qual {head[from_at:]}"
        # a quantified comparison in the statement's WHERE (or in the
        # QUALIFY predicate itself) is an engine surface Spark can't
        # parse — run the surface pipeline on the inner statement
        # BEFORE planning (same composition class as DISTINCT ON over
        # ASOF, r7 #2)
        inner = self._rewrite_surfaces(inner)
        # the inner SELECT reads through the access path a plain SELECT
        # takes: the WHERE filters rows before any window function
        # sees them, so zone-map skipping (and the deletion-vector
        # zones) serve it unchanged
        df = self._access_path(inner)[0].filter(F.col("_qual")).drop("_qual")
        view = self._scoped_view(df, "_qualify_")
        return f"{outer_sel} from {view} {trailing}".rstrip()

    # quantified comparison: `lhs <op> ANY|SOME|ALL ( select ... )`.
    # lhs restricted to a bare/qualified identifier or numeric token —
    # anything else is refused by the catch-all below, never handed to
    # Spark's parser (which has no quantified comparisons at all).
    # lhs: bare/qualified identifier, numeric token, or a simple
    # one-argument aggregate/function call (count(*), sum(x), f(a.b))
    # — the HAVING spelling. Anything more complex is refused by name.
    _QUANT_RE = re.compile(
        r"(?P<lhs>\w+(?:\.\w+)?(?:\(\s*(?:\*|\w+(?:\.\w+)?)?\s*\))?)"
        r"\s*(?P<op>>=|<=|<>|!=|=|>|<)\s*"
        r"(?P<q>any|some|all)\s*\(",
        re.I,
    )

    def _rewrite_quantified(self, stmt: str) -> str:
        """SQL quantified comparisons — ``x <op> ANY (subquery)`` /
        ``ALL`` / ``SOME`` (ANSI; native in DuckDB/Postgres, absent
        from Spark SQL), uncorrelated or equi-correlated. Each one
        becomes a CASE with exact three-valued-logic semantics over
        one lazy plan (``_quantified_case``): an uncorrelated
        subquery is the zero-key case of the correlated lowering, so
        EXPLAIN, DESCRIBE, view binding and execution all plan the
        same statement and none of them runs a job here.

        The LHS must stand alone: a match whose lhs token is really
        the tail of a larger expression (``x + 1 > any (...)`` — the
        regex would grab ``1`` and splice with wrong precedence) is
        left unconsumed so the catch-all refuses it by name. A
        correlated body outside the equi-correlated class
        (``_quantified_correlated_body``) is refused by name too.

        The differential grids (test_parser_surfaces_differential.py,
        test_fuzz_differential.py) pin every (op, quantifier) against
        DuckDB's native implementation, including empty / all-NULL /
        some-NULL sets and NULL probes."""
        _blank = blank_literals

        while True:
            blanked = _blank(stmt)
            hit = None
            for cand in self._QUANT_RE.finditer(blanked):
                op_pos = cand.end() - 1
                cp = match_bracket(stmt, op_pos)
                inner = stmt[cand.end(): cp]
                # `any(boolcol)` is Spark's bool_or aggregate —
                # only a SELECT body is a quantified subquery
                if not re.match(r"\s*select\b", inner, re.I):
                    continue
                # the lhs must STAND ALONE: preceded by nothing,
                # an opening paren, a comma, or a keyword/boolean
                # boundary. An arithmetic/concat operator or a
                # dot before it means the regex grabbed the TAIL
                # of a larger expression (`x + 1 > any(...)`) —
                # splicing there would bind with wrong precedence,
                # so leave it for the catch-all's named refusal.
                j = cand.start() - 1
                while j >= 0 and blanked[j] in " \t\r\n":
                    j -= 1
                if j >= 0 and (
                    blanked[j] in "+-*/%|&^.<>=!~"
                    or blanked[j].isalnum()
                    or blanked[j] == "_"
                ):
                    prevtok = re.search(
                        r"(\w+)\s*$", blanked[: j + 1]
                    )
                    if not (prevtok and prevtok.group(1).lower() in (
                        "and", "or", "not", "where", "when", "then",
                        "else", "on", "having", "select", "by",
                    )):
                        continue
                hit = (cand, cp, inner)
                break
            if hit is None:
                break
            cand, cp, inner = hit
            lhs = cand.group("lhs")
            op = {"!=": "<>"}.get(cand.group("op"), cand.group("op"))
            quant = cand.group("q").lower()
            if quant == "some":
                quant = "any"
            try:
                cols = self.spark.sql(inner).columns
            except Exception as e:
                body = self._quantified_correlated_body(inner)
                if body is None:
                    raise EngineError(
                        "ANY/ALL: the subquery must be a"
                        " standalone (uncorrelated) SELECT, or a"
                        " simple equi-correlated `SELECT <expr>"
                        " FROM <src> WHERE ...` body (no GROUP"
                        " BY/LIMIT/set ops; correlation as plain"
                        f" `=` conjuncts) ({e})"
                    ) from e
                vals, outer = body
            else:
                if len(cols) != 1:
                    raise EngineError(
                        "ANY/ALL subquery must select exactly one"
                        f" column (got {len(cols)})"
                    )
                col = cols[0].replace("`", "``")
                vals = f"select (`{col}`) as __qv from ({inner}) __qsrc"
                outer = []
            repl = self._quantified_case(vals, outer, lhs, op, quant)
            stmt = stmt[: cand.start()] + repl + stmt[cp + 1:]
        # catch-all: a quantified spelling the regex could not
        # consume (complex lhs expression) must fail by name, not
        # as Spark's raw parse error
        if re.search(
            r"(>=|<=|<>|!=|=|>|<)\s*(any|some|all)\s*\(\s*select\b",
            _blank(stmt), re.I,
        ):
            raise EngineError(
                "ANY/ALL: the left-hand side must be a plain"
                " (optionally qualified) column or literal —"
                " alias complex expressions in a subquery first"
            )
        return stmt

    def _quantified_correlated_body(
        self, inner: str
    ) -> tuple[str, list[str]] | None:
        """Classify an equi-correlated quantified body — ``SELECT v
        FROM t2 WHERE t2.k = t1.k ...`` (DuckDB/Postgres execute these
        natively). The class: a simple body (single select item, FROM
        + WHERE only — no GROUP BY/LIMIT/set ops) whose WHERE carries
        plain ``=`` correlation conjuncts, classified PLAN-BASED
        exactly like `_decorrelate_engine_subquery` (a side is 'inner'
        iff it resolves against the body's own FROM; both-or-neither →
        out of class → None, the caller's named refusal).

        Returns the body's value set as SQL, ``select (<inner key>)
        as __qk<i>, ..., (<item>) as __qv from <src> where <plain
        conjuncts>``, and the outer side of each correlation key."""
        if self._first_clause_kw(
            inner,
            ("group by", "having", "qualify", "window", "order by",
             "limit", "offset", "union", "intersect", "except"),
        ):
            return None
        f = find_top_level_keyword(inner, ("from",))
        w = find_top_level_keyword(inner, ("where",))
        if f is None or w is None or w[0] < f[0]:
            return None
        sm = re.match(r"\s*select\s+(?:distinct\s+)?", inner, re.I)
        if not sm:
            return None
        # DISTINCT is stripped above: duplicates change no quantifier
        # verdict (min/max/has-null/membership are all set-level)
        item = inner[sm.end(): f[0]].strip()
        if len(split_top_level(item)) != 1 or item == "*":
            return None
        item = re.sub(r"\s+as\s+\w+\s*$", "", item, flags=re.I)
        sources = inner[f[0] + 4: w[0]]
        where_text = inner[w[0] + 5:]

        def _resolves(expr: str) -> bool:
            try:
                self.spark.sql(f"select ({expr}) as p from {sources}")
                return True
            except Exception:
                return False

        plain: list[str] = []
        corr: list[tuple[str, str]] = []  # (inner side, outer side)
        for cpred in self._split_conjuncts(where_text):
            if _resolves(cpred):
                plain.append(cpred)
                continue
            sides = split_top_level(cpred, "=")
            if len(sides) != 2:
                return None
            lft, rgt = sides[0].strip(), sides[1].strip()
            # reject halves carved out of >=, <=, <>, != comparators
            if (
                not lft or not rgt
                or lft[-1] in "<>!=" or rgt[0] in "="
            ):
                return None
            li, ri = _resolves(lft), _resolves(rgt)
            if li == ri:
                return None
            corr.append((lft, rgt) if li else (rgt, lft))
        if not corr or not _resolves(item):
            return None
        keysel = "".join(
            f"({ik}) as __qk{i}, " for i, (ik, _o) in enumerate(corr)
        )
        wsql = (" where " + " and ".join(plain)) if plain else ""
        return (
            f"select {keysel}({item}) as __qv from {sources}{wsql}",
            [o for _ik, o in corr],
        )

    def _quantified_case(
        self, vals_sql: str, outer: list[str], lhs: str, op: str,
        quant: str,
    ) -> str:
        """The 3VL CASE for ``lhs <op> ANY|ALL S``. ``vals_sql`` yields
        S as ``__qv`` plus one ``__qk<i>`` column per correlation key,
        to be matched against ``outer[i]`` (no keys: uncorrelated).

        One lazy aggregation of S per key — has-NULL, min, max,
        count(distinct) — with ``having count(*) > 0``, so an empty
        set is 'the probe found no stats row' in both cases. min/max
        carry the comparison (``x > ANY S`` is ``x > min(S)``; ``x >
        ALL S`` is NOT ``x <= max(S)``); count(distinct) separates
        the one-distinct-value case of (in)equality; ``= ANY`` /
        ``<> ALL`` test membership with an IN over (value, keys), a
        hash existence join. Spark's IN in a projection is not
        null-aware (a miss against a set holding NULL is FALSE, where
        the standard says UNKNOWN), so the CASE trusts only its hit
        and routes NULLs through has-NULL. Each stats probe is a
        scalar subquery: uncorrelated ones are merged into one
        aggregation by Catalyst's MergeScalarSubqueries, correlated
        ones decorrelate to a hash join on the key — never a
        per-outer-row loop."""
        vals = self._scoped_view(self.spark.sql(vals_sql), "_quant_")
        keys = [f"__qk{i}" for i in range(len(outer))]
        group = f" group by {', '.join(keys)}" if keys else ""
        stats = self._scoped_view(
            self.spark.sql(
                f"select {''.join(f'{k}, ' for k in keys)}"
                f"count(__qv) < count(*) as hasnull,"
                f" min(__qv) as mn, max(__qv) as mx,"
                f" count(distinct __qv) as nd"
                f" from {vals}{group} having count(*) > 0"
            ),
            "_quantstats_",
        )
        match = "".join(
            f" and {k} = ({o})" for k, o in zip(keys, outer)
        )

        def s(col: str) -> str:
            return f"(select {col} from {stats} where true{match})"

        hn, mn, mx, nd = s("hasnull"), s("mn"), s("mx"), s("nd")
        empty = f"{hn} is null"
        NULLB = "cast(null as boolean)"
        if (quant, op) in (("any", "="), ("all", "<>")):
            hit = "true" if quant == "any" else "false"
            miss = "false" if quant == "any" else "true"
            # an IN, not an EXISTS: an aggregate lhs (HAVING) cannot
            # move into a subquery's WHERE
            probe = ", ".join([lhs, *(f"({o})" for o in outer)])
            member = (
                f"({probe}) in"
                f" (select {', '.join(['__qv', *keys])} from {vals})"
            )
            return (
                f"(case when {empty} then {miss}"
                f" when {lhs} is null then {NULLB}"
                f" when {member} then {hit}"
                f" when {hn} then {NULLB}"
                f" else {miss} end)"
            )
        if op == "<>":  # any
            return (
                f"(case when {empty} then false"
                f" when {lhs} is null then {NULLB}"
                f" when {nd} >= 2 then true"
                f" when {lhs} <> {mn} then true"
                f" when {hn} then {NULLB}"
                f" else false end)"
            )
        if op == "=":  # all
            return (
                f"(case when {empty} then true"
                f" when {lhs} is null then {NULLB}"
                f" when {nd} >= 2 then false"
                f" when {lhs} <> {mn} then false"
                f" when {hn} then {NULLB}"
                f" else true end)"
            )
        if quant == "any":
            ext = mn if op in (">", ">=") else mx
            return (
                f"(case when {empty} then false"
                f" when {lhs} {op} {ext} then true"
                f" when {lhs} is null then {NULLB}"
                f" when {hn} then {NULLB}"
                f" else false end)"
            )
        # all, inequality: NOT (lhs neg-op ANY)
        ext = mx if op in (">", ">=") else mn
        neg = {">": "<=", ">=": "<", "<": ">=", "<=": ">"}[op]
        return (
            f"(case when {empty} then true"
            f" when {lhs} {neg} {ext} then false"
            f" when {lhs} is null then {NULLB}"
            f" when {hn} then {NULLB}"
            f" else true end)"
        )

    _FF_TAIL_KWS = (
        "where", "group by", "having", "qualify", "window",
        "order by", "limit", "offset", "union", "intersect", "except",
    )

    def _first_clause_kw(
        self, text: str, kws: tuple[str, ...], start: int = 0
    ) -> tuple[int, str] | None:
        """find_top_level_keyword that skips star-projection EXCEPT
        (`* except (...)` — a select-list spelling, not a set op)."""
        pos = start
        while True:
            hit = find_top_level_keyword(text, kws, pos)
            if hit is None:
                return None
            if hit[1] == "except" and re.search(
                r"\*\s*$", text[: hit[0]]
            ):
                pos = hit[0] + len("except")
                continue
            return hit

    def _rewrite_from_first(self, stmt: str) -> str:
        """DuckDB FROM-first syntax: ``FROM <sources> [SELECT
        <items>] <tail>`` ≡ ``SELECT <items|*> FROM <sources>
        <tail>`` (probed: the SELECT section precedes the tail
        clauses; bare FROM projects *; set-operation branches may
        themselves be FROM-first). Pure text reorder — the result
        plans through the ordinary pipeline, so every engine surface
        composes downstream."""
        if not re.match(r"^\s*from\b", blank_literals(stmt), re.I):
            return stmt
        sel = find_top_level_keyword(stmt, ("select",))
        setop = self._first_clause_kw(
            stmt, ("union", "intersect", "except")
        )
        if sel is not None and (setop is None or sel[0] < setop[0]):
            sources = stmt[: sel[0]]
            rest = stmt[sel[0] + len("select"):]
            tk = self._first_clause_kw(rest, self._FF_TAIL_KWS)
            items = rest[: tk[0]] if tk else rest
            tail = rest[tk[0]:] if tk else ""
        else:
            tk = self._first_clause_kw(stmt, self._FF_TAIL_KWS)
            sources = stmt[: tk[0]] if tk else stmt
            items = "*"
            tail = stmt[tk[0]:] if tk else ""
        if tail:
            so = self._first_clause_kw(
                tail, ("union", "intersect", "except")
            )
            if so is not None:
                km = re.match(
                    r"(union(?:\s+all)?(?:\s+by\s+name)?"
                    r"|intersect(?:\s+all)?|except(?:\s+all)?)\s+",
                    tail[so[0]:], re.I,
                )
                if km:
                    cut = so[0] + km.end()
                    tail = tail[:cut] + self._rewrite_from_first(
                        tail[cut:]
                    )
        return (
            f"select {items.strip()} {sources.strip()} {tail.strip()}"
            .strip()
        )

    def _rewrite_star_exclude(self, stmt: str) -> str:
        """DuckDB star-projection spelling ``* EXCLUDE (cols)`` →
        Spark's native ``* EXCEPT (cols)`` (same semantics, probed).
        Token swap on the literal-blanked copy; an EXCLUDE inside a
        ``COLUMNS(* EXCLUDE ...)`` argument belongs to the COLUMNS
        machinery and stays."""
        blanked = blank_literals(stmt)
        out: list[str] = []
        pos = 0
        for m in re.finditer(
            r"\*\s+(exclude)\s*\(", blanked, re.I
        ):
            before = blanked[: m.start()].rstrip()
            if re.search(r"\bcolumns\s*\(\s*$", before, re.I):
                continue
            out.append(stmt[pos: m.start(1)])
            out.append("except")
            pos = m.end(1)
        if not out:
            return stmt
        out.append(stmt[pos:])
        return "".join(out)

    def _rewrite_fetch_first(self, stmt: str) -> str:
        """ANSI result-limiting dialect: ``OFFSET n ROW[S] [FETCH
        {FIRST|NEXT} m ROW[S] ONLY]`` and bare ``FETCH FIRST m ROWS
        ONLY`` (standard SQL, native in DuckDB/Postgres; Spark speaks
        only LIMIT/OFFSET) → the equivalent ``LIMIT m OFFSET n``. A
        pure text rewrite — same plan, CollectLimit/GlobalLimit
        economics unchanged. Matching runs on a same-length
        literal-blanked copy so a string containing the words can
        never rewrite.

        ``[OFFSET n ROWS] FETCH FIRST m ROWS WITH TIES`` (Postgres
        semantics: every row tying with the m-th row under the ORDER
        BY survives) is NOT a spelling swap — it routes to
        ``_fetch_with_ties``, which needs the ORDER BY keys. Only the
        statement-level (paren depth 0, statement-final) position is
        supported; nested WITH TIES is refused by name."""

        blanked = blank_literals(stmt)
        wt = re.search(
            r"(?:\boffset\s+(\d+)\s+(?:rows?\s+)?)?"
            r"\bfetch\s+(?:first|next)\s+(?:(\d+)\s+)?rows?"
            r"\s+with\s+ties\s*$",
            blanked, re.I,
        )
        if wt is not None and not paren_depth_at(blanked, wt.start()):
            return self._fetch_with_ties(
                stmt[: wt.start()].rstrip(),
                int(wt.group(1) or 0),
                int(wt.group(2) or 1),
            )
        # nested / non-final FULL spelling only — a CTE or column
        # merely NAMED "ties" must not trip this (review r10 #2)
        if re.search(
            r"\bfetch\s+(?:first|next)\s+(?:\d+\s+)?rows?"
            r"\s+with\s+ties\b",
            blanked, re.I,
        ):
            raise EngineError(
                "FETCH ... WITH TIES is only supported as the"
                " statement's own final clause — rewrite nested uses"
                " as rank() <= n via QUALIFY"
            )
        # LIMIT p% / LIMIT p PERCENT (DuckDB percent limit), with an
        # OFFSET on either side — statement-final, top level only
        lp = re.search(
            r"(?:\boffset\s+(\d+)\s+(?:rows?\s+)?)?"
            r"\blimit\s+(\d+(?:\.\d+)?)\s*(?:%|percent\b)"
            r"(?:\s+offset\s+(\d+))?\s*$",
            blanked, re.I,
        )
        if lp is not None and not paren_depth_at(blanked, lp.start()):
            if lp.group(1) and lp.group(3):
                # DuckDB rejects a doubled OFFSET too
                raise EngineError("OFFSET specified more than once")
            return self._limit_percent(
                stmt[: lp.start()].rstrip(),
                float(lp.group(2)),
                int(lp.group(1) or lp.group(3) or 0),
            )
        # nested percent limits refuse by name — but `%` followed by
        # an operand is MODULO arithmetic in a limit expression
        # (`limit 25 % 7` is legal foldable Spark SQL), not a percent
        # spelling (r10 review #5)
        if re.search(
            r"\blimit\s+[\d.]+\s*(?:%|percent\b)(?!\s*[\w('])",
            blanked, re.I,
        ):
            raise EngineError(
                "LIMIT n% is only supported as the statement's own"
                " final clause — rewrite nested uses with an explicit"
                " row count"
            )
        pat = re.compile(
            r"\boffset\s+(\d+)\s+rows?\b"
            r"(\s+fetch\s+(?:first|next)\s+(?:(\d+)\s+)?rows?\s+only\b)?"
            r"|\bfetch\s+(?:first|next)\s+(?:(\d+)\s+)?rows?\s+only\b",
            re.I,
        )
        out: list[str] = []
        pos = 0
        for m in pat.finditer(blanked):
            # ANSI: the count is optional and defaults to 1
            # (`FETCH FIRST ROW ONLY`)
            if m.group(1) is None:  # bare FETCH alternative matched
                repl = f"limit {m.group(4) or 1}"
            elif m.group(2):  # OFFSET ... FETCH
                repl = f"limit {m.group(3) or 1} offset {m.group(1)}"
            else:  # OFFSET only
                repl = f"offset {m.group(1)}"
            out.append(stmt[pos: m.start()])
            out.append(repl)
            pos = m.end()
        if out:
            out.append(stmt[pos:])
            stmt = "".join(out)
            blanked = blank_literals(stmt)  # re-blank: text changed
        # residual catch-all (r9 ADVICE #3): an ANSI FETCH/OFFSET-ROWS
        # spelling the literal-only pattern could not consume (an
        # expression or parameter count — DuckDB refuses those too)
        # must fail by name, not as Spark's raw parse error
        if re.search(
            r"\bfetch\s+(?:first|next)\b|\boffset\s+\S+\s+rows?\b",
            blanked, re.I,
        ):
            raise EngineError(
                "FETCH FIRST / OFFSET ... ROWS requires a literal"
                " integer count"
            )
        return stmt

    def _limit_percent(self, head: str, pct: float, off: int) -> str:
        """``LIMIT p% [OFFSET m]`` (DuckDB percent limit; either
        clause order): the row budget is floor(p/100 x the statement's
        TOTAL row count, before OFFSET) — probed on this DuckDB build
        (15% of 10 -> 1; ``limit 50% offset 2`` on 10 rows -> 5 rows
        starting at the 3rd). Out-of-range percentages error exactly
        like DuckDB. Two bounded passes: one count scan (Catalyst's
        EliminateSorts drops any ORDER BY under the count) and the
        LIMIT-pushdown scan of the final statement — the same
        cardinality probe any engine needs for a percent limit;
        EXPLAIN runs the count too, and prints the LIMIT it sizes."""
        if not 0 <= pct <= 100:
            raise EngineError(
                "LIMIT percent out of range, should be between 0%"
                " and 100%"
            )
        df = self._plan_engine_select(head)
        view = self._scoped_view(df, "_lp_")
        k = int(df.count() * pct / 100.0)
        tail = f" limit {k}" + (f" offset {off}" if off else "")
        return f"select * from {view}{tail}"

    def _fetch_with_ties(self, head: str, off: int, n: int) -> str:
        """``ORDER BY ... [OFFSET o ROWS] FETCH FIRST n ROWS WITH
        TIES``: the first o+n rows under the total order plus every
        row tying with the (o+n)-th row's sort key, then the first o
        dropped (Postgres evaluation order: OFFSET before FETCH; ties
        extend the FETCH boundary only).

        One lazy plan, the same for EXPLAIN, DESCRIBE, view binding
        and execution (scale-first — NO global-order window, which
        would sort the whole input into one task): (1) ``top`` =
        TakeOrdered o+n rows with the order expressions carried as
        helper columns; (2) the boundary = ``top`` under the REVERSED
        order, LIMIT 1; (3) result = the ``top`` rows not tied with
        the boundary UNION the source rows tied with it, "tied" being
        null-safe equality on every sort key (an anti and a semi join
        against the one boundary row). Bounded scans of the source at
        any scale instead of one total sort, and no row reaches the
        driver. When the input has fewer than o+n rows every row is
        in ``top``, so the same plan is exact.
        An ORDER BY referencing columns the statement does NOT
        project resolves against the SOURCE scope for simple SELECT
        heads (Postgres resolution; ``_ties_source_scope_plan``
        injects the order expressions as helper columns and the
        final projection drops them). DISTINCT heads refuse — as in
        Postgres — and compound/WITH heads keep the
        projected-columns rule (named refusal)."""
        ob = find_top_level_keyword(head, ("order by",))
        if ob is None:
            raise EngineError(
                "FETCH ... WITH TIES requires ORDER BY (ties are"
                " defined by the sort key)"
            )
        order_text = head[ob[0] + len("order by"):].strip()
        if not order_text:
            raise EngineError("FETCH ... WITH TIES: empty ORDER BY")
        items = [
            parse_order_item(o)
            for o in split_top_level(order_text)
        ]
        if n == 0:
            # FETCH FIRST 0 ROWS WITH TIES: zero fetched rows means
            # there is no tie boundary — Postgres returns an empty set
            # even when combined with a nonzero OFFSET (r10 ADVICE #1:
            # the generic path would have made the OFF-th row the
            # boundary and let its ties beyond the page survive).
            df = self._plan_engine_select(head).limit(0)
            return f"select * from {self._scoped_view(df, '_ft_')}"
        # plan the FULL head, ORDER BY included: a DISTINCT ON head
        # NEEDS its ORDER BY (r10 probe — stripping it here made the
        # composition refuse), and the redundant inner sort under the
        # TakeOrdered below is removed by Catalyst's EliminateSorts
        try:
            df = self._plan_engine_select(head)
        except EngineError:
            raise
        except Exception as e:
            if re.match(
                r"^\s*select\s+distinct\b(?!\s+on\b)",
                blank_literals(head), re.I,
            ):
                # Postgres: "for SELECT DISTINCT, ORDER BY
                # expressions must appear in select list" — name the
                # rule instead of Spark's raw unresolved-column error
                raise EngineError(
                    "FETCH ... WITH TIES: for SELECT DISTINCT, ORDER"
                    " BY expressions must appear in the select list"
                    f" ({e})"
                ) from e
            raise
        # ordinal ORDER BY (`order by 1`): a bare integer is a
        # select-list POSITION everywhere else in the engine
        # (Spark orderByOrdinal) — F.expr would build a constant
        # sort key and every row would tie (review r10 #1)
        resolved = []
        for e, d, nl in items:
            if e.isdigit():
                if not 1 <= int(e) <= len(df.columns):
                    raise EngineError(
                        f"ORDER BY position {e} is not in the"
                        " select list"
                    )
                e = df.columns[int(e) - 1]
            resolved.append((e, d, nl))
        items = resolved
        helpers = [f"_ft_o{i}" for i in range(len(items))]
        src_scope = False
        proj_cols: list[str] = list(df.columns)
        try:
            for h, (e, _d, _nl) in zip(helpers, items):
                df = df.withColumn(h, F.expr(e))
        except Exception as e:
            # Postgres resolves the ORDER BY against the SOURCE
            # scope (an unprojected sort key is legal): inject
            # each order expression into the head's select list
            # as a helper column and re-plan — the ties machinery
            # runs on helpers and the final projection drops them
            # (r10 verdict #3; the DISTINCT ON helper-column
            # pattern, one scope earlier)
            df2 = self._ties_source_scope_plan(head, items, helpers)
            if df2 is None:
                raise EngineError(
                    "FETCH ... WITH TIES: the ORDER BY must"
                    " reference columns the statement projects,"
                    " or resolve against a simple SELECT head's"
                    f" source columns ({e})"
                ) from e
            df = df2
            src_scope = True
            proj_cols = [c for c in df.columns if c not in helpers]
        sort_cols = [
            self._order_spec(F.col(h), d, nl)
            for h, (_e, d, nl) in zip(helpers, items)
        ]

        top = df.orderBy(*sort_cols).limit(off + n)
        rev = [
            self._order_spec(F.col(h), d, nl, reverse=True)
            for h, (_e, d, nl) in zip(helpers, items)
        ]
        bound = top.orderBy(*rev).limit(1).select(
            *[F.col(h).alias(f"{h}_b") for h in helpers]
        )
        tied = None
        for h in helpers:
            c = F.col(h).eqNullSafe(F.col(f"{h}_b"))
            tied = c if tied is None else (tied & c)
        final = top.join(bound, tied, "left_anti").unionByName(
            df.join(bound, tied, "left_semi")
        )
        tail = f" offset {off}" if off else ""
        if not src_scope:
            view = self._scoped_view(final.drop(*helpers), "_ft_")
            return f"select * from {view} order by {order_text}{tail}"
        # source scope: the view RETAINS the helper columns (the order
        # keys exist nowhere else once the source columns are
        # projected away) — order by them, project the statement's
        # own columns
        view = self._scoped_view(final, "_ft_")
        sel = ", ".join(f"`{c}`" for c in proj_cols)
        osql = ", ".join(
            f"{h} {d}" + (f" nulls {nl}" if nl else "")
            for h, (_e, d, nl) in zip(helpers, items)
        )
        return f"select {sel} from {view} order by {osql}{tail}"

    def _ties_source_scope_plan(
        self, head: str, items: list, helpers: list[str]
    ) -> DataFrame | None:
        """WITH TIES whose ORDER BY references columns the statement
        does NOT project: Postgres resolves against the source scope,
        so inject each order expression into the head's select list
        as a helper column and re-plan through the full pipeline —
        the ties machinery then sorts/ties on the helpers and the
        final projection drops them (the DISTINCT ON helper-column
        pattern, one scope earlier). Simple SELECT heads only:
        DISTINCT refuses (Postgres: ORDER BY expressions must appear
        in the select list), and compound set operations / WITH
        prefixes keep the projected-columns rule (returns None → the
        caller's named refusal). A GROUP BY head works when
        the expression is a valid post-aggregation expression —
        exactly Postgres's rule — and falls back to the refusal
        otherwise."""
        blanked = blank_literals(head)
        if not re.match(r"^\s*select\s+(?!distinct\b)", blanked, re.I):
            return None
        f = find_top_level_keyword(head, ("from",))
        if f is None or find_top_level_keyword(
            head, ("union", "intersect", "except")
        ) is not None:
            return None
        inj = ", ".join(
            f"({e}) as {h}"
            for (e, _d, _nl), h in zip(items, helpers)
        )
        new_head = f"{head[: f[0]]}, {inj} {head[f[0]:]}"
        try:
            return self._plan_engine_select(new_head)
        except Exception:
            return None

    def _rewrite_union_by_name(self, stmt: str) -> str:
        """``<q> UNION [ALL] BY NAME <q> [...]`` (DuckDB; Spark SQL
        has no BY NAME union). Columns bind by NAME, not position; a
        column present on only one side fills NULL on the other; the
        result's column order is the left query's columns followed by
        each right query's new columns — exactly Spark's
        ``unionByName(allowMissingColumns=True)``, which this rewrite
        lowers onto (set-operation type widening included, via the
        analyzer's normal union rules). UNION BY NAME (no ALL)
        deduplicates the COMBINED rows after each fold step, DuckDB's
        left-associative semantics. The fold is lazy — one temp view
        over the union plan, no materialization here.

        Branches are full engine statements: each runs the surface
        pipeline (``_rewrite_surfaces``) before planning, so
        engine-only SQL composes on either side. A branch after the
        first separator that itself contains a top-level plain
        UNION/INTERSECT/EXCEPT is refused
        by name: DuckDB binds those left-associatively across the BY
        NAME boundary, which a branch-local Spark plan would silently
        mis-associate — parenthesize to disambiguate."""
        _blank = blank_literals
        blanked = _blank(stmt)
        seps: list[tuple[int, int, bool]] = []  # (start, end, is_all)
        depth = 0
        for m in re.finditer(
            r"[()]|\bunion\s+(all\s+)?by\s+name\b", blanked, re.I
        ):
            tok = m.group(0)
            if tok == "(":
                depth += 1
            elif tok == ")":
                depth -= 1
            elif depth == 0:
                seps.append((m.start(), m.end(), bool(m.group(1))))
        if not seps:
            if re.search(r"\bunion\s+(?:all\s+)?by\s+name\b", blanked, re.I):
                # The spelling lives at paren depth > 0 — a FROM
                # subquery, derived table, or IN/EXISTS body (the r9
                # named refusal, lifted per r9 verdict #5). Each
                # parenthesized group whose content carries the
                # spelling recurses through THIS rewrite standalone
                # (the content sees its own union at depth 0 — or, if
                # nested deeper, re-enters this lift), and the group
                # is spliced to a select over the bound view. CTE
                # bodies never reach here: the binder runs the
                # rewrite on each body at depth 0 first.
                return self._lift_union_by_name_subqueries(stmt, blanked)
            return stmt
        pieces: list[str] = []
        pos = 0
        for s, e, _a in seps:
            pieces.append(stmt[pos:s])
            pos = e
        pieces.append(stmt[pos:])
        # trailing ORDER BY / LIMIT / OFFSET at the top level of the
        # LAST piece belongs to the whole compound statement (standard
        # SQL). OFFSET in the tuple is load-bearing (r9 verdict #1): a
        # bare trailing OFFSET left on the last branch would silently
        # bind branch-level while DuckDB binds it to the compound.
        trailing = ""
        t = find_top_level_keyword(
            pieces[-1], ("order by", "limit", "offset")
        )
        if t is not None:
            trailing = " " + pieces[-1][t[0]:].strip()
            pieces[-1] = pieces[-1][: t[0]]
        for p in pieces[1:]:
            found = find_top_level_keyword(
                p, ("union", "intersect", "except")
            )
            # `select * except (cols)` is star-projection EXCEPT (the
            # engine's supported q_select_except surface), not a set
            # operation — only a non-star-adjacent keyword is a set op
            while found is not None and re.search(
                r"\*\s*$", _blank(p)[: found[0]]
            ):
                found = find_top_level_keyword(
                    p, ("union", "intersect", "except"),
                    start=found[0] + len(found[1]),
                )
            if found is not None:
                raise EngineError(
                    "UNION BY NAME: a plain UNION/INTERSECT/EXCEPT in"
                    " a later branch is ambiguous across the BY NAME"
                    " boundary — parenthesize the sub-union"
                )
        dfs: list[DataFrame] = []
        for p in pieces:
            p = p.strip()
            # a fully parenthesized operand: strip the outer parens
            if p.startswith("(") and match_bracket(p, 0) == len(p) - 1:
                p = p[1:-1].strip()
            # a parenthesized BY NAME sub-union re-enters this
            # rewrite at depth 0 after the paren strip above
            dfs.append(self.spark.sql(self._rewrite_surfaces(p)))
        acc = dfs[0]
        for df, (_s, _e, is_all) in zip(dfs[1:], seps):
            acc = acc.unionByName(df, allowMissingColumns=True)
            if not is_all:
                acc = acc.dropDuplicates()
        view = self._scoped_view(acc, "_ubn_")
        return f"select * from {view}{trailing}"

    def _lift_engine_subqueries(self, stmt: str) -> str:
        """Generic subquery lift for the select-anchored engine-only
        surfaces (r10 — closes the composability class the BY NAME
        lift opened): a parenthesized subquery whose content carries a
        top-level QUALIFY, a leading DISTINCT ON, or a leading
        star-REPLACE cannot reach the depth-0 rewrites and previously
        died as a raw Spark parse error (QUALIFY) or a named refusal
        (the others) where DuckDB executes inline. Each such group
        plans through the FULL engine pipeline standalone
        (``_plan_engine_select`` — which re-enters this lift, so
        nesting composes) and splices to a select over the bound lazy
        view. Purely structural: views are named logical plans, the
        outer statement's own plan is unchanged. Correlated bodies
        cannot bind standalone and are refused by name. Groups with
        none of the spellings pass through untouched — Spark plans
        them natively (LATERAL correlation intact)."""
        blanked = blank_literals(stmt)
        out: list[str] = []
        i = 0
        changed = False
        while i < len(stmt):
            if blanked[i] == "(":
                cp = match_bracket(stmt, i)
                inner = stmt[i + 1: cp].strip()
                # slice of the ONE whole-statement blank — same
                # length as stmt, so no per-group re-blanking
                # (r10 review #7: O(n x parens) on IN-list-heavy
                # statements)
                ib = blanked[i + 1: cp].strip()
                # FROM-first and PIVOT/UNPIVOT-statement subquery
                # groups always lift: the standalone plan
                # normalizes them (Spark cannot parse the
                # spellings)
                if re.match(r"^\s*(?:from|pivot|unpivot)\b", ib, re.I):
                    try:
                        df = self._plan_engine_select(inner)
                    except EngineError:
                        raise
                    except Exception as e:
                        raise EngineError(
                            f"FROM-first subquery failed: {e}"
                        ) from e
                    view = self._scoped_view(df, "_esq_")
                    out.append(f"(select * from {view})")
                    changed = True
                    i = cp + 1
                    continue
                needs = bool(re.match(r"^\s*select\b", ib, re.I)) and (
                    find_top_level_keyword(ib, ("qualify",))
                    is not None
                    or re.match(
                        r"^\s*select\s+distinct\s+on\s*\(", ib, re.I
                    )
                    or re.match(
                        # optional alias prefix (`t.* REPLACE`):
                        # the spelling must LIFT so the top-level
                        # rewrite's named refusal reaches the user
                        # instead of a raw Spark parse error (r10
                        # ADVICE #3; same prefix as the binder
                        # gate)
                        r"^\s*select\s+(?:distinct\s+)?"
                        r"(?:\w+\s*\.\s*)?\*\s+replace"
                        r"\s*\(", ib, re.I,
                    )
                    # a COLUMNS() call belonging to the content's
                    # OWN scope — possibly inside function parens
                    # like sum(columns(..)), but not a deeper
                    # subquery's (recursion resolves those)
                    or any(
                        not self._inside_nested_select(
                            ib, cm.start()
                        )
                        for cm in re.finditer(
                            r"\bcolumns\s*\(", ib, re.I
                        )
                    )
                    # an ASOF / POSITIONAL JOIN at the content's
                    # own top level: the depth-0 rewrites cannot
                    # scope inside a subquery (r10 probe — the
                    # asof ON-parser ran past the closing paren)
                    or any(
                        paren_depth_at(ib, am.start()) == 0
                        for kw in (self._ASOF_KW, self._POSITIONAL_KW)
                        for am in kw.finditer(ib)
                    )
                    # USING SAMPLE at the content's own top
                    # level: the depth-0 sample rewrite refuses
                    # inside subqueries, the standalone plan
                    # handles it
                    or any(
                        paren_depth_at(ib, um.start()) == 0
                        for um in re.finditer(
                            r"\busing\s+sample\b", ib, re.I
                        )
                    )
                )
                if needs:
                    try:
                        df = self._plan_engine_select(inner)
                    except EngineError:
                        raise
                    except Exception as e:
                        # equi-correlated bodies decorrelate
                        # (r10 verdict #2) before refusing
                        deco = self._decorrelate_engine_subquery(
                            inner
                        )
                        if deco is None:
                            raise EngineError(
                                "QUALIFY / DISTINCT ON / *"
                                " REPLACE in a subquery must be"
                                " uncorrelated or equi-correlated"
                                " (the body plans standalone):"
                                f" {e}"
                            ) from e
                        out.append(f"({deco})")
                        changed = True
                        i = cp + 1
                        continue
                    view = self._scoped_view(df, "_esq_")
                    out.append(f"(select * from {view})")
                    changed = True
                    i = cp + 1
                    continue
            out.append(stmt[i])
            i += 1
        return "".join(out) if changed else stmt

    def _decorrelate_engine_subquery(self, body: str) -> str | None:
        """Equi-correlated engine-only subquery bodies (DuckDB
        executes QUALIFY inline under correlation; before r11 these
        were a named refusal): a body whose top-level WHERE carries
        ``<inner expr> = <outer expr>`` conjuncts decorrelates with
        the classic rewrite — drop each correlation conjunct, project
        its inner side as a helper column, PARTITION every top-level
        window by the helpers (DuckDB's per-outer-row evaluation IS
        per-correlation-group evaluation), extend any explicit GROUP
        BY with them, plan the rebuilt body standalone through the
        full pipeline, and splice a correlated equality filter over
        the bound view — a plain correlated predicate Spark plans
        natively (same shape as any uncorrelated-engine + correlated-
        plain subquery).

        Classification is PLAN-BASED, not syntactic: a conjunct is
        'plain' iff it resolves against the body's own FROM sources,
        'correlation' iff exactly one side does — a column that only
        LOOKS outer can never misroute, and a conjunct that resolves
        on neither side returns None (out of class → the caller's
        named refusal). Also out of class: DISTINCT [ON] bodies
        (per-group semantics the partition injection cannot express),
        named WINDOW clauses (``over w`` is out of the injection's
        reach), non-equality correlation.

        Scale: the spliced view is ONE windowed scan of the body's
        sources partitioned by the correlation key — never a
        per-outer-row re-execution; the outer statement's own plan
        (the correlated IN/EXISTS/scalar machinery) is Spark's."""
        blanked = blank_literals(body)
        if not re.match(r"^\s*select\b", blanked, re.I):
            return None
        # DISTINCT ON decorrelates (the correlation keys become
        # LEADING on-keys + leading ORDER BY items: the per-outer-row
        # first-pick becomes the per-correlation-group first-pick);
        # plain SELECT DISTINCT does not (its dedup would span
        # correlation groups)
        don_m = re.match(
            r"^\s*select\s+distinct\s+on\s*\(", blanked, re.I
        )
        if not don_m and re.match(
            r"^\s*select\s+distinct\b", blanked, re.I
        ):
            return None
        if find_top_level_keyword(body, ("window",)):
            return None
        if find_top_level_keyword(body, ("limit", "offset")):
            # a LIMIT/OFFSET in a correlated body applies PER OUTER
            # ROW (DuckDB evaluates the body per correlation value);
            # the global rewrite would apply it once across all
            # groups — out of class
            return None
        f = find_top_level_keyword(body, ("from",))
        w = find_top_level_keyword(body, ("where",))
        if f is None or w is None or w[0] < f[0]:
            return None
        tail_kw = find_top_level_keyword(
            body,
            ("group by", "having", "qualify", "order by", "limit",
             "offset"),
            start=w[0] + 5,
        )
        wend = tail_kw[0] if tail_kw else len(body)
        where_text = body[w[0] + 5: wend]
        sources = body[f[0] + 4: w[0]]

        def _resolves(expr: str) -> bool:
            try:
                self.spark.sql(f"select ({expr}) as p from {sources}")
                return True
            except Exception:
                return False

        plain: list[str] = []
        corr: list[tuple[str, str]] = []  # (inner side, outer side)
        for c in self._split_conjuncts(where_text):
            if _resolves(c):
                plain.append(c)
                continue
            sides = split_top_level(c, "=")
            if len(sides) != 2:
                return None
            lhs, rhs = sides[0].strip(), sides[1].strip()
            # a bare '=' only: reject halves the '=' split carved out
            # of >=, <=, <>, !=, == comparators
            if (
                not lhs or not rhs
                or lhs[-1] in "<>!=" or rhs[0] in "="
            ):
                return None
            li, ri = _resolves(lhs), _resolves(rhs)
            if li == ri:
                return None
            corr.append((lhs, rhs) if li else (rhs, lhs))
        if not corr:
            return None  # body failed to plan for another reason
        helpers = [f"_corr{i}" for i in range(len(corr))]
        inj = ", ".join(
            f"({inner}) as {h}"
            for (inner, _o), h in zip(corr, helpers)
        )
        part = ", ".join(inner for inner, _o in corr)
        head_txt = body[: f[0]].rstrip()
        if don_m:
            op = don_m.end() - 1  # the '(' of the ON list
            head_txt = (
                body[: op + 1] + part + ", "
                + body[op + 1: f[0]].rstrip()
            )
        tail = body[wend:] if tail_kw else ""
        if tail_kw and tail_kw[1] == "group by":
            # extend the explicit group list with the correlation
            # keys; the list ends at the next top-level clause.
            # GROUP BY ALL stays untouched (review r11 #4: it groups
            # by every non-aggregate select item, which now includes
            # the injected helpers — appending to it would turn ALL
            # into a column identifier)
            gend = find_top_level_keyword(
                tail,
                ("having", "qualify", "order by", "limit", "offset"),
                start=len("group by"),
            )
            ge = gend[0] if gend else len(tail)
            if tail[len("group by"): ge].strip().lower() != "all":
                tail = f"{tail[:ge].rstrip()}, {part} {tail[ge:]}"
        if don_m:
            # the DISTINCT ON rewrite's Postgres contract: ORDER BY
            # leads with the ON keys — the correlation keys go first
            ob = find_top_level_keyword(tail, ("order by",))
            if ob is None:
                return None  # the rewrite requires an ORDER BY
            cut = ob[0] + len("order by")
            tail = f"{tail[:cut]} {part}, {tail[cut:].lstrip()}"
        rebuilt = (
            head_txt + ", " + inj + " from " + sources
            + (" where " + " and ".join(plain) if plain else " ")
            + " " + tail
        )
        rebuilt = self._inject_partition_keys(rebuilt, part)
        try:
            df = self._plan_engine_select(rebuilt)
        except Exception:
            return None
        view = self._scoped_view(df, "_esq_")
        proj = df.columns[: -len(helpers)]
        sel = ", ".join(f"`{c}`" for c in proj)
        pred = " and ".join(
            f"{h} = ({outer})"
            for h, (_i, outer) in zip(helpers, corr)
        )
        return f"select {sel} from {view} where {pred}"

    def _split_conjuncts(self, text: str) -> list[str]:
        """Split a predicate on top-level AND (paren/literal-aware,
        via the same keyword scanner every clause split uses)."""
        parts: list[str] = []
        pos = 0
        while True:
            hit = find_top_level_keyword(text, ("and",), pos)
            if hit is None:
                parts.append(text[pos:].strip())
                return parts
            parts.append(text[pos: hit[0]].strip())
            pos = hit[0] + 3

    def _inject_partition_keys(self, text: str, keys: str) -> str:
        """Prepend ``partition by <keys>`` to every OVER (...) clause
        of the statement's OWN scope (merging with an existing
        PARTITION BY) — including windows wrapped in function calls
        like ``coalesce(row_number() over (...), 1)`` (review r11
        #2: a paren-depth check skipped those, leaving the window
        globally partitioned — silently wrong per-group results);
        windows inside nested subqueries are their own scope and
        stay untouched."""
        blanked = blank_literals(text)
        out: list[str] = []
        i = 0
        n = len(text)
        while i < n:
            m = re.match(r"over\s*\(", blanked[i:], re.I)
            if (
                m
                and not self._inside_nested_select(blanked, i)
                and (
                    i == 0
                    or not (
                        blanked[i - 1].isalnum()
                        or blanked[i - 1] == "_"
                    )
                )
            ):
                j = i + m.end()  # right after the '('
                pm = re.match(
                    r"\s*partition\s+by\b", blanked[j:], re.I
                )
                if pm:
                    out.append(
                        text[i:j] + f"partition by {keys},"
                    )
                    j += pm.end()
                else:
                    out.append(text[i:j] + f"partition by {keys} ")
                i = j
                continue
            out.append(text[i])
            i += 1
        return "".join(out)

    def _lift_union_by_name_subqueries(self, stmt: str, blanked: str) -> str:
        """Splice every parenthesized group containing a BY NAME union
        into a select over a per-statement view (the group content
        runs the full ``_rewrite_union_by_name`` recursively — nested
        engine surfaces in the branches compose as usual). The lift is
        purely structural: views are named logical plans, so nothing
        materializes here and the outer statement's own plan (joins,
        aggregates over the derived table) is unchanged. A correlated
        subquery cannot bind standalone and is refused by name."""
        out: list[str] = []
        i = 0
        changed = False
        while i < len(stmt):
            if blanked[i] == "(":
                cp = match_bracket(stmt, i)
                if re.search(
                    r"\bunion\s+(?:all\s+)?by\s+name\b",
                    blanked[i + 1: cp], re.I,
                ):
                    try:
                        inner = self._rewrite_union_by_name(
                            stmt[i + 1: cp].strip()
                        )
                    except EngineError:
                        raise
                    except Exception as e:
                        raise EngineError(
                            "UNION BY NAME in a subquery must be"
                            " uncorrelated (the branches plan"
                            f" standalone): {e}"
                        ) from e
                    out.append(f"({inner})")
                    changed = True
                    i = cp + 1
                    continue
            out.append(stmt[i])
            i += 1
        if not changed:  # backstop — should be unreachable
            raise EngineError(
                "UNION BY NAME inside a subquery is not supported"
                " — lift the union into a WITH clause"
            )
        return "".join(out)

    @staticmethod
    def _inside_nested_select(blank: str, idx: int) -> bool:
        """True when position ``idx`` sits inside a parenthesized
        SELECT (a subquery — another statement's scope); false for
        positions inside plain function/grouping parens. The COLUMNS
        machinery and the decorrelation window injection operate only
        on their own statement's scope — subquery content belongs to
        the recursing lift."""
        stack: list[int] = []
        for i in range(idx):
            c = blank[i]
            if c == "(":
                stack.append(i)
            elif c == ")" and stack:
                stack.pop()
        for op in stack:
            # skip ALL whitespace after the paren (a multi-line
            # subquery can indent SELECT past any fixed window —
            # review r11 #3), then check the word
            j = op + 1
            n = len(blank)
            while j < n and blank[j].isspace():
                j += 1
            if blank[j: j + 6].lower() == "select" and (
                j + 6 >= n
                or not (blank[j + 6].isalnum() or blank[j + 6] == "_")
            ):
                return True
        return False

    def _inline_columns_windows(
        self, stmt: str, blanked: str
    ) -> tuple[str, str]:
        """A named WINDOW definition whose spec holds a COLUMNS
        template (DuckDB-probed: ``over w`` with ``window w as
        (partition by columns('b.*'))`` fans the REFERENCING select
        item out per matching column, exactly like an inline OVER)
        cannot expand in place — the fan-out happens at each use
        site. Inline such definitions into their ``over <name>``
        references and drop them from the clause (an UNREFERENCED
        templated window simply vanishes — DuckDB ignores it too);
        the ordinary select-item expansion then owns the copies.
        Definitions without COLUMNS stay native (Spark has the
        WINDOW clause)."""
        wk = find_top_level_keyword(stmt, ("window",))
        if wk is None or not re.search(
            r"\bcolumns\s*\(", blanked[wk[0]:], re.I
        ):
            return stmt, blanked
        nxt = find_top_level_keyword(
            stmt, ("order by", "limit", "offset"), wk[0] + 6
        )
        cl_end = nxt[0] if nxt else len(stmt)
        clause = stmt[wk[0] + 6: cl_end]
        keep: list[str] = []
        inline: dict[str, str] = {}
        for d in split_top_level(clause):
            dm = re.match(r"^\s*(\w+)\s+as\s*\((.*)\)\s*$", d, re.S | re.I)
            if dm and re.search(
                r"\bcolumns\s*\(", blank_literals(dm.group(2)), re.I
            ):
                inline[dm.group(1).lower()] = dm.group(2).strip()
            else:
                keep.append(d.strip())
        if not inline:
            return stmt, blanked
        head = stmt[: wk[0]]
        for name, spec in inline.items():
            head = re.sub(
                rf"\bover\s+{re.escape(name)}\b",
                lambda _m: f"over ({spec})",
                head, flags=re.I,
            )
        rebuilt = head + (
            f"window {', '.join(keep)} " if keep else ""
        ) + stmt[cl_end:]
        return rebuilt, blank_literals(rebuilt)

    def _rewrite_columns_projection(self, stmt: str) -> str:
        """DuckDB ``COLUMNS('regex')`` / ``COLUMNS(*)`` dynamic
        projection (absent from Spark SQL): every expression
        containing a top-level COLUMNS call is a TEMPLATE that
        expands once per FROM-list column whose NAME matches the
        regex (full-match), with the call replaced by the quoted
        column name. DuckDB-probed semantics: a select item keeps
        the PLAIN column name (``sum(columns('a.*')*2)`` → one
        ``sum(`c`*2) AS `c``` per match) unless it carries its own
        alias; a WHERE template AND-folds across matches (the whole
        predicate expands per column); GROUP BY and ORDER BY items
        fan out into per-column keys; two DIFFERENT COLUMNS
        arguments inside one expression refuse by name (DuckDB:
        "Multiple different STAR/COLUMNS in the same expression"),
        the same call repeated substitutes the same column. Pure
        textual expansion against the FROM list's schema — exactly
        the star-REPLACE move — so the result plans as an ordinary
        projection/aggregate; names backtick-quote (r10 ADVICE #2).
        Zero matches refuse (DuckDB errors on empty expansions);
        HAVING/QUALIFY/WINDOW positions refuse by name; calls at
        paren depth > 0 belong to subqueries and are the lift's."""
        blanked = blank_literals(stmt)
        m = re.match(r"^\s*select\s+(distinct\s+)?", stmt, re.I)
        if not m or not re.search(r"\bcolumns\s*\(", blanked, re.I):
            return stmt

        def _calls_in(
            seg: str, seg_blank: str
        ) -> list[tuple[int, int, int, int]]:
            """Own-scope COLUMNS calls as (start, end, arg_start,
            arg_end) — paren-matched, so lambda predicates nest
            arbitrarily (review r11 #5: the old regex allowed one
            level and deeper predicates fell through to a raw Spark
            error)."""
            calls: list[tuple[int, int, int, int]] = []
            last_end = -1
            for cm in re.finditer(r"\bcolumns\s*\(", seg_blank, re.I):
                if cm.start() < last_end:
                    continue  # inside a previous call's argument
                if self._inside_nested_select(seg_blank, cm.start()):
                    continue
                cp = match_bracket(seg, cm.end() - 1)
                calls.append((cm.start(), cp + 1, cm.end(), cp))
                last_end = cp + 1
            return calls

        if not _calls_in(stmt, blanked):
            return stmt  # nested only: the subquery lift owns those
        stmt, blanked = self._inline_columns_windows(stmt, blanked)
        f = find_top_level_keyword(stmt, ("from",))
        if f is None:
            raise EngineError("COLUMNS(...) requires a FROM source")
        sel = stmt[m.end(): f[0]]
        tail = stmt[f[0] + 4:]
        clause_kws = (
            "where", "group by", "having", "qualify", "window",
            "order by", "limit", "offset",
        )
        t = find_top_level_keyword(tail, clause_kws)
        sources = tail[: t[0]] if t else tail
        try:
            cols = self.spark.sql(f"select * from {sources}").columns
        except Exception as e:
            raise EngineError(
                "COLUMNS(...): could not resolve the FROM source's"
                f" columns ({e})"
            ) from e

        def _matched(arg: str) -> list[str]:
            a = arg.strip()
            if a == "*":
                return list(cols)
            if a.startswith("*"):
                # * EXCLUDE (names) — unknown names error (DuckDB:
                # "Column ... in EXCLUDE list not found")
                exm = re.match(
                    r"^\*\s*exclude\s*\(([^()]*)\)$", a, re.I
                )
                excl = {
                    x.strip().strip('`"').lower()
                    for x in exm.group(1).split(",")
                    if x.strip()
                }
                unknown = excl - {c.lower() for c in cols}
                if unknown:
                    raise EngineError(
                        f"COLUMNS(...): column(s) {sorted(unknown)}"
                        " in EXCLUDE list not found in FROM clause"
                    )
                matched = [c for c in cols if c.lower() not in excl]
            elif a.startswith("'"):
                pat = a[1:-1].replace("''", "'")
                try:
                    crex = re.compile(pat)
                except re.error as e:
                    raise EngineError(
                        f"COLUMNS(...): bad regex {pat!r} ({e})"
                    ) from e
                matched = [c for c in cols if crex.fullmatch(c)]
            else:
                # name-predicate lambda `ident -> <pred>`: evaluate
                # the predicate over the column NAMES as one local
                # VALUES relation (LocalTableScan — driver-side, no
                # data I/O, EXPLAIN-safe), the names column bound AS
                # the lambda identifier so the predicate text runs
                # verbatim
                lm = re.match(r"^(\w+)\s*->\s*(.+)$", a, re.S)
                if not lm:
                    raise EngineError(
                        f"COLUMNS(...): unsupported argument {a!r}"
                    )
                ident, pred = lm.group(1), lm.group(2).strip()
                vals = ", ".join(
                    "('" + c.replace("'", "''") + "')" for c in cols
                )
                try:
                    keep = {
                        r[0]
                        for r in self.spark.sql(
                            f"select {ident} from (values {vals})"
                            f" as _cl({ident}) where {pred}"
                        ).collect()
                    }
                except Exception as e:
                    raise EngineError(
                        f"COLUMNS(...): lambda predicate failed ({e})"
                    ) from e
                matched = [c for c in cols if c in keep]
            if not matched:
                raise EngineError(
                    f"COLUMNS(...) matched no columns of {cols}"
                )
            return matched

        def _expand(seg: str, alias: bool) -> list[str]:
            """One expression segment → its per-column copies."""
            sb = blank_literals(seg)
            calls = _calls_in(seg, sb)
            raw_args = {seg[a0:a1].strip() for _s, _e, a0, a1 in calls}
            if len(raw_args) > 1:
                raise EngineError(
                    "multiple different COLUMNS(...) arguments in"
                    " the same expression are not supported"
                )
            out: list[str] = []
            for col in _matched(raw_args.pop()):
                pieces: list[str] = []
                pos = 0
                for s, e, _a0, _a1 in calls:
                    pieces.append(seg[pos:s])
                    pieces.append(f"`{col}`")
                    pos = e
                pieces.append(seg[pos:])
                body = "".join(pieces).strip()
                out.append(f"{body} as `{col}`" if alias else body)
            return out

        out_items: list[str] = []
        for item in split_top_level(sel):
            ib = blank_literals(item)
            if not _calls_in(item, ib):
                out_items.append(item.strip())
                continue
            # an alias applies to EVERY expansion (DuckDB: duplicate
            # output names) — only unaliased items take the plain
            # column name. Recognized spellings (review r11 #7): AS
            # with a bare or backtick-quoted name, and the IMPLICIT
            # trailing-identifier alias (`f(x) foo`) when the token
            # before it ends an operand (wordchar/paren/backtick/
            # quote), not an operator.
            has_alias = bool(
                re.search(r"\s+as\s+(`[^`]*`|\w+)\s*$", ib, re.I)
            )
            if not has_alias:
                im = re.match(
                    r"^(.*?)\s+(`[^`]*`|[A-Za-z_]\w*)\s*$",
                    ib.strip(), re.S,
                )
                if im and im.group(2).lower() not in (
                    # trailing keywords that END an expression, never
                    # name it: CASE's END and interval unit words
                    # (review r11 #7)
                    "null", "true", "false", "unknown", "asc", "desc",
                    "end", "day", "days", "month", "months", "year",
                    "years", "hour", "hours", "minute", "minutes",
                    "second", "seconds", "week", "weeks", "quarter",
                    "quarters",
                ):
                    prev = im.group(1).rstrip()
                    if prev and (
                        prev[-1] in ")`'*"
                        or prev[-1].isalnum()
                        or prev[-1] == "_"
                    ):
                        has_alias = True
            out_items.extend(_expand(item, alias=not has_alias))
        new_sel = ", ".join(out_items)
        # tail clauses: WHERE AND-folds, GROUP BY / ORDER BY items
        # fan out, the rest refuse by name
        rebuilt_tail: list[str] = [sources]
        pos = t[0] if t else None
        while pos is not None:
            kw = find_top_level_keyword(tail, clause_kws, pos)
            seg_start = kw[0] + len(kw[1])
            nxt = find_top_level_keyword(
                tail, clause_kws, seg_start
            )
            seg = tail[seg_start: nxt[0] if nxt else len(tail)]
            sb = blank_literals(seg)
            if not _calls_in(seg, sb):
                rebuilt_tail.append(kw[1] + seg)
            elif kw[1] == "where":
                folded = " and ".join(
                    f"({x})" for x in _expand(seg, alias=False)
                )
                rebuilt_tail.append(f"where {folded} ")
            elif kw[1] in ("group by", "order by"):
                items: list[str] = []
                for it in split_top_level(seg):
                    if _calls_in(it, blank_literals(it)):
                        items.extend(_expand(it, alias=False))
                    else:
                        items.append(it.strip())
                rebuilt_tail.append(f"{kw[1]} {', '.join(items)} ")
            else:
                # DuckDB itself binder-errors on COLUMNS in HAVING
                # and QUALIFY ("STAR expression is not supported
                # here", probed r12) — the refusal MATCHES the
                # dialect; templated WINDOW definitions were already
                # inlined above, so a call here is out of scope
                raise EngineError(
                    "COLUMNS(...) is supported in the select list"
                    " (incl. OVER specs and named-WINDOW"
                    " definitions), WHERE, GROUP BY, and ORDER BY —"
                    f" not in {kw[1].upper()} (DuckDB refuses there"
                    " too)"
                )
            pos = nxt[0] if nxt else None
        return (
            stmt[: m.end()] + new_sel + " from " + "".join(rebuilt_tail)
        )

    # A select-list star-REPLACE anywhere (after SELECT or a comma, so
    # a multiplication by the replace() string function — `a *
    # replace(b, 'x', 'y')` — can never match); scan literal-blanked.
    _STAR_REPLACE_RE = re.compile(
        r"(?:\bselect\s+(?:distinct\s+)?|,\s*)(?:\w+\s*\.\s*)?"
        r"\*\s+replace\s*\(", re.I,
    )

    def _rewrite_select_replace(self, stmt: str) -> str:
        """``SELECT [DISTINCT] * REPLACE (expr AS col [, ...]) FROM
        ...`` (DuckDB star-REPLACE; Spark has EXCEPT but no REPLACE).
        Expanded textually: the FROM list (everything from the
        top-level FROM up to the first top-level
        WHERE/GROUP/HAVING/QUALIFY/WINDOW/ORDER/LIMIT) is planned once
        as ``select * from <sources>`` — lazy, schema only — and the
        star is replaced by the full column list with each REPLACE
        target substituted IN PLACE (DuckDB keeps the column's
        original position and name). The rest of the statement passes
        through untouched, so WHERE/QUALIFY/ORDER compose downstream.
        Runs after the ASOF/range source rewrites in the pipeline, so
        engine-only sources are already plain views here. A REPLACE
        target not in the source's columns is refused by name (DuckDB
        errors too). The alias-qualified ``t.* REPLACE (...)``
        spelling expands only ``t``'s columns (DuckDB; r10 ADVICE #3
        upgraded the named refusal to an execution)."""
        m = re.match(
            r"^\s*select\s+(distinct\s+)?(?:(\w+)\s*\.\s*)?\*"
            r"\s+replace\s*\(", stmt, re.I,
        )
        if not m:
            # catch-all: star-REPLACE anywhere else (subquery, after
            # DISTINCT ON, qualified `t.*`) is unsupported — fail by
            # name, not as Spark's raw parse error.
            if self._STAR_REPLACE_RE.search(blank_literals(stmt)):
                raise EngineError(
                    "SELECT * REPLACE is only supported as the"
                    " statement's own select list — rewrite nested"
                    " uses as an outer query over a subquery"
                )
            return stmt
        cp = match_bracket(stmt, m.end() - 1)
        items = split_top_level(stmt[m.end(): cp])
        rest = stmt[cp + 1:]
        repl: dict[str, str] = {}
        for it in items:
            im = re.match(r"^(.*\S)\s+as\s+(\w+)\s*$", it.strip(),
                          re.I | re.S)
            if not im:
                raise EngineError(
                    "SELECT * REPLACE expects `expr AS column` items"
                )
            key = im.group(2).lower()
            if key in repl:  # DuckDB raises too — silent last-wins
                raise EngineError(
                    f"SELECT * REPLACE: duplicate entry"
                    f" {im.group(2)!r} in the REPLACE list"
                )
            repl[key] = im.group(1)
        f = find_top_level_keyword(rest, ("from",))
        if f is None:
            raise EngineError("SELECT * REPLACE: no FROM clause")
        tail = rest[f[0] + 4:]
        t = find_top_level_keyword(
            tail, ("where", "group by", "having", "qualify",
                   "window", "order by", "limit", "offset"),
        )
        sources = tail[: t[0]] if t else tail
        alias = m.group(2)
        star = f"{alias}.*" if alias else "*"
        try:
            cols = self.spark.sql(
                f"select {star} from {sources}"
            ).columns
        except Exception as e:
            raise EngineError(
                "SELECT * REPLACE: could not resolve the FROM"
                " source's columns — move engine-only sources (ASOF,"
                f" range joins) into a WITH clause first ({e})"
            ) from e
        missing = [c for c in repl if c not in {x.lower() for x in cols}]
        if missing:
            raise EngineError(
                f"SELECT * REPLACE: column(s) {missing} not in the"
                f" FROM source ({cols})"
            )
        qual = f"`{alias}`." if alias else ""
        sel = ", ".join(
            f"({repl[c.lower()]}) AS `{c}`" if c.lower() in repl
            else f"{qual}`{c}`"
            for c in cols
        )
        distinct = m.group(1) or ""
        return f"select {distinct}{sel} {rest.lstrip()}"

    def _rewrite_range_join(self, stmt: str) -> str:
        """Substitute the bucketed interval-join plan for a plain inner
        point-in-interval join (same result set — inner join + exact
        range filter — different asymptotics). Fires ONLY on the exact
        shape `FROM p [pa] [INNER] JOIN i [ia] ON <eq AND>*
        pa.ts BETWEEN ia.lo AND ia.hi`; anything else is returned
        unchanged for Spark to plan. The view splices in through
        ``_splice_join_views``, as the ASOF and POSITIONAL views do."""
        from andb_spark.operators.rangejoin import bucketed_interval_join

        def _shape(conds: str, pa: str, ia: str):
            """(equality column pairs, (point, lo, hi) columns) of a
            supported ON clause, else None."""
            # Extract the BETWEEN condition FIRST: its own "AND"
            # (between lo AND hi) must not feed the conjunct split.
            bm = re.search(
                r"(\w+)\.(\w+)\s+between\s+(\w+)\.(\w+)"
                r"\s+and\s+(\w+)\.(\w+)",
                conds, re.I,
            )
            if not bm:
                return None
            p_al, p_col, lo_al, lo_col, hi_al, hi_col = bm.groups()
            if p_al != pa or lo_al != ia or hi_al != ia:
                return None  # not the supported shape
            eqs: list[tuple[str, str]] = []
            remainder = conds[: bm.start()] + conds[bm.end():]
            for cond in re.split(r"\s+and\s+", remainder, flags=re.I):
                if not cond.strip():
                    continue  # remnant of the excised BETWEEN
                em = re.match(
                    r"^\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*$", cond
                )
                if not em:
                    return None
                a_al, a_col, b_al, b_col = em.groups()
                if (a_al, b_al) == (pa, ia):
                    eqs.append((a_col, b_col))
                elif (a_al, b_al) == (ia, pa):
                    eqs.append((b_col, a_col))
                else:
                    return None
            return eqs, (p_col, lo_col, hi_col)

        joins: list = []
        hidden: set[tuple[str, str]] = set()
        for m in self._RANGE_RE.finditer(blank_literals(stmt)):
            pt, it = m.group("pt"), m.group("it")
            pa = m.group("pa") or pt
            ia = m.group("ia") or it
            shape = _shape(
                stmt[m.start("conds"): m.end("conds")].strip(), pa, ia
            )
            if shape is None:
                continue
            eqs, (p_col, lo_col, hi_col) = shape
            points = self.spark.table(pt)
            intervals = self.spark.table(it)
            keys = []
            for n, (pc, ic) in enumerate(eqs):
                k = f"_rj_k{n}"
                points = points.withColumn(k, F.col(pc))
                intervals = intervals.withColumn(k, F.col(ic))
                keys.append(k)
            bucket_s = int(
                self.session_vars.get("andb.range_bucket_seconds", 1800)
            )
            # drop colliding interval columns (the view namespace is
            # flat); join keys stay available under their point names.
            # Collision checks compare LOWER-CASED names: Spark
            # resolution is case-insensitive by default, so an interval
            # 'TS' does collide with a point 'ts' (ADVICE r6 — the
            # case-sensitive check neither dropped it nor recorded it,
            # and the view raised an ambiguous-column error instead).
            taken = {c.lower() for c in points.columns}
            keys_l = {k.lower() for k in keys}
            # equality-joined interval columns are value-identical to
            # their point twins on every (inner-join) output row, so a
            # reference through the interval alias safely resolves to
            # the point column after stripping; only OTHER collisions
            # are genuine shadowing and must error
            eq_icols = {ic.lower() for _, ic in eqs}
            hidden |= {
                (q.lower(), c.lower())
                for q in (it, ia)
                for c in intervals.columns
                if c.lower() in taken and c.lower() not in keys_l
                and c.lower() not in eq_icols
            }
            intervals = intervals.drop(
                *[c for c in intervals.columns
                  if c.lower() in taken and c.lower() not in keys_l]
            )
            out = bucketed_interval_join(
                points, intervals, p_col, lo_col, hi_col,
                keys=keys, bucket_seconds=bucket_s,
            ).drop(*keys)
            view = self._scoped_view(out, "_rj_")
            joins.append((m.span(), view, (pt, pa), (it, ia)))
        return self._splice_join_views(
            stmt, joins, hidden,
            "range join: column {ref} is shadowed by a same-named"
            " point-side column and is not exposed — alias it before"
            " the join",
        )

    # a word after a subquery side that is a clause, not its alias
    _NOT_AN_ALIAS = frozenset((
        "on", "asof", "positional", "where", "group", "having",
        "qualify", "window", "order", "limit", "offset", "union",
        "intersect", "except",
    ))

    def _lift_subquery_sources(self, stmt: str, kw: re.Pattern) -> str:
        """Bind each aliased ``(SELECT ...)`` side of a ``kw`` join —
        ``FROM (SELECT ...) a <kw> ...`` or ``<kw> (SELECT ...) b`` —
        to a fresh per-statement ``_sq_`` view planned through the full
        pipeline (``_plan_engine_select``: nested engine-only SQL
        composes), so the join rewrite resolves the side via
        ``spark.table()``. The alias stays the side's alias: no table or
        view the session owns can collide with the view's name. Views
        are named logical plans, so lifting runs no job. Any OTHER
        derived table is left for Spark (it could be correlated — e.g.
        LATERAL — where a standalone view would not resolve)."""
        b = blank_literals(stmt)
        side = re.compile(rf"(?:(?P<kw>{kw.pattern})|\bfrom)\s*\(", re.I)
        alias = re.compile(r"\s*(?:as\s+)?(\w+)", re.I)
        joined = re.compile(alias.pattern + r"\s+" + kw.pattern, re.I)
        out: list[str] = []
        last = 0
        for m in side.finditer(b):
            op = m.end() - 1
            if op < last:
                continue  # inside a side lifted already
            cp = match_bracket(b, op)
            if not re.match(r"\s*select\b", b[op + 1: cp], re.I):
                continue
            if m.group("kw"):
                am = alias.match(b, cp + 1)
                if not am or am.group(1).lower() in self._NOT_AN_ALIAS:
                    raise EngineError(
                        f"{m.group('kw').split()[0].upper()} JOIN: a"
                        " subquery source needs an alias"
                        f" ({m.group('kw')} (select ...) x)"
                    )
            else:
                am = joined.match(b, cp + 1)
                if not am:
                    continue  # a derived table outside the join
            view = self._scoped_view(
                self._plan_engine_select(stmt[op + 1: cp]), "_sq_"
            )
            # leading space: a zero-space spelling like
            # `asof join(select...)` would otherwise glue the view
            # onto the keyword (r8 ADVICE #4)
            out += [stmt[last: op], f" {view} {am.group(1)}"]
            last = am.end(1)
        return "".join(out) + stmt[last:] if out else stmt

    def _splice_join_views(
        self,
        stmt: str,
        joins: list[tuple[tuple[int, int], str, tuple[str, str],
                          tuple[str, str]]],
        hidden: set[tuple[str, str]],
        shadowed: str,
    ) -> str:
        """Replace each join's span — matched on the literal-blanked
        twin, so offsets index ``stmt`` — with ``from <view>``. A join
        is ``(span, view, (left table, alias), (right table, alias))``.
        The rest of the statement then reads the view's flat,
        unqualified columns: an alias-qualified reference to a column
        the view does not expose (``hidden``: lower-cased (qualifier,
        column) pairs) raises ``shadowed`` formatted with the
        reference, rather than silently resolving to the other side's
        same-named column, and each side's qualifier is stripped: its
        alias, else its table name (an aliased table's own name is out
        of scope, as in DuckDB). Both scans skip string literals. Two sides carrying one alias
        are refused, as DuckDB refuses a duplicate alias: the strip
        would merge them."""
        if not joins:
            return stmt
        quals: set[str] = set()
        for (start, end), view, (lt, la), (rt, ra) in reversed(joins):
            if la.lower() == ra.lower():
                raise EngineError(
                    f"join alias {la!r} collides: both sides of the"
                    " join carry it — give each side its own alias"
                )
            stmt = stmt[:start] + f"from {view}" + stmt[end:]
            quals |= {la, ra}
        for qm in re.finditer(
            r"(?<!\w)(\w+)\s*\.\s*(\w+)", blank_literals(stmt)
        ):
            if (qm.group(1).lower(), qm.group(2).lower()) in hidden:
                raise EngineError(shadowed.format(ref=qm.group(0)))
        return sub_outside_literals(
            re.compile(
                r"(?<!\w)(?:" + "|".join(map(re.escape, quals)) + r")\.",
                re.I,
            ),
            "", stmt,
        )

    _POSJOIN_RE = re.compile(
        r"\bfrom\s+(?P<lt>\w+)"
        r"(?:\s+(?:as\s+)?(?!positional\b)(?P<la>\w+))?\s+"
        + _POSITIONAL_KW.pattern
        + r"\s+(?P<rt>\w+)(?:\s+(?:as\s+)?(?P<ra>\w+))?"
        r"(?=\s+(?:where|group|having|qualify|window|order|limit"
        r"|offset|positional|union|intersect|except)\b|\s*$|\s*\))",
        re.I | re.S,
    )

    def _zip_index(
        self, df: DataFrame, idx_name: str
    ) -> tuple[DataFrame, int]:
        """Attach a 1-based positional row index, DISTRIBUTED: a
        per-partition row_number plus the broadcast cumulative
        partition offsets (the zipWithIndex construction in DataFrame
        ops — two passes, no global single-task window). The side is
        localCheckpoint-ed first so the partition counts and the
        later join read the SAME snapshot — a sorted side's range
        partitioner re-samples boundaries per evaluation, and
        offsets computed under one partitioning applied to another
        would misnumber rows. Returns the indexed frame and its row
        count (the sum of the partition counts — no extra job)."""
        from pyspark.sql import Window as W

        d = df.withColumn(
            "_pjp", F.spark_partition_id()
        ).withColumn("_pjm", F.monotonically_increasing_id())
        from andb_spark.caching import checkpoint_tracked

        d = checkpoint_tracked(d)
        counts = d.groupBy("_pjp").agg(
            F.count(F.lit(1)).alias("c")
        ).collect()  # bounded: one row per partition
        offs: dict[int, int] = {}
        acc = 0
        for r in sorted(counts, key=lambda r: r["_pjp"]):
            offs[r["_pjp"]] = acc
            acc += r["c"]
        if len(offs) > 1:
            mapping = F.create_map(
                *[F.lit(v) for kv in sorted(offs.items()) for v in kv]
            )
            off_expr = F.coalesce(mapping[F.col("_pjp")], F.lit(0))
        else:
            off_expr = F.lit(0)
        w = W.partitionBy("_pjp").orderBy("_pjm")
        return d.withColumn(
            idx_name,
            (off_expr + F.row_number().over(w)).cast("long"),
        ).drop("_pjp", "_pjm"), acc

    # Pivot value discovery cap: the driver collects the distinct ON
    # values, exactly like DuckDB's binder does — a million-column
    # result set is a modeling error at any scale, so the cap is a
    # loud refusal, not a silent truncation.
    _PIVOT_VALUE_CAP = 10_000

    def _rewrite_pivot_statement(self, stmt: str) -> str:
        """DuckDB's simplified PIVOT / UNPIVOT STATEMENT forms (the
        dynamic spellings; the SQL-standard PIVOT/UNPIVOT clauses are
        native Spark and pass through untouched):

          PIVOT <tbl> ON <col> [IN (v, ...)] [USING agg [AS a], ...]
                [GROUP BY cols] [ORDER BY ... / LIMIT ...]
          UNPIVOT <tbl> ON c1, c2, ... [INTO NAME n VALUE v]
                [ORDER BY ... / LIMIT ...]

        DuckDB-probed semantics honored: without IN, the pivot
        columns are the DISTINCT non-NULL ON values, sorted ascending
        (one bounded distinct scan — the same scan DuckDB's binder
        runs; > _PIVOT_VALUE_CAP distinct values refuses loudly);
        without GROUP BY, the grouping keys are every column not
        pivoted on and not referenced by a USING aggregate; without
        USING, the aggregate is count(*) with absent combinations
        filled 0 (count aggregates coalesce to 0 — sum/min/... stay
        NULL, Spark's fill); multiple USING aggregates name columns
        ``<value>_<alias>``, matching Spark's own pivot naming;
        UNPIVOT drops NULL-valued rows and defaults its columns to
        ``name``/``value``. Lowered onto DataFrame groupBy().pivot()/
        unpivot() — one shuffle, partial aggregation — registered as
        a statement view so trailing clauses and outer statements
        compose. Multiple ON columns, expression ON targets, IN-list
        aliases, and grouped UNPIVOT (multiple VALUE columns) refuse
        by name."""
        s = stmt.strip()
        if re.match(r"^pivot\b", s, re.I):
            return self._pivot_stmt_df(s)
        if re.match(r"^unpivot\b", s, re.I):
            return self._unpivot_stmt_df(s)
        return stmt

    @staticmethod
    def _safe_col(c: str) -> F.Column:
        return F.col(c) if re.fullmatch(r"\w+", c) else F.col(f"`{c}`")

    def _pivot_stmt_target(self, s: str, kw: str) -> tuple[DataFrame, str]:
        """Resolve a PIVOT/UNPIVOT statement's target: a plain
        table/view name, or a parenthesized subquery planned through
        the full pipeline (so `UNPIVOT (PIVOT ...) ON ...` round
        trips compose). Returns (df, rest-of-statement)."""
        m = re.match(rf"^{kw}\s+(\w+)\s+on\s+(.*)$", s, re.I | re.S)
        if m:
            return self.spark.table(m.group(1)), m.group(2)
        pm = re.match(rf"^{kw}\s*\(", s, re.I)
        if pm:
            cp = match_bracket(s, pm.end() - 1)
            inner = s[pm.end(): cp].strip()
            rm = re.match(r"^\s*on\s+(.*)$", s[cp + 1:], re.I | re.S)
            if rm:
                return self._plan_engine_select(inner), rm.group(1)
        raise EngineError(
            f"cannot parse {kw.upper()} statement: {s!r}"
        )

    def _pivot_stmt_df(self, s: str) -> str:
        df, rest = self._pivot_stmt_target(s, "pivot")
        u = find_top_level_keyword(rest, ("using",))
        g = find_top_level_keyword(rest, ("group by",))
        t = find_top_level_keyword(rest, ("order by", "limit"))
        marks = [x for x in (u, g, t) if x is not None]
        if [x[0] for x in marks] != sorted(x[0] for x in marks):
            raise EngineError(
                "PIVOT clauses must appear in USING, GROUP BY,"
                " ORDER BY/LIMIT order"
            )
        on_end = min((x[0] for x in marks), default=len(rest))
        on_text = rest[:on_end].strip()
        using_end = g[0] if g else (t[0] if t else len(rest))
        using_text = (
            rest[u[0] + len("using"): using_end].strip() if u else None
        )
        group_end = t[0] if t else len(rest)
        group_text = (
            rest[g[0] + len("group by"): group_end].strip() if g else None
        )
        tail = rest[t[0]:].strip() if t else ""
        by_lower = {c.lower(): c for c in df.columns}
        # each ON item: <col> [IN (...)] — several items compose into
        # DuckDB's Cartesian-product pivot (probed: `pivot t on g, c`
        # yields one column per combination of each column's DISTINCT
        # values — absent combinations included, all-NULL — named
        # v1_v2, with USING aliases appended as v1_v2_alias)
        specs: list[tuple[str, list]] = []
        for it in split_items(on_text):
            om = re.match(
                r"^(\w+)(?:\s+in\s*\((.*)\))?\s*$", it.strip(),
                re.I | re.S,
            )
            if not om:
                raise EngineError(
                    f"PIVOT ON expects column names [IN (...)]:"
                    f" {it.strip()!r}"
                )
            c = by_lower.get(om.group(1).lower())
            if c is None:
                raise EngineError(
                    f"PIVOT column {om.group(1)} not in the source"
                )
            if om.group(2) is not None:
                vals = [
                    self._pivot_literal(x)
                    for x in split_items(om.group(2))
                ]
            else:
                rows = (
                    df.select(c).dropna().distinct()
                    .orderBy(c).limit(self._PIVOT_VALUE_CAP + 1)
                    .collect()
                )
                if len(rows) > self._PIVOT_VALUE_CAP:
                    raise EngineError(
                        f"PIVOT on {c}: more than"
                        f" {self._PIVOT_VALUE_CAP} distinct values —"
                        " give an explicit IN (...) list"
                    )
                vals = [r[0] for r in rows]
            specs.append((c, vals))
        on_cols = [c for c, _ in specs]
        pivot_values: list | None = None  # internal keys if distinct
        if len(specs) == 1:
            pcol, values = specs[0]
        else:
            ncombo = 1
            for _, vals in specs:
                ncombo *= len(vals)
            if ncombo > self._PIVOT_VALUE_CAP:
                raise EngineError(
                    f"PIVOT on {', '.join(on_cols)}:"
                    f" {ncombo} value combinations exceed"
                    f" {self._PIVOT_VALUE_CAP} — give explicit"
                    " IN (...) lists"
                )
            pcol = "_pv_on"
            for c in on_cols:
                df = df.filter(self._safe_col(c).isNotNull())
            # the INTERNAL combo key joins on \x1f (cannot appear in
            # the data), so string values containing underscores
            # can't merge two combos (('a_b','c') vs ('a','b_c') —
            # r12 ADVICE #5); output columns still take DuckDB's
            # underscore-joined display names via the rename below
            df = df.withColumn(
                pcol,
                F.concat_ws(
                    "\x1f",
                    *[self._safe_col(c).cast("string") for c in on_cols],
                ),
            )
            combos = list(
                itertools.product(*[vals for _, vals in specs])
            )
            pivot_values = [
                "\x1f".join(str(v) for v in combo) for combo in combos
            ]
            values, used = [], {}
            for combo in combos:
                nm = "_".join(str(v) for v in combo)
                if nm in used:  # DuckDB dedups collisions with _N
                    used[nm] += 1
                    nm = f"{nm}_{used[nm]}"
                used.setdefault(nm, 0)
                values.append(nm)
        aggs: list[tuple[str, str | None]] = []
        if using_text:
            for it in split_items(using_text):
                am = find_top_level_keyword(it, ("as",))
                if am:
                    aggs.append(
                        (it[:am[0]].strip(), it[am[0] + 2:].strip())
                    )
                else:
                    aggs.append((it.strip(), None))
        else:
            aggs = [("count(*)", None)]
        if len(aggs) > 1 and any(a is None for _, a in aggs):
            raise EngineError(
                "PIVOT with several USING aggregates needs an AS"
                " alias on each (they name the output columns)"
            )
        if group_text is not None:
            gcols = []
            for c in split_items(group_text):
                rc = by_lower.get(c.strip().lower())
                if rc is None:
                    raise EngineError(
                        f"PIVOT GROUP BY column {c.strip()} not in"
                        " the source"
                    )
                gcols.append(rc)
        else:
            # DuckDB's implicit grouping: every column neither
            # pivoted on nor referenced by a USING aggregate
            referenced = {
                w.lower()
                for e, _ in aggs
                for w in re.findall(r"\w+", blank_literals(e))
            }
            gcols = [
                c for c in df.columns
                if c != pcol and c not in on_cols
                and c.lower() not in referenced
            ]
        agg_cols = [
            F.expr(e).alias(a) if a else F.expr(e) for e, a in aggs
        ]
        res = df.groupBy(*[self._safe_col(c) for c in gcols]).pivot(
            pcol, pivot_values if pivot_values is not None else values
        ).agg(*agg_cols)
        if pivot_values is not None:
            # \x1f internal keys → underscore display names (both
            # the bare single-agg form and the {key}_{alias} form)
            ren0 = {}
            for vi, vd in zip(pivot_values, values):
                if vi == vd:
                    continue
                for c in res.columns:
                    if c == vi or c.startswith(vi + "_"):
                        ren0[c] = vd + c[len(vi):]
            if ren0:
                res = res.withColumnsRenamed(ren0)
        # Spark names a SINGLE-aggregate pivot's columns by value
        # only, dropping any alias; DuckDB names them
        # {value}_{alias} (probed) — rename to match
        if len(aggs) == 1 and aggs[0][1] is not None:
            a1 = aggs[0][1]
            ren = {
                str(v): f"{v}_{a1}" for v in values
                if str(v) in res.columns
            }
            if ren:
                res = res.withColumnsRenamed(ren)
        # count() over an absent combination is 0, not NULL (DuckDB
        # count semantics; Spark's pivot leaves the gap NULL)
        for e, a in aggs:
            if not re.match(r"^\s*count\s*\(", e, re.I):
                continue
            for v in values:
                c = str(v) if len(aggs) == 1 and a is None else (
                    f"{v}_{a}"
                )
                res = res.withColumn(
                    c, F.coalesce(self._safe_col(c), F.lit(0))
                )
        view = self._scoped_view(res, "_pv_")
        return f"select * from {view}" + (f" {tail}" if tail else "")

    @staticmethod
    def _pivot_literal(x: str):
        x = x.strip()
        if re.fullmatch(r"'(?:[^']|'')*'", x):
            return x[1:-1].replace("''", "'")
        if re.fullmatch(r"-?\d+", x):
            return int(x)
        if re.fullmatch(r"-?\d*\.\d+", x):
            return float(x)
        raise EngineError(
            f"PIVOT IN list expects plain literals, got {x!r}"
        )

    def _unpivot_stmt_df(self, s: str) -> str:
        df, rest = self._pivot_stmt_target(s, "unpivot")
        into = find_top_level_keyword(rest, ("into",))
        t = find_top_level_keyword(rest, ("order by", "limit"))
        on_end = min(
            (x[0] for x in (into, t) if x is not None),
            default=len(rest),
        )
        on_text = rest[:on_end].strip()
        tail = rest[t[0]:].strip() if t else ""
        name_col, value_col = "name", "value"
        if into:
            into_end = t[0] if t else len(rest)
            im = re.match(
                r"^name\s+(\w+)\s+value\s+(.+)$",
                rest[into[0] + len("into"): into_end].strip(),
                re.I | re.S,
            )
            if not im:
                raise EngineError(
                    "UNPIVOT INTO expects NAME <col> VALUE <col>"
                )
            name_col = im.group(1)
            vparts = split_items(im.group(2))
            if len(vparts) != 1:
                raise EngineError(
                    "grouped UNPIVOT (several VALUE columns) is not"
                    " supported — unpivot one value per statement"
                )
            value_col = vparts[0].strip()
        by_lower = {c.lower(): c for c in df.columns}
        vcols = []
        for c in split_items(on_text):
            rc = by_lower.get(c.strip().lower())
            if rc is None:
                raise EngineError(
                    f"UNPIVOT column {c.strip()} not in the source"
                )
            vcols.append(rc)
        ids = [c for c in df.columns if c not in vcols]
        res = df.unpivot(
            [self._safe_col(c) for c in ids],
            [self._safe_col(c) for c in vcols],
            name_col,
            value_col,
        ).filter(self._safe_col(value_col).isNotNull())
        view = self._scoped_view(res, "_upv_")
        return f"select * from {view}" + (f" {tail}" if tail else "")

    def _rewrite_positional_join(self, stmt: str) -> str:
        """``<l> POSITIONAL JOIN <r>`` (DuckDB): zip the two sides
        row-by-row in their natural order; the shorter side pads
        NULL (probed: a FULL pairing on row position, left columns
        then right columns, duplicate names kept). Lowered onto the
        distributed zipWithIndex construction (``_zip_index``) + a
        full outer equi-join on the index — shuffle on a unique
        dense key, never a cartesian. Row order is well-defined for
        sides with their own ORDER BY (a sorted side's range
        partitions enumerate in order) and for single-split scans;
        like DuckDB, zipping two arbitrary unsorted scans follows
        scan order. Chains left-associatively; subquery sides lift
        to views first (full pipeline, so engine-only SQL composes
        inside them)."""
        if not self._POSITIONAL_KW.search(blank_literals(stmt)):
            return stmt
        stmt = self._lift_subquery_sources(stmt, self._POSITIONAL_KW)
        # match on the literal-blanked copy (same length): the keyword
        # inside a string must never rewrite (review r11 #2)
        while m := self._POSJOIN_RE.search(blank_literals(stmt)):
            lt, la = m.group("lt"), m.group("la") or m.group("lt")
            rt, ra = m.group("rt"), m.group("ra") or m.group("rt")
            try:
                left = self.spark.table(lt)
                right = self.spark.table(rt)
            except Exception as e:
                raise EngineError(
                    f"POSITIONAL JOIN: cannot resolve sources: {e}"
                ) from e
            # positional rename around the join: an intermediate
            # zip view of a CHAIN can itself carry duplicate
            # names, which name-based selection cannot address
            # (review r11 #4)
            nl, nr = len(left.columns), len(right.columns)
            zl = self._zip_index(left, "_pj_li")[0].toDF(
                *[f"_pjl{i}" for i in range(nl)], "_pj_li"
            )
            zr = self._zip_index(right, "_pj_ri")[0].toDF(
                *[f"_pjr{i}" for i in range(nr)], "_pj_ri"
            )
            joined = zl.join(
                zr, zl["_pj_li"] == zr["_pj_ri"], "full_outer"
            )
            out = joined.select(
                *[f"_pjl{i}" for i in range(nl)],
                *[f"_pjr{i}" for i in range(nr)],
                F.coalesce(
                    zl["_pj_li"], zr["_pj_ri"]
                ).alias("_pj_ord"),
            ).sortWithinPartitions("_pj_ord").drop("_pj_ord").toDF(
                *left.columns, *right.columns
            )
            # a qualified reference to a column present on both sides
            # would be ambiguous once the qualifiers are stripped
            # (review r11 #3)
            dups = {c.lower() for c in left.columns} & {
                c.lower() for c in right.columns
            }
            stmt = self._splice_join_views(
                stmt,
                [(m.span(), self._scoped_view(out, "_pj_"),
                  (lt, la), (rt, ra))],
                {(q.lower(), d) for q in (lt, la, rt, ra) for d in dups},
                "POSITIONAL JOIN: qualified reference {ref} to a"
                " column present on BOTH sides — rename it inside a"
                " subquery side first",
            )
        if self._POSITIONAL_KW.search(blank_literals(stmt)):
            raise EngineError(
                "POSITIONAL JOIN: unsupported source shape — need"
                " `FROM <table|(subquery) alias> POSITIONAL JOIN"
                " <table|(subquery) alias>`"
            )
        return stmt

    def _rewrite_asof(self, stmt: str) -> str:
        """Materialize every ASOF JOIN clause into a temp view and
        substitute it into the statement (view columns = left columns +
        non-colliding right columns, unqualified — alias qualifiers in
        the rest of the statement are stripped). Inner ASOF drops
        unmatched probes (DuckDB semantics); ASOF LEFT keeps them with
        NULLs. Right rows must be unique per (keys, time) for a
        deterministic result, as in DuckDB.

        Tolerance spelling (r6 verdict #6): an extra ON conjunct
        bounding the match gap — backward ``p.t - r.rt <= N``, forward
        ``r.rt - p.t <= N`` — limits how far the as-of lookup reaches,
        exactly the conjunct DuckDB's binder accepts on its native
        ASOF JOIN. Inner semantics agree with DuckDB (out-of-tolerance
        probes drop). ASOF LEFT diverges deliberately: this engine
        keeps the probe with NULL payload (pandas merge_asof
        semantics — tolerance masks the MATCH, it doesn't filter the
        row), where DuckDB 1.0 post-filters the NULL-extended row out,
        making LEFT behave like inner; the differential suite pins
        both behaviors side by side."""
        from andb_spark.operators.asof import asof_join

        if not self._ASOF_KW.search(blank_literals(stmt)):
            return stmt
        # parenthesized subquery sources become lazy temp views first
        stmt = self._lift_subquery_sources(stmt, self._ASOF_KW)
        joins: list = []
        hidden: set[tuple[str, str]] = set()
        for m in self._ASOF_RE.finditer(blank_literals(stmt)):
            lt, rt = m.group("lt"), m.group("rt")
            la = m.group("la") or lt
            ra = m.group("ra") or rt
            eqs: list[tuple[str, str]] = []
            ineq: tuple[str, str, str] | None = None
            # ((minuend alias, col), (subtrahend alias, col), literal)
            tol: tuple[tuple[str, str], tuple[str, str], str] | None = None
            flip = {">=": "<=", "<=": ">=", ">": "<", "<": ">", "=": "="}
            conds = stmt[m.start("conds"): m.end("conds")].strip()
            for cond in re.split(r"\s+and\s+", conds, flags=re.I):
                # tolerance conjunct (DuckDB-compatible spelling):
                # backward `p.t - r.rt <= N`, forward `r.rt - p.t <= N`
                # — validated against the time inequality after the
                # loop once the direction is known
                tm = re.match(
                    r"^\s*(\w+)\.(\w+)\s*-\s*(\w+)\.(\w+)\s*(<=|<)\s*"
                    r"(\d+(?:\.\d+)?)\s*$",
                    cond,
                )
                if tm:
                    if tm.group(5) == "<":
                        raise EngineError(
                            "ASOF JOIN: tolerance must be inclusive"
                            " (<=) — strict bounds are not supported"
                        )
                    if tol is not None:
                        raise EngineError(
                            "ASOF JOIN: more than one tolerance bound"
                        )
                    tol = ((tm.group(1), tm.group(2)),
                           (tm.group(3), tm.group(4)), tm.group(6))
                    continue
                cm = re.match(
                    r"^\s*(\w+)\.(\w+)\s*(>=|<=|=|>|<)\s*"
                    r"(\w+)\.(\w+)\s*$",
                    cond,
                )
                if not cm:
                    raise EngineError(
                        f"ASOF JOIN: unsupported ON condition {cond!r} "
                        f"(need alias.col <op> alias.col)"
                    )
                a_al, a_col, op, b_al, b_col = cm.groups()
                if (a_al, b_al) == (la, ra):
                    lcol, rcol, o = a_col, b_col, op
                elif (a_al, b_al) == (ra, la):
                    lcol, rcol, o = b_col, a_col, flip[op]
                else:
                    raise EngineError(
                        f"ASOF JOIN: condition {cond!r} must relate "
                        f"{la!r} to {ra!r}"
                    )
                if o == "=":
                    eqs.append((lcol, rcol))
                elif o in (">=", "<="):
                    if ineq is not None:
                        raise EngineError(
                            "ASOF JOIN: more than one time inequality"
                        )
                    ineq = (lcol, rcol,
                            "backward" if o == ">=" else "forward")
                else:
                    raise EngineError(
                        "ASOF JOIN: the time condition must be inclusive"
                        " (>= or <=) — strict bounds are not supported"
                    )
            if ineq is None:
                raise EngineError("ASOF JOIN: no time inequality in ON")
            ltime, rtime, direction = ineq
            tolerance = None
            if tol is not None:
                (x_al, x_col), (y_al, y_col), tol_lit = tol
                # the minuend must be the later side of the inequality:
                # backward matches take right_time <= left_time, so the
                # gap is left - right; forward is right - left
                lhs, rhs = ((la, ltime), (ra, rtime))
                want = (lhs, rhs) if direction == "backward" else (rhs, lhs)
                if ((x_al, x_col), (y_al, y_col)) != want:
                    raise EngineError(
                        "ASOF JOIN: tolerance must bound the match gap"
                        f" ({want[0][0]}.{want[0][1]} -"
                        f" {want[1][0]}.{want[1][1]} <= N for this"
                        f" {direction} join)"
                    )
                tolerance = (
                    float(tol_lit) if "." in tol_lit else int(tol_lit)
                )

            left_df, right_df = self.spark.table(lt), self.spark.table(rt)
            key = "_asof_k"
            if eqs:
                # struct fields are aliased POSITIONALLY: left and
                # right equality columns usually have different names
                # (k vs rk), and two structs with different field names
                # are different types — the operator's unionByName
                # would fail (caught by the DuckDB-native differential)
                left_df = left_df.withColumn(
                    key,
                    F.struct(*[
                        F.col(c).alias(f"_k{i}")
                        for i, (c, _) in enumerate(eqs)
                    ]),
                )
                # right NULL key fields match nothing (SQL equi
                # semantics — struct equality would otherwise pair
                # NULL with NULL); left NULLs stay and match nothing.
                for _, c in eqs:
                    right_df = right_df.filter(F.col(c).isNotNull())
                right_df = right_df.withColumn(
                    key,
                    F.struct(*[
                        F.col(c).alias(f"_k{i}")
                        for i, (_, c) in enumerate(eqs)
                    ]),
                )
            else:  # pure time as-of, one global sequence
                left_df = left_df.withColumn(key, F.lit(1))
                right_df = right_df.withColumn(key, F.lit(1))
            marker = "_asof_m"
            right_df = right_df.withColumn(marker, F.lit(1))
            # Collision checks compare LOWER-CASED names: Spark
            # resolution is case-insensitive by default, so a right
            # 'C_US' does collide with a left 'c_us' (same r6-ADVICE
            # class the range-join twin fixed at the lines above —
            # the case-sensitive check neither dropped it nor recorded
            # it, and the join raised an ambiguous-column error).
            taken = {c.lower() for c in left_df.columns}
            payload = [
                c for c in right_df.columns
                if c.lower() not in taken and c.lower() != key.lower()
            ]
            out = asof_join(
                left_df, right_df, key, key, ltime, rtime, payload,
                direction=direction, tolerance=tolerance,
            ).drop(key)
            if not m.group("left"):
                # inner ASOF: drop unmatched probes via the carried
                # marker (payload values may be legitimately NULL)
                out = out.filter(F.col(marker).isNotNull())
            out = out.drop(marker)
            # right columns NOT exposed (name collision with the left
            # side): a statement that still references them through the
            # right alias must fail loudly, not silently resolve to the
            # LEFT side's same-named column after qualifier stripping
            hidden |= {
                (q.lower(), c.lower())
                for q in (rt, ra)
                for c in right_df.columns
                if c.lower() in taken
                or c.lower() in (key.lower(), marker.lower())
            }
            view = self._scoped_view(out, "_asof_")
            joins.append((m.span(), view, (lt, la), (rt, ra)))
        stmt = self._splice_join_views(
            stmt, joins, hidden,
            "ASOF JOIN: column {ref} is shadowed by a same-named"
            " left-side column and is not exposed — alias it on the"
            " right side before the join",
        )
        # catch-all for unmatched ASOF shapes: Spark has no ASOF
        # JOIN syntax, so anything the rewrite didn't consume would
        # otherwise surface as Spark's raw parse error. Refuse by
        # name with the working alternative (r6 verdict #4).
        if self._ASOF_KW.search(blank_literals(stmt)):
            raise EngineError(
                "ASOF JOIN: unsupported source shape — sides must"
                " be plain table/view/CTE names or aliased"
                " (SELECT ...) subqueries; lift anything else"
                " (VALUES lists, unaliased subqueries, comma"
                " joins) into a WITH clause first"
            )
        return stmt

    @staticmethod
    def _sub_ident(text: str, name: str, repl: str) -> str:
        r"""Replace occurrences of ``name`` used as a TABLE REFERENCE
        (case-insensitive, outside string literals) with ``repl``.

        Positions that rewrite: immediately after a TABLE-position
        FROM or a JOIN, after a comma inside a FROM list (comma
        cross-join), and column-qualifier positions (``name.col``), so
        a CTE alias used as a qualifier follows its view binding.
        Every other occurrence — a SELECT alias (``sum(x) AS
        clicks``), a bare column that merely shares the CTE's name, a
        function name — is left alone (r7 ADVICE #1: the old
        token-anywhere substitution silently renamed output columns).

        FROM is only a table position when the enclosing paren group
        is SELECT-rooted (the statement itself, or a ``(select ...)``
        subquery) and the preceding token is not DISTINCT: the FROM
        inside ``extract(year FROM c)`` / ``trim(... FROM c)`` /
        ``substring(... FROM n)`` and the one in ``IS [NOT] DISTINCT
        FROM c`` are expression syntax, not sources. FROM-list context
        is tracked per paren depth, so a comma in a SELECT list or an
        IN-list never counts as a table position. Backtick-quoted
        identifiers participate (``from \`c\``` rewrites; a quoted
        ``\`from\``` is an identifier, never a keyword)."""
        low = text.lower()
        name_l = name.lower()
        out: list[str] = []
        i, n = 0, len(text)
        in_str = False
        prev_tok = ""          # last significant token, lowered
        from_stack = [False]   # in-FROM-list flag per paren depth
        # is the paren group SELECT-rooted? None = first token not
        # seen yet; depth 0 (the statement) counts as select-rooted
        sel_stack: list[bool | None] = [True]
        # "on"/"using" deliberately do NOT end the FROM list: a comma
        # cross-join can legally follow a join condition (`from a
        # join b on c1 = c2, cte`) and the cte after that comma is a
        # table position. Commas INSIDE the ON expression (function
        # args, IN lists) sit at paren depth > 0 where the pushed
        # False flag already rules them out.
        _FROM_ENDERS = {
            "where", "group", "having", "order", "limit", "window",
            "qualify", "union", "intersect", "except", "select",
        }

        def _classify(tok: str) -> None:
            # keyword effects of an UNQUOTED token
            if sel_stack[-1] is None:
                sel_stack[-1] = tok == "select"
            nonlocal prev_tok
            if tok == "from":
                if sel_stack[-1] and prev_tok != "distinct":
                    from_stack[-1] = True
                    prev_tok = "from"
                else:
                    prev_tok = "from#expr"  # extract/trim/IS DISTINCT
                return
            if tok == "join":
                from_stack[-1] = True
            elif tok in _FROM_ENDERS:
                from_stack[-1] = False
            prev_tok = tok

        def _is_table_pos(next_is_dot: bool) -> bool:
            return (
                next_is_dot
                or prev_tok in ("from", "join")
                or (prev_tok == "," and from_stack[-1])
            )

        while i < n:
            c = text[i]
            if in_str:
                out.append(c)
                if c == "'":
                    in_str = False
                i += 1
                continue
            if c == "'":
                in_str = True
                out.append(c)
                i += 1
                continue
            if c == "`":
                j = text.find("`", i + 1)
                if j < 0:
                    out.append(text[i:])
                    break
                tok = low[i + 1: j]
                k = j + 1
                while k < n and text[k] in " \t\r\n":
                    k += 1
                if tok == name_l and _is_table_pos(
                    k < n and text[k] == "."
                ):
                    out.append(repl)
                else:
                    out.append(text[i: j + 1])
                prev_tok = tok  # an identifier, never a keyword
                i = j + 1
                continue
            if c == "(":
                from_stack.append(False)
                sel_stack.append(None)
                out.append(c)
                prev_tok = "("
                i += 1
                continue
            if c == ")":
                if len(from_stack) > 1:
                    from_stack.pop()
                    sel_stack.pop()
                out.append(c)
                prev_tok = ")"
                i += 1
                continue
            if c.isalpha() or c == "_":
                j = i
                while j < n and (text[j].isalnum() or text[j] == "_"):
                    j += 1
                tok = low[i:j]
                if tok == name_l and (i == 0 or low[i - 1] != "."):
                    k = j
                    while k < n and text[k] in " \t\r\n":
                        k += 1
                    if _is_table_pos(k < n and text[k] == "."):
                        if sel_stack[-1] is None:
                            sel_stack[-1] = False
                        out.append(repl)
                        prev_tok = tok
                        i = j
                        continue
                _classify(tok)
                out.append(text[i:j])
                i = j
                continue
            if not c.isspace():
                prev_tok = c
            out.append(c)
            i += 1
        return "".join(out)

    # Surfaces whose rewrites resolve sources via spark.table() or plan
    # statement text standalone (ASOF / POSITIONAL joins, FROM-first
    # subqueries, quantified comparisons, UNION BY NAME, star-REPLACE,
    # COLUMNS()): a CTE they reference must already be a view, wherever
    # they appear. Scanned literal-blanked.
    _BIND_SURFACES_RE = re.compile(
        "|".join((
            _ASOF_KW.pattern,
            _POSITIONAL_KW.pattern,
            r"\(\s*from\b",
            r"(?:>=|<=|<>|!=|=|>|<)\s*(?:any|some|all)\s*\(\s*select\b",
            r"\bunion\s+(?:all\s+)?by\s+name\b",
            _STAR_REPLACE_RE.pattern,
            r"\bcolumns\s*\(",
        )),
        re.I,
    )
    _QUALIFY_OR_DISTINCT_ON_RE = re.compile(
        r"\bqualify\b|\bselect\s+distinct\s+on\s*\(", re.I
    )

    def _bind_ctes_for_surfaces(self, stmt: str) -> str:
        """Bind WITH-clause CTEs to per-statement temp views when —
        and only when — the main body uses an engine SQL surface that
        resolves sources via ``spark.table()`` (ASOF JOIN, the
        transparent range-join rewrite). Those rewrites fire before
        Spark ever parses the statement, so a CTE alias used as a join
        side would otherwise die in ``spark.table()`` with a raw
        AnalysisException (r6 verdict #4: real users compose).

        Each CTE body is executed with the EARLIER CTE names already
        substituted (WITH scoping), materialized under a unique view
        name, and every reference in later bodies and the main
        statement is token-substituted. Plain CTE statements — no ASOF
        JOIN, no keyed-BETWEEN join — pass through untouched for Spark
        to plan natively (including WITH RECURSIVE, which Spark 4
        handles and this binder must never unroll). Returns the
        unwrapped main statement."""
        if not re.match(r"^\s*with\b", stmt, re.I):
            return stmt
        if re.match(r"^\s*with\s+recursive\b", stmt, re.I):
            return stmt
        blanked = blank_literals(stmt)
        surfaces = bool(
            self._BIND_SURFACES_RE.search(blanked)
            or self._RANGE_RE.search(stmt)
        )
        # QUALIFY / DISTINCT ON bind only where the depth-0 rewrites
        # cannot reach them (decided below, once the bodies are split
        # out); a statement with neither and no surface stays as is
        if not (surfaces or self._QUALIFY_OR_DISTINCT_ON_RE.search(blanked)):
            return stmt
        # parse: with name as ( body ) [, name2 as ( body2 )]* main
        pos = re.match(r"^\s*with\s+", stmt, re.I).end()
        ctes: list[tuple[str, str]] = []
        while True:
            hm = re.match(r"(\w+)\s+as\s*\(", stmt[pos:], re.I)
            if not hm:
                # unparseable CTE head (e.g. column-aliased
                # `name(a,b) as (...)`): leave the statement alone —
                # the surface's own catch-all raises the named error
                return stmt
            name = hm.group(1)
            try:
                i = match_bracket(stmt, pos + hm.end() - 1) + 1
            except EngineError:
                raise EngineError("WITH: unbalanced parentheses")
            ctes.append((name, stmt[pos + hm.end(): i - 1]))
            tm = re.match(r"\s*,\s*", stmt[i:])
            if tm:
                pos = i + tm.end()
                continue
            main = stmt[i:].strip()
            break
        # QUALIFY / DISTINCT ON bind when they sit in a CTE body (r7
        # ADVICE #4: at paren depth > 0 the depth-0 rewrites never
        # reach them), nested at depth > 0 in main (the engine-subquery
        # lift plans those groups standalone, r10 review #3), or when
        # main IS a DISTINCT ON select (its rewrite is anchored at
        # ^SELECT, r10 probe) or a FROM-first one (bind, unwrap, and
        # let the post-binder FROM-first pass normalize it). A
        # top-level QUALIFY in main rewrites the whole WITH statement.
        mb = blank_literals(main)
        if not (
            surfaces
            or re.search(
                r"^\s*from\b|(?:^|\()\s*select\s+distinct\s+on\s*\(",
                mb, re.I,
            )
            or any(
                paren_depth_at(mb, qm.start()) > 0
                for qm in re.finditer(r"\bqualify\b", mb, re.I)
            )
            or any(
                self._QUALIFY_OR_DISTINCT_ON_RE.search(blank_literals(b))
                for _n, b in ctes
            )
        ):
            return stmt
        bound: list[tuple[str, str]] = []  # (cte name, view name)
        for name, body in ctes:
            for cname, vname in bound:
                body = self._sub_ident(body, cname, vname)
            # a CTE body may itself use the surfaces (an asof
            # enrichment defined once, joined downstream), so it
            # runs the whole surface pipeline standalone (r7
            # ADVICE #4: a body using the engine-only QUALIFY /
            # DISTINCT ON surfaces sits at paren depth > 0 where
            # the depth-0 rewrites never reach). Its helper views
            # belong to the statement, like main-body rewrite views.
            body = self._rewrite_surfaces(body)
            view = self._scoped_view(self.spark.sql(body), "_cte_")
            bound.append((name, view))
        for cname, vname in bound:
            main = self._sub_ident(main, cname, vname)
        return main

    # ---------------------------------------------- surface pipeline --
    # The DuckDB-surface rewrite pipeline, written down once. Every
    # SQL-to-plan path applies these passes, in this order, through
    # _rewrite_surfaces: SELECT, EXPLAIN [ANALYZE], DESCRIBE, CTAS /
    # INSERT ... SELECT sources, view bodies, and the bodies the
    # surfaces themselves plan (CTEs, ASOF subquery sources, DISTINCT
    # ON / QUALIFY inner statements, BY NAME branches). Each entry is
    # (pass, EXPLAIN header note). A pass maps SQL text to text; the
    # helper views it binds belong to the statement (_scoped_view).
    # EXPLAIN prints, once and in table order, the note of every entry
    # whose pass bound views — {n} is their view count, {bucket} the
    # session's range-join bucket width (the reference's EXPLAIN shows
    # its plan choices in the same header position,
    # portal.py:124-128).
    #
    # Each pass consumes its own spelling, so a nested run over
    # already-rewritten text only finishes what is left. The DuckDB
    # dialect normalization (andb_spark.sql.dialect.normalize) is no
    # pass because it lacks that property (see its docstring).
    # execute() applies it once to every statement; stored SQL gets
    # it once from _normalize_stored_sql.
    #
    # Order constraints: macros and the spelling normalizations first,
    # so every later pass sees ordinary select-first SQL; window
    # EXCLUDE before the CTE binder, lift and QUALIFY, which plan
    # window text with spark.sql inside their machinery; FROM-first
    # again after the CTE binder, whose unwrapped main may be
    # FROM-first; the source rewrites (ASOF, range, POSITIONAL) before
    # COLUMNS() and star-REPLACE, which plan their FROM list to
    # enumerate columns.
    _CTE_NOTE = "-- with: {n} CTE view(s) bound for the asof/range surfaces"
    _SURFACE_PASSES: tuple[tuple[str, str | None], ...] = (
        ("_expand_macros", None),
        ("_rewrite_from_first", None),
        ("_rewrite_star_exclude", None),
        ("_rewrite_limit_comma", None),
        (
            "_rewrite_fetch_first",
            "-- fetch with ties: top-k set plus the rows tied with"
            " its boundary",
        ),
        ("_bind_versions", None),
        ("_rewrite_sequence_calls", None),
        ("_rewrite_using_sample", None),
        ("_rewrite_pivot_statement", _CTE_NOTE),
        ("_rewrite_window_exclude", None),
        ("_bind_ctes_for_surfaces", _CTE_NOTE),
        ("_rewrite_from_first", None),
        ("_lift_engine_subqueries", _CTE_NOTE),
        (
            "_rewrite_union_by_name",
            "-- union by name: lowered onto"
            " unionByName(allowMissingColumns=true)",
        ),
        (
            "_rewrite_distinct_on",
            "-- distinct on: rewritten onto row_number()=1"
            " + pre-projection sort view",
        ),
        (
            "_rewrite_asof",
            "-- asof join: rewritten onto union+window (one shuffle)",
        ),
        (
            "_rewrite_range_join",
            "-- range join: bucketed equi-join"
            " (andb.range_bucket_seconds={bucket})",
        ),
        (
            "_rewrite_positional_join",
            "-- positional join: distributed zipWithIndex +"
            " full-outer index equi-join",
        ),
        ("_rewrite_columns_projection", None),
        ("_rewrite_select_replace", None),
        (
            "_rewrite_qualify",
            "-- qualify: window filter via per-statement view",
        ),
        (
            "_rewrite_quantified",
            "-- any/all: quantified comparison via scalar"
            " aggregates of a per-statement view",
        ),
    )

    def _rewrite_surfaces(
        self, stmt: str, fired: dict[str, int] | None = None
    ) -> str:
        """Apply ``_SURFACE_PASSES`` in order and return the SQL Spark
        plans. ``fired``, when given, counts the views each entry's
        pass bound, under its note, in table order — EXPLAIN's
        header."""
        for name, note in self._SURFACE_PASSES:
            mark = len(self._stmt_views)
            stmt = getattr(self, name)(stmt)
            bound = len(self._stmt_views) - mark
            if bound and note and fired is not None:
                fired[note] = fired.get(note, 0) + bound
        return stmt

    # AnDB-dialect compat: `LIMIT off,n` (MySQL-style, parser_.py:
    # 138-148) → standard `LIMIT n OFFSET off`.
    _LIMIT_OFF_N = re.compile(r"\blimit\s+(\d+)\s*,\s*(\d+)\s*$", re.I)

    def _rewrite_limit_comma(self, stmt: str) -> str:
        return self._LIMIT_OFF_N.sub(r"LIMIT \2 OFFSET \1", stmt)

    # Time travel: `FROM <table> VERSION AS OF <n>` reads the retained
    # version dir — immutable version dirs make historical reads free
    # (Delta/Iceberg snapshot semantics over plain parquet).
    _VERSION_RE = re.compile(r"\b(\w+)\s+version\s+as\s+of\s+(\d+)", re.I)

    def _bind_versions(self, stmt: str) -> str:
        """Bind every ``<table> VERSION AS OF <n>`` to a per-statement
        view over that version's files."""

        def _version_view(m: re.Match) -> str:
            name, vnum = m.group(1), int(m.group(2))
            paths, dvs = self._resolve_version(name, vnum)
            # The CURRENT declared schema drives historical reads (so a
            # metadata-only DROP COLUMN cannot resurrect through time
            # travel) — but ONLY when every declared column physically
            # exists in the version's files. A RENAME rewrote the
            # current files under new names; forcing those names onto
            # pre-rename history would silently NULL the column, so
            # such versions fall back to their files' own (historical)
            # schema. Subset check = one footer-schema inference, no
            # data I/O.
            reader = self.spark.read
            meta = self.catalog["tables"].get(name)
            if meta and meta.get("columns"):
                declared = self._schema(name)
                if meta.get("vnum", 1) == vnum:
                    # current version: exact _read_table parity
                    # (metadata-only ADD surfaces its NULL column here)
                    reader = reader.schema(declared)
                else:
                    inferred = self.spark.read.parquet(*paths)
                    if {f.name.lower() for f in declared.fields} <= {
                        c.lower() for c in inferred.columns
                    }:
                        reader = reader.schema(declared)
            # unique per statement: a concurrent statement resolving
            # the "same" (name, vnum) — e.g. across a RESTORE that
            # renumbered history — can never race on a shared binding.
            # The version's own DVs apply: rows a later DV commit
            # deleted are still there, rows deleted before it are not.
            return self._scoped_view(
                self._scan(reader, name, paths, dvs), f"{name}__v{vnum}_"
            )

        return self._VERSION_RE.sub(_version_view, stmt)

    def _normalize_stored_sql(self, sql: str) -> str:
        """View, materialized-view and macro SQL is stored as written;
        before it is planned it gets what execute() gives every other
        statement, in the same order and once: backslash literals,
        macro calls, then the DuckDB dialect normalization."""
        return dialect.normalize(
            self._expand_macros(dialect.escape_backslash_literals(sql))
        )

    def _select(self, stmt: str) -> Result:
        df, _note = self._access_path(self._rewrite_surfaces(stmt))
        return self._fetch(df)

    def _access_path(self, stmt: str) -> tuple[DataFrame, str]:
        """The frame a rewritten SELECT fetches, plus the EXPLAIN header
        lines naming its access path: the vector top-k frame when
        ``andb.ann_mode`` is not exact and the statement is a cosine
        top-k, else the zone-pruned scan when data skipping applies,
        else the statement itself. ``_select`` fetches this frame and
        EXPLAIN prints its plans (the reference's EXPLAIN surfaces its
        IndexScan-vs-TableScan choice the same way)."""
        mode = self.session_vars.get("andb.ann_mode", "exact")
        ann = self._ANN_RE.match(stmt) if mode != "exact" else None
        if ann:
            from andb_spark.plans.ann import ann_topk

            qv = [float(x) for x in ann.group("lit").split(",") if x.strip()]
            df, path = ann_topk(
                self.spark.table(ann.group("table")),
                qv,
                int(ann.group("k")),
                mode=mode,
                stats=self.catalog["stats"].get(ann.group("table")),
                id_col=ann.group("id"),
                vec_col=ann.group("vec"),
            )
            self.session_vars["andb.last_ann_path"] = path
            df = df.select(
                F.col(ann.group("id")),
                (F.lit(1.0) - F.col("cos_sim")).alias(ann.group("alias")),
            )
            note = f"-- vector access path: {path} (andb.ann_mode={mode})"
            return df, note + "\n"
        pruned = self._zone_prune_view(stmt)
        if pruned:
            note = self.session_vars["andb.last_zone_prune"]
            return self.spark.sql(pruned), f"-- zone maps: {note}\n"
        return self.spark.sql(stmt), ""

    def _plan_engine_select(self, query: str) -> DataFrame:
        """Plan a SELECT through the surface pipeline ``_select`` runs
        and return the (lazy) DataFrame. This is what lets CTAS,
        INSERT ... SELECT, EXPLAIN ANALYZE, DESCRIBE and view bodies
        compose with engine-only SQL (ASOF / range joins, QUALIFY,
        DISTINCT ON, quantified comparisons, UNION BY NAME,
        star-REPLACE, time travel)."""
        return self.spark.sql(self._rewrite_surfaces(query))

    def _fetch(self, df: DataFrame) -> Result:
        """Materialize a SELECT for the reference-shaped Result, with a
        bounded driver footprint: the reference's portal streams tuples
        through a socket (portal.py:38-82) and never holds an unbounded
        result either. We push the cap INTO the plan (`limit(cap+1)` →
        CollectLimit, executors stop early) instead of collecting then
        truncating; at 100× data an unguarded `SELECT *` returns the
        first cap rows plus a warning rather than OOMing the driver.
        Tunable per session: SET andb.max_result_rows = n."""
        cap = int(self.session_vars.get("andb.max_result_rows", "1000000"))
        rows = [tuple(r) for r in df.limit(cap + 1).collect()]
        warning = None
        if len(rows) > cap:
            rows = rows[:cap]
            warning = (
                f"result truncated to andb.max_result_rows={cap}; "
                "use COPY TO for full extracts"
            )
        return Result(
            columns=list(df.columns),
            types=[f.dataType.simpleString() for f in df.schema.fields],
            rows=rows,
            effect_rows=len(rows),
            warning=warning,
        )

    @staticmethod
    def _operator_metrics(jplan) -> str:
        """Per-operator executed metrics, one line per plan node:
        ``OpName: numOutputRows=…, …`` indented by tree depth. The
        direct analog of the reference portal's per-operator
        actual_rows/elapsed instrumentation (portal.py:93-118,
        physical/base.py:22-24) — but read from Spark's SQLMetric
        registry, which the executors populated during the run. AQE /
        query-stage / reused-exchange wrappers are unwrapped so the
        reported tree is the plan that actually ran; any wrapper whose
        accessor this Spark version lacks just stops the descent."""
        lines: list[str] = []

        def walk(node, depth: int) -> None:
            cls = node.getClass().getSimpleName()
            vals = []
            it = node.metrics().iterator()
            while it.hasNext():
                e = it.next()
                vals.append(f"{e._1()}={e._2().value()}")
            lines.append("  " * depth + f"{cls}: {', '.join(sorted(vals))}")
            try:
                if cls == "AdaptiveSparkPlanExec":
                    walk(node.executedPlan(), depth + 1)
                    return
                if cls.endswith("QueryStageExec"):
                    walk(node.plan(), depth + 1)
                    return
            except Exception:
                return
            ch = node.children()
            for i in range(ch.size()):
                walk(ch.apply(i), depth + 1)

        try:
            walk(jplan, 0)
        except Exception:
            pass
        return "\n".join(lines)

    def _explain(self, stmt: str) -> Result:
        ana = re.match(r"^explain\s+analyze\s+(.*)$", stmt, re.I | re.S)
        if ana:
            # EXPLAIN ANALYZE: execute, then report the FINAL physical
            # plan (post-AQE re-planning — the plan that actually ran)
            # plus wall time, row count, and the per-operator SQLMetric
            # table — the Spark analog of the reference portal's
            # per-operator actual_rows/elapsed instrumentation
            # (portal.py:93-118, physical/base.py:22-24).
            df = self._plan_engine_select(ana.group(1))
            t0 = time.perf_counter()
            # Execute THIS queryExecution's physical plan without
            # materializing rows on the driver: toRdd() runs the
            # same executedPlan (populating its SQLMetrics) and the
            # JVM-side count() only ships per-partition counts
            # back. A plain df.count() would instead execute a
            # rewritten Aggregate plan, and df.collect() would hold
            # the full result set driver-side — unbounded at scale.
            n = df._jdf.queryExecution().toRdd().count()
            dt = time.perf_counter() - t0
            jplan = df._jdf.queryExecution().executedPlan()
            return Result(
                columns=[
                    "Physical Plan", "rows", "elapsed_sec", "Operator Metrics"
                ],
                types=["string", "bigint", "double", "string"],
                rows=[(
                    jplan.toString(), n, round(dt, 6),
                    self._operator_metrics(jplan),
                )],
                effect_rows=1,
            )
        inner = re.sub(r"^explain\s+", "", stmt, flags=re.I)
        fired: dict[str, int] = {}
        inner = self._rewrite_surfaces(inner, fired)
        bucket = self.session_vars.get("andb.range_bucket_seconds", 1800)
        header = "".join(
            note.format(n=n, bucket=bucket) + "\n"
            for note, n in fired.items()
        )
        df, path_note = self._access_path(inner)
        header += path_note
        qe = df._jdf.queryExecution()
        logical = header + qe.optimizedPlan().toString()
        physical = qe.executedPlan().toString()
        # Two-column, logical + physical — the reference's EXPLAIN output
        # shape (portal.py:124-128).
        return Result(
            columns=["Logical Plan", "Physical Plan"],
            types=["string", "string"],
            rows=[(logical, physical)],
            effect_rows=1,
        )

    # Constraint keywords that may trail a column's type, any order
    # (DuckDB's grammar). DEFAULT consumes an expression (until the
    # next top-level constraint keyword), CHECK a parenthesized one.
    _COL_CONSTRAINT_RE = re.compile(
        r"\b(not\s+null|primary\s+key|unique|default|check)\b", re.I
    )

    @classmethod
    def _parse_column_defs(cls, body: str) -> tuple[list[dict], dict]:
        """Parse a CREATE TABLE column-definition list, validating
        every type against the type table. Pure — CREATE OR REPLACE
        validates the replacement with it BEFORE dropping anything
        (r9 review #1). Constraints (DuckDB-probed semantics
        throughout): per column, trailing NOT NULL / PRIMARY KEY /
        UNIQUE / DEFAULT <expr> / CHECK (<expr>) in any order; plus
        table-level ``PRIMARY KEY (a, b)`` / ``UNIQUE (a, b)`` /
        ``CHECK (<expr>)`` entries. PRIMARY KEY implies NOT NULL and
        a second key declaration refuses, like DuckDB's parser.
        Returns (columns, constraints) where constraints carries the
        normalized table-level lists: ``checks`` (SQL texts — a
        per-column CHECK may reference OTHER columns in DuckDB, so
        all checks enforce table-level) and ``uniques`` (column-name
        lists; a per-column UNIQUE is a 1-list)."""
        columns: list[dict] = []
        table_pk: list[str] | None = None
        checks: list[str] = []
        uniques: list[list[str]] = []
        for coldef in split_items(body):
            cd = coldef.strip()
            tm = re.match(r"primary\s+key\s*\((.*)\)\s*$", cd, re.I | re.S)
            if tm:
                if table_pk is not None or any(
                    c.get("pk") for c in columns
                ):
                    raise EngineError(
                        "table has more than one primary key"
                    )
                table_pk = [
                    c.strip() for c in tm.group(1).split(",") if c.strip()
                ]
                continue
            tm = re.match(r"unique\s*\((.*)\)\s*$", cd, re.I | re.S)
            if tm:
                uniques.append(
                    [c.strip() for c in tm.group(1).split(",") if c.strip()]
                )
                continue
            tm = re.match(r"check\s*\((.*)\)\s*$", cd, re.I | re.S)
            if tm:
                checks.append(tm.group(1).strip())
                continue
            parts = cd.split(None, 1)
            if len(parts) < 2:
                raise EngineError(f"bad column definition: {coldef!r}")
            cname = parts[0]
            rest = parts[1].strip()
            # split the type from the constraint tail: the FIRST
            # top-level constraint keyword ends the type (types carry
            # parens — varchar(10), decimal(10,2) — never these words)
            blank = blank_literals(rest)
            cut = None
            for cm in cls._COL_CONSTRAINT_RE.finditer(blank):
                if paren_depth_at(blank, cm.start()) == 0:
                    cut = cm.start()
                    break
            ctail = ""
            if cut is not None:
                ctail, rest = rest[cut:].strip(), rest[:cut].strip()
            if not rest:
                raise EngineError(f"bad column definition: {coldef!r}")
            notnull = pk = uniq = False
            default: str | None = None
            while ctail:
                cm = cls._COL_CONSTRAINT_RE.match(ctail)
                if not cm:
                    raise EngineError(
                        f"cannot parse column constraint: {ctail!r}"
                        f" (column {cname})"
                    )
                kw = re.sub(r"\s+", " ", cm.group(1).lower())
                ctail = ctail[cm.end():].strip()
                if kw == "not null":
                    notnull = True
                elif kw == "primary key":
                    pk = True
                elif kw == "unique":
                    uniq = True
                elif kw == "check":
                    if not ctail.startswith("("):
                        raise EngineError(
                            f"CHECK on column {cname} needs a"
                            " parenthesized expression"
                        )
                    end = match_bracket(ctail, 0)
                    checks.append(ctail[1:end].strip())
                    ctail = ctail[end + 1:].strip()
                elif kw == "default":
                    # the expression runs to the next TOP-LEVEL
                    # constraint keyword (or the end) — literals are
                    # blanked so 'not null' inside a string default
                    # never terminates it
                    tb = blank_literals(ctail)
                    dend = len(ctail)
                    for dm in cls._COL_CONSTRAINT_RE.finditer(tb):
                        if paren_depth_at(tb, dm.start()) == 0:
                            dend = dm.start()
                            break
                    default = ctail[:dend].strip()
                    if not default:
                        raise EngineError(
                            f"DEFAULT on column {cname} needs an"
                            " expression"
                        )
                    ctail = ctail[dend:].strip()
            _parse_type(rest)  # validate against the type table
            col = {"name": cname, "type": rest, "notnull": notnull or pk}
            if pk:
                if any(c.get("pk") for c in columns):
                    raise EngineError(
                        "table has more than one primary key"
                    )
                col["pk"] = True
            if default is not None:
                col["default"] = default
            if uniq:
                uniques.append([cname])
            columns.append(col)
        if table_pk:
            byname = {c["name"].lower(): c for c in columns}
            for k in table_pk:
                if k.lower() not in byname:
                    raise EngineError(
                        f"PRIMARY KEY column {k} does not exist"
                    )
                byname[k.lower()]["pk"] = True
                byname[k.lower()]["notnull"] = True
        lower = {c["name"].lower() for c in columns}
        for uq in uniques:
            missing = [k for k in uq if k.lower() not in lower]
            if missing:
                raise EngineError(
                    f"UNIQUE column(s) {missing} do not exist"
                )
        constraints: dict = {}
        if checks:
            constraints["checks"] = checks
        if uniques:
            constraints["uniques"] = uniques
        return columns, constraints

    def _create_table(self, stmt: str) -> Result:
        m = re.match(
            r"create\s+table\s+(if\s+not\s+exists\s+)?(\w+)\s*\((.*)\)\s*$",
            stmt,
            re.I | re.S,
        )
        if not m:
            raise EngineError(f"cannot parse CREATE TABLE: {stmt!r}")
        ine, name, body = m.group(1), m.group(2), m.group(3)
        if ine and name in self.catalog["tables"]:
            return Result(warning=f"table {name} already exists, skipped")
        self._check_name_free(name)
        columns, constraints = self._parse_column_defs(body)
        # In-memory entry only — the SINGLE durable commit is the
        # catalog save inside _commit_staged, so a crash anywhere in
        # between leaves no half-created shell (test_crash_consistency)
        self.catalog["tables"][name] = {"columns": columns, **constraints}
        try:
            self._stage_empty(name)  # driver-side: no Spark job for DDL
            self._commit_staged(name)
        except BaseException:
            self.catalog["tables"].pop(name, None)
            raise
        return Result()

    def _clone_table(self, stmt: str) -> Result:
        """CREATE TABLE <new> CLONE <src> — zero-copy snapshot clone
        (Delta SHALLOW CLONE economics made deletion-safe): every data
        file of the source's CURRENT version is HARDLINKED into one new
        segment dir, so cloning a 100 TB table costs O(files) driver
        metadata and zero data bytes. Unlink semantics make the clone
        independent: the source's copy-on-write DML, OPTIMIZE, VACUUM
        or DROP remove only its own directory entries — the clone's
        links keep the shared inodes alive (and vice versa), so no
        cross-table reference counting is ever needed. Falls back to a
        file copy across filesystems. Cloning a materialized view
        yields a plain table of its current contents (the defining
        query is not carried over). The clone starts its own version
        history at v1.

        `CREATE TABLE new CLONE src VERSION AS OF n` clones a RETAINED
        historical version instead of the current one — snapshot
        restore as a new table, still zero-copy (history segments are
        immutable and shared, so their files hardlink the same way)."""
        m = re.match(
            r"create\s+table\s+(\w+)\s+clone\s+(\w+)"
            r"(?:\s+version\s+as\s+of\s+(\d+))?\s*$",
            stmt,
            re.I,
        )
        if not m:
            raise EngineError(f"cannot parse CLONE: {stmt!r}")
        name, src, vnum = m.groups()
        self._check_name_free(name)
        src_meta = self._meta(src)
        if vnum is not None:
            files = []
            paths, dvs = self._resolve_version(src, int(vnum))
            for path in paths:
                if os.path.isdir(path):
                    files += sorted(
                        os.path.join(path, f)
                        for f in os.listdir(path)
                        if f.endswith(".parquet")
                    )
                elif os.path.isfile(path):
                    files.append(path)
        else:
            files, dvs = self._data_files(src), self._dvs_of(src_meta)
        if any(
            c.get("backfill") for c in src_meta.get("columns", [])
        ):
            # A backfill record is keyed by the SOURCE's segment dirs;
            # the hardlink below renames every file into one new dir,
            # which would orphan it. Materialize instead: read through
            # the fill (per-segment, so history files resolve too) and
            # write the clone with the defaults physical. The one case
            # where CLONE pays data I/O — like the re-ADD scrub, it
            # trades a rare alter-shaped edge for zero read-path debt.
            df = self._read_files(src, files, dvs=dvs)
            columns = json.loads(
                json.dumps(src_meta.get("columns", []))
            )
            for c in columns:
                c.pop("backfill", None)
            meta = {"columns": columns}
            for key in ("checks", "uniques"):
                if src_meta.get(key):
                    meta[key] = json.loads(json.dumps(src_meta[key]))
            self.catalog["tables"][name] = meta
            try:
                n = self._stage_version(name, df, base=None)
                self._commit_staged(name)
            except BaseException:
                self.catalog["tables"].pop(name, None)
                raise
            return Result(effect_rows=n)
        new_version = "v-" + uuid.uuid4().hex[:12]
        new_dir = os.path.join(self.warehouse, name, new_version)
        os.makedirs(new_dir)
        src_root = os.path.join(self.warehouse, src)
        clone_dvs: dict[str, list[int]] = {}
        for i, f in enumerate(files):
            dst = os.path.join(new_dir, f"part-{i:05d}.parquet")
            try:
                os.link(f, dst)
            except OSError:  # cross-device (EXDEV) or FS without links
                shutil.copy2(f, dst)
            dv = dvs.get(os.path.relpath(f, src_root))
            if dv:  # same bytes, same row positions: re-key the DV
                clone_dvs[os.path.relpath(dst, os.path.dirname(new_dir))] = (
                    self._dv_positions(src, dv)
                )
        count, stats = _footer_stats(new_dir)
        stats["__rows"] = count
        columns = json.loads(json.dumps(src_meta.get("columns", [])))
        if vnum is not None and columns:
            # historical clone: the current declared schema only
            # applies if every declared column physically exists in
            # the cloned files (a later RENAME rewrote names) — else
            # the clone declares the files' own historical schema
            inferred = self.spark.read.parquet(new_dir).schema
            file_cols = {f.name.lower() for f in inferred.fields}
            if not {c["name"].lower() for c in columns} <= file_cols:
                columns = _columns_from_schema(inferred)
        meta: dict = {"columns": columns}
        # constraint metadata travels with the clone (Delta SHALLOW
        # CLONE semantics) — the cloned data already satisfied it.
        # Skipped when a historical clone fell back to the files' own
        # inferred schema: the constraints' column names belong to the
        # CURRENT declared schema, not that one.
        if columns and columns == json.loads(
            json.dumps(src_meta.get("columns", []))
        ):
            for key in ("checks", "uniques"):
                if src_meta.get(key):
                    meta[key] = json.loads(json.dumps(src_meta[key]))
        self.catalog["tables"][name] = meta
        meta["_staged"] = {
            "version": new_version,
            "segments": [new_version],
            "stats": stats,
            "dvs": self._write_dvs(name, clone_dvs),
        }
        self._commit_staged(name)  # one atomic catalog save, as always
        return Result(effect_rows=count - sum(map(len, clone_dvs.values())))

    def _normalize_ctas_body(self, query: str) -> str:
        """The AS body of CTAS / CREATE OR REPLACE ... AS, normalized:
        a fully parenthesized body unwraps, and any of DuckDB's
        accepted forms (SELECT / WITH / VALUES / TABLE t) passes —
        the SAME acceptance whether or not the target exists (r9
        ADVICE #2: the parenthesized/WITH/VALUES spellings used to
        parse only when the table already existed and the statement
        took the replace path)."""
        query = query.strip()
        if query.startswith("(") and match_bracket(
            query, 0
        ) == len(query) - 1:
            query = query[1:-1].strip()
        if not re.match(
            r"(select|with|values|table|pivot|unpivot)\b", query, re.I
        ):
            raise EngineError(
                "CREATE TABLE ... AS expects a SELECT query"
            )
        return query

    def _create_table_as(self, stmt: str) -> Result:
        """CTAS — schema inferred from the SELECT (an extension; the
        reference has no CTAS and no schema inference anywhere)."""
        m = re.match(
            r"create\s+table\s+(\w+)\s+as\b\s*(.+)$", stmt, re.I | re.S
        )
        if not m:
            raise EngineError(f"cannot parse CREATE TABLE AS: {stmt!r}")
        name, query = m.groups()
        return self._materialize_select(
            name, self._normalize_ctas_body(query)
        )

    def _create_matview(self, stmt: str) -> Result:
        """CREATE MATERIALIZED VIEW name AS select — a managed table
        that remembers its defining query; REFRESH re-runs it with the
        same versioned atomic swap writes use, so concurrent readers
        keep the previous snapshot. DML into it is rejected.

        Scale: refresh cost is that of the defining query; for the
        partition-aligned rollups this engine targets (daily/hourly
        continuous aggregates, streaming_q.s_daily_rollup), re-running
        over only late partitions is the streaming path
        (streaming/windows.py) — batch REFRESH is the full-fidelity
        fallback."""
        m = re.match(
            r"create\s+materialized\s+view\s+(\w+)\s+as\s+((?:select|with)\s+.*)$",
            stmt,
            re.I | re.S,
        )
        if not m:
            raise EngineError(f"cannot parse CREATE MATERIALIZED VIEW: {stmt!r}")
        name, query = m.groups()
        return self._materialize_select(
            # plan the normalized + dialect-rewritten text, store the
            # pristine one (the refresh paths normalize per replan)
            name,
            self._normalize_stored_sql(query),
            matview_sql=query,
        )

    def _refresh_matview(self, stmt: str) -> Result:
        m = re.match(r"refresh\s+materialized\s+view\s+(\w+)\s*$", stmt, re.I)
        if not m:
            raise EngineError(f"cannot parse REFRESH: {stmt!r}")
        name = m.group(1)
        meta = self._meta(name)
        sql = meta.get("matview_sql")
        if not sql:
            raise EngineError(f"{name} is not a materialized view")
        return Result(effect_rows=self._do_refresh(name, meta, sql))

    def _do_refresh(self, name: str, meta: dict, sql: str) -> int:
        # stored matview SQL is pristine; normalize per replan
        sql = self._normalize_stored_sql(sql)
        n = self._incremental_refresh(name, meta, sql)
        if n is None:
            # Full re-run — always sound; re-anchor the seen-file set so
            # the NEXT refresh can go incremental again after a base
            # rewrite (CoW DML, OPTIMIZE) broke file-lineage continuity.
            src = self._matview_source(sql, _matview_plan(sql))
            n = self._stage_version(name, src)
            self._commit_staged(
                name, extra_meta={name: self._matview_anchor(meta, "full")}
            )
        return n

    def _maybe_auto_refresh(self, base: str) -> None:
        """Continuous-aggregate mode: with `SET andb.matview_autorefresh
        = on`, an append into a base table immediately refreshes every
        materialized view defined over it — O(delta) via
        ``_incremental_refresh`` for self-maintainable views, so the
        rollup tracks the table at per-batch cost (the batch-engine twin
        of the streaming rollup's foreachBatch upsert). Inside an
        explicit transaction the refresh is DEFERRED, not dropped: a
        mid-transaction refresh would commit view state derived from
        uncommitted base rows that ROLLBACK then revokes, so the
        touched base is recorded and _commit replays the refresh once
        the base rows are durable."""
        if self.session_vars.get("andb.matview_autorefresh") != "on":
            return
        if self._txn is not None:
            self._txn.setdefault("refresh_pending", []).append(base)
            return
        for mv, meta in list(self.catalog["tables"].items()):
            if meta.get("matview_base") == base and meta.get("matview_sql"):
                self._do_refresh(mv, meta, meta["matview_sql"])

    def _matview_anchor(self, meta: dict, mode: str) -> dict:
        """Metadata recorded at each REFRESH commit: the concrete base
        files this view now reflects (the incremental-refresh
        high-water mark) plus the mode the refresh ran in (observable
        by tests and ``EXPLAIN``-side debugging)."""
        extra: dict = {"matview_last_refresh": mode}
        base = meta.get("matview_base")
        if base and base in self.catalog["tables"]:
            extra["matview_seen"] = self._lineage(base)
        return extra

    def _incremental_refresh(
        self, name: str, meta: dict, sql: str
    ) -> int | None:
        """O(delta) REFRESH for self-maintainable aggregate views.

        The manifest write path makes every base-table change visible as
        file lineage: INSERT/COPY append segment files, copy-on-write
        DML replaces them, and a DV commit changes a file's identity
        (``_lineage``). If the base's current file set is a SUPERSET
        of what this view last saw, the change is pure insertion — run
        the defining query over only the NEW files (filters and
        expressions are row-local, so the query is valid on any row
        subset) and merge the partial aggregates into the current view
        state with the aggregate's merge function (SUM/COUNT→SUM,
        MIN→MIN, MAX→MAX). Cost: O(delta) read + O(view) rewrite — the
        view is a rollup, orders of magnitude smaller than the base —
        versus O(base) for the full re-run. At 100 TB with daily
        appends this is the difference between a continuous aggregate
        and an unusable one. Returns None when ineligible (non-SM
        query shape, unmanaged base, or base files rewritten/removed
        since the last anchor) — caller falls back to the full path.
        """
        base = meta.get("matview_base")
        if not base or base not in self.catalog["tables"]:
            return None
        plan = _matview_plan(sql)
        if plan is None or plan["base"] != base:
            return None
        cur_rel = self._lineage(base)
        seen = meta.get("matview_seen")
        if seen is None or not set(seen) <= set(cur_rel):
            return None
        delta = sorted(set(cur_rel) - set(seen))
        if not delta:
            meta["matview_last_refresh"] = "noop"
            self._save_catalog()
            return 0
        # Bind ONLY the delta files to a UNIQUE statement-scoped temp
        # view and rewrite the defining query's FROM token to it —
        # never rebinding the base's session-global view, so a
        # concurrent SELECT on the same SparkSession can never observe
        # the delta-only binding (temp-view resolution happens at
        # spark.sql analysis time, so the partial plan stays pinned
        # after the view is dropped).
        # The token rewrite targets THE table reference; if the
        # `from <base>` pattern appears more than once (e.g. a column
        # named like the base inside `extract(epoch from ts)`),
        # substitution is ambiguous — fall back to the full path
        # rather than risk rewriting the wrong occurrence.
        from_pat = rf"(\bfrom\s+){re.escape(base)}\b"
        if len(re.findall(from_pat, plan["state_sql"], re.I)) != 1:
            return None
        delta_view = self._scoped_view(
            self._read_files(
                base,
                [
                    os.path.join(self.warehouse, r.split("#", 1)[0])
                    for r in delta
                ],
            ),
            f"{base}__mvdelta_",
        )
        partial = self.spark.sql(
            re.sub(
                from_pat,
                rf"\g<1>{delta_view}",
                plan["state_sql"],
                count=1,
                flags=re.I,
            )
        )
        merge = [
            getattr(F, fn)(alias).alias(alias)
            for alias, fn in plan["aggs"]
        ]
        if plan["hidden"]:
            # AVG state lives in hidden columns the declared schema
            # hides from SELECTs — the merge must read the raw files.
            # EVERY file must carry the state: with a mixed manifest
            # (one rewritten file missing it), schema inference from a
            # complete file would surface NULL state for the stripped
            # rows and F.sum would silently drop them from the merge.
            # Per-file footer check = driver-side metadata over a
            # rollup-sized view; any gap falls back to the full path,
            # which recomputes and restores the state.
            partial = _derive_visible(partial, plan)
            if not _files_have_columns(
                self._data_files(name), plan["hidden"]
            ):
                return None
            state = self.spark.read.parquet(*self._segment_paths(name))
        else:
            state = self._read_table(name)
        merged = (
            state.unionByName(partial)
            .groupBy(*plan["groups"])
            .agg(*merge)
        )
        merged = (
            _derive_visible(merged, plan)
            if plan["hidden"]
            else merged.select(*plan["out_cols"])
        )
        n = self._stage_version(name, merged)
        self._commit_staged(
            name,
            extra_meta={name: self._matview_anchor(meta, "incremental")},
        )
        return n

    # Names owned by the SQL-selectable system catalog views; a user
    # table with one of these names would be silently shadowed at the
    # next _refresh_system_views, so creation rejects them up front
    # (the reference reserves its andb_* catalog names the same way).
    RESERVED_NAMES = frozenset(
        {"andb_tables", "andb_columns", "andb_indexes",
         "andb_segments", "andb_views", "andb_macros"}
    )

    def _check_name_free(self, name: str) -> None:
        if name.lower() in self.RESERVED_NAMES:
            raise EngineError(f"{name} is a reserved system catalog name")
        if name in self.catalog["tables"]:
            raise EngineError(f"table {name} already exists")
        if name in self.catalog.get("views", {}):
            # DuckDB: "Existing object v is of type View, trying to
            # replace with type Table" — tables and views share one
            # namespace, and the statement KINDS stay strict
            raise EngineError(
                f"{name} is a view — drop the view first or use"
                " CREATE OR REPLACE VIEW"
            )

    def _matview_source(self, sql: str, plan: dict | None) -> DataFrame:
        """The frame a full (re)materialization stores: the defining
        query's result, plus each AVG's hidden SUM+COUNT state pair
        when the view is self-maintainable (so the NEXT refresh can go
        incremental). Hidden columns are never in the declared schema,
        so SELECTs on the view never surface them."""
        if plan and plan["hidden"]:
            return _derive_visible(self.spark.sql(plan["state_sql"]), plan)
        return self.spark.sql(sql)

    def _replace_table_as(self, name: str, query: str) -> Result:
        """CREATE OR REPLACE TABLE ... AS SELECT over an EXISTING
        table: an atomic versioned swap, not drop+create. The old
        manifest stays live while the new segment writes, so a
        self-referencing source (``... as select ... from <name>``)
        reads the pre-replace state — DuckDB parity — the swap is ONE
        commit, and the replaced version joins time-travel history
        like any other. The declared schema swaps to the SELECT's
        schema in the same commit (restored if anything fails before
        the commit point)."""
        self._writable_meta(name)
        query = self._normalize_ctas_body(query)
        src = self._plan_engine_select(query)
        columns = _columns_from_schema(src.schema)
        meta = self._meta(name)
        old_cols = meta["columns"]
        old_stats = self.catalog["stats"].get(name)
        old_idx = {
            k: v for k, v in self.catalog["indexes"].items()
            if v["table"] == name
        }
        meta["columns"] = columns
        # dependents die with the replaced contents, exactly as in
        # the drop-then-create spelling (r9 review #6): the ANN
        # stats describe the OLD rows and the indexes may name
        # columns the new schema lacks. Cleared in the SAME commit.
        self.catalog["stats"].pop(name, None)
        for k in old_idx:
            del self.catalog["indexes"][k]
        try:
            n = self._stage_version(name, src)
            self._commit_staged(name)
        except BaseException:
            meta["columns"] = old_cols
            if old_stats is not None:
                self.catalog["stats"][name] = old_stats
            self.catalog["indexes"].update(old_idx)
            meta.pop("_staged", None)
            raise
        self._maybe_auto_refresh(name)
        return Result(effect_rows=n)

    def _materialize_select(
        self, name: str, query: str, matview_sql: str | None = None
    ) -> Result:
        self._check_name_free(name)
        plan = _matview_plan(matview_sql) if matview_sql else None
        if matview_sql:
            # matviews keep the bare-Spark-SQL contract: the remembered
            # SQL re-plans on every REFRESH (and incrementally via
            # _matview_plan's parse), which per-statement surface views
            # could not survive
            # plan the CALLER-normalized text (dialect + backslash);
            # the pristine matview_sql is what gets stored
            src = self._matview_source(query, plan)
            columns = _columns_from_schema(
                src.select(*plan["out_cols"]).schema if plan else src.schema
            )
        else:
            # CTAS composes with the engine-only SQL surfaces (r9)
            src = self._plan_engine_select(query)
            columns = _columns_from_schema(src.schema)
        meta: dict = {"columns": columns}
        if matview_sql:
            meta["matview_sql"] = matview_sql
            # Anchor for incremental REFRESH: if the view is a
            # self-maintainable aggregate over one managed table,
            # remember which base files this materialization reflects
            # (the temp view the query reads is bound to exactly the
            # current manifest). See _incremental_refresh.
            if plan and plan["base"] in self.catalog["tables"]:
                meta["matview_base"] = plan["base"]
                meta["matview_seen"] = [
                    os.path.relpath(f, self.warehouse)
                    for f in self._data_files(plan["base"])
                ]
        # In-memory entry only until the data is staged: the catalog
        # save inside _overwrite's commit is the SINGLE durable point,
        # so a crash mid-CTAS/mid-materialization leaves no empty
        # table shell behind (test_crash_consistency).
        self.catalog["tables"][name] = meta
        try:
            n = self._overwrite(name, src)
        except BaseException:
            self.catalog["tables"].pop(name, None)
            raise
        return Result(effect_rows=n)

    def _rename_table(self, old: str, new: str) -> Result:
        """ALTER TABLE <old> RENAME TO <new> (DuckDB): a catalog key
        move plus ONE directory rename — zero data I/O at any size.
        Indexes and matview-base pointers follow; logical views
        referencing the old name break late (the next bind raises,
        exactly DuckDB's broken-view behavior). Disallowed inside an
        explicit transaction: the txn's rollback tracking assumes
        dirs keep their names."""
        if self._txn is not None:
            raise EngineError(
                "RENAME TO is not allowed inside a transaction"
            )
        meta = self._meta(old)  # raises if missing; views excluded
        if old in self.catalog.get("views", {}):
            raise EngineError(f"{old} is a view, not a table")
        self._check_name_free(new)
        os.rename(
            os.path.join(self.warehouse, old),
            os.path.join(self.warehouse, new),
        )
        self.catalog["tables"][new] = meta
        del self.catalog["tables"][old]
        # the meta shard's pointer is path-relative to the old dir;
        # dropping it makes the next save write the shard under the
        # new dir (the orphan inside the moved dir is inert)
        self._meta_ptrs.pop(old, None)
        if old in self._seg_stats:
            self._seg_stats[new] = self._seg_stats.pop(old)
            self._stats_dirty.add(new)
        for imeta in self.catalog.get("indexes", {}).values():
            if imeta.get("table") == old:
                imeta["table"] = new
        for tmeta in self.catalog["tables"].values():
            if tmeta.get("matview_base") == old:
                tmeta["matview_base"] = new
        self._save_catalog()
        try:
            self.spark.catalog.dropTempView(old)
        except Exception:
            pass
        self._view(new)
        return Result()

    def _alter_column(
        self, name: str, col: str, action: str,
        default_expr: str | None, new_type: str | None,
    ) -> Result:
        """ALTER TABLE .. ALTER [COLUMN] c SET DEFAULT expr / DROP
        DEFAULT / SET NOT NULL / DROP NOT NULL / [SET DATA] TYPE t
        (DuckDB's column-alter family). Defaults and nullability are
        metadata-only; SET NOT NULL probes existing rows first
        (bounded early-exit scan — DuckDB errors on existing NULLs
        too); TYPE rewrites the table through an ANSI-checked cast
        (DuckDB rewrites too) — a value the new type cannot represent
        refuses BEFORE any write, never silently NULLs."""
        meta = self._meta(name)
        hit = next(
            (
                c for c in meta["columns"]
                if c["name"].lower() == col.lower()
            ),
            None,
        )
        if hit is None:
            raise EngineError(f"column {col} not in {name}")
        if action.startswith("set default"):
            expr = default_expr.strip()
            if not self._seq_calls(expr):
                try:  # binder-style validation, job-free
                    self.spark.sql(f"select ({expr}) as v").schema
                except Exception as e:
                    raise EngineError(
                        f"cannot bind DEFAULT expression {expr!r}:"
                        f" {e}"
                    ) from e
            hit["default"] = expr
        elif action == "drop default":
            hit.pop("default", None)
            # the backfill record stays: it captures values EXISTING
            # rows already hold; only future inserts lose the default
        elif action == "set not null":
            if self._read_table(name).filter(
                self._safe_col(hit["name"]).isNull()
            ).limit(1).count():
                raise EngineError(
                    f"column {hit['name']} of {name} contains NULL"
                    " values — cannot SET NOT NULL"
                )
            hit["notnull"] = True
        elif action == "drop not null":
            if hit.get("pk"):
                raise EngineError(
                    f"cannot DROP NOT NULL on {hit['name']}: the"
                    " PRIMARY KEY depends on it"
                )
            hit["notnull"] = False
        else:  # [set data] type <t>
            t = new_type.strip().rstrip(";").strip()
            dt, _ = _parse_type(t)
            src = self._read_table(name)
            c = self._safe_col(hit["name"])
            qc = (
                hit["name"] if re.fullmatch(r"\w+", hit["name"])
                else f"`{hit['name']}`"
            )
            bad = src.filter(
                c.isNotNull()
                & F.expr(
                    f"try_cast({qc} as {dt.simpleString()})"
                ).isNull()
            )
            if bad.limit(1).count():
                raise EngineError(
                    f"ALTER TYPE: a value of {hit['name']} cannot"
                    f" cast to {t}"
                )
            df = src.withColumn(hit["name"], c.cast(dt))
            hit["type"] = t.lower()
            hit.pop("backfill", None)  # the rewrite materializes
            self._overwrite(name, df)
            return Result()
        self._save_catalog()
        self._view(name)
        return Result()

    def _alter_table(self, stmt: str) -> Result:
        """ALTER TABLE — parsed-only in the reference (parser_.py:98-101,
        no transformation). Supports ADD COLUMN, DROP COLUMN, RENAME
        COLUMN over the managed parquet (schema change = rewrite)."""
        vm = re.match(
            r"alter\s+view\s+(\w+)\s+rename\s+to\s+(\w+)\s*$",
            stmt, re.I,
        )
        if vm:
            old, new = vm.groups()
            views = self.catalog.get("views", {})
            if old not in views:
                if old in self.catalog["tables"]:
                    raise EngineError(
                        f"{old} is a table — use ALTER TABLE"
                    )
                raise EngineError(f"view {old} does not exist")
            self._check_name_free(new)
            views[new] = views.pop(old)
            self._save_catalog()
            try:
                self.spark.catalog.dropTempView(old)
            except Exception:
                pass
            self._bound_views.discard(old)
            return Result()
        rm = re.match(
            r"alter\s+table\s+(\w+)\s+rename\s+to\s+(\w+)\s*$",
            stmt, re.I,
        )
        if rm:
            return self._rename_table(rm.group(1), rm.group(2))
        cm = re.match(
            r"alter\s+table\s+(\w+)\s+alter\s+(?:column\s+)?(\w+)\s+"
            r"(set\s+default\s+(.+)|drop\s+default"
            r"|set\s+not\s+null|drop\s+not\s+null"
            r"|(?:set\s+data\s+)?type\s+(.+))\s*$",
            stmt, re.I | re.S,
        )
        if cm:
            return self._alter_column(
                cm.group(1), cm.group(2),
                re.sub(r"\s+", " ", cm.group(3).strip().lower()),
                cm.group(4), cm.group(5),
            )
        add_default: str | None = None
        am = re.match(
            r"alter\s+table\s+(\w+)\s+add\s+column\s+(\w+)\s+(.+?)"
            r"(?:\s+default\s+(.+?))?\s*$",
            stmt,
            re.I | re.S,
        )
        if am and self._COL_CONSTRAINT_RE.search(
            blank_literals(am.group(3) + " " + (am.group(4) or ""))
        ):
            # DuckDB's own rule: "Adding columns with constraints not
            # yet supported" — only a DEFAULT may trail the type (the
            # lookahead above split it off already; anything left is
            # NOT NULL / UNIQUE / CHECK / a second DEFAULT)
            raise EngineError(
                "ALTER TABLE ADD COLUMN with constraints is not"
                " supported (DEFAULT only)"
            )
        if am:
            m = am
            name, add_col, add_type = am.group(1), am.group(2), am.group(3)
            add_default = am.group(4)
            drop_col = ren_from = ren_to = None
        else:
            m = re.match(
                r"alter\s+table\s+(\w+)\s+"
                r"(?:drop\s+column\s+(\w+)"
                r"|rename\s+column\s+(\w+)\s+to\s+(\w+))\s*$",
                stmt,
                re.I,
            )
            if not m:
                raise EngineError(f"cannot parse ALTER TABLE: {stmt!r}")
            name, drop_col, ren_from, ren_to = m.groups()
            add_col = add_type = None
        meta = self._meta(name)
        cols = meta["columns"]
        # A schema change under a dependent matview breaks the premise
        # of lineage-based refresh ("files unchanged" no longer implies
        # "view still correct/definable" — a metadata-only DROP COLUMN
        # touches no file): drop the anchors so the next REFRESH takes
        # the full path, which re-validates the defining query against
        # the new schema (and raises if it no longer resolves).
        for mv_meta in self.catalog["tables"].values():
            if mv_meta.get("matview_base") == name:
                mv_meta.pop("matview_seen", None)
        if add_col:
            # Case-INSENSITIVE checks throughout: Spark resolves parquet
            # fields case-insensitively, so `ADD COLUMN secret` next to
            # a dropped `Secret` would resurrect the dropped data (and
            # `ADD COLUMN ID` next to `id` would create a duplicate the
            # reader can't disambiguate).
            if any(c["name"].lower() == add_col.lower() for c in cols):
                raise EngineError(f"column {add_col} already exists in {name}")
            add_type = add_type.strip()
            dt, _ = _parse_type(add_type)
            newcol: dict = {
                "name": add_col,
                "type": add_type.lower(),
                "notnull": False,
            }
            fill = F.lit(None).cast(dt)
            if add_default is not None:
                # DuckDB backfills EXISTING rows with the default.
                # Fold it to one constant NOW (a local one-row plan —
                # no table data touched) so the metadata-only path
                # below can record it per segment; per-row
                # nondeterministic defaults can't backfill lazily and
                # refuse by name.
                newcol["default"] = add_default.strip()
                folded = self._fold_constant(newcol["default"], dt)
                fill = F.expr(folded).cast(dt)
            if add_col.lower() in (
                d.lower() for d in meta.get("dropped_columns", [])
            ):
                # Resurrection hazard: files written before the DROP
                # still physically hold values under this name, and a
                # schema-driven read would surface them as the "new"
                # column's contents. Scrub by full rewrite (the one
                # ALTER case that costs data I/O) — the rewrite
                # materializes the default, so no backfill record.
                df = self._read_table(name).withColumn(add_col, fill)
                cols.append(newcol)
                # No separate catalog save: the overwrite's commit
                # persists the new column AND the scrubbed files in ONE
                # atomic save — a crash before it leaves the old schema
                # over the old files, never the new column over
                # unscrubbed residue.
                self._overwrite(name, df)
                return Result()
            # Metadata-only: no data file is touched — the declared
            # schema fills the column for every existing segment with
            # NULL, or with the folded DEFAULT via the backfill record
            # (Delta/Iceberg schema-evolution economics; Iceberg v3
            # initial-default semantics for the DEFAULT case). The
            # record lists EVERY segment dir present on disk —
            # retained history included — so time-travel reads that
            # force the current schema see the backfill too; segments
            # written from here on materialize the column physically
            # and never join the set.
            if add_default is not None:
                tdir = os.path.join(self.warehouse, name)
                newcol["backfill"] = {
                    "value_sql": folded,
                    "segments": sorted(
                        d for d in os.listdir(tdir)
                        if os.path.isdir(os.path.join(tdir, d))
                    ) if os.path.isdir(tdir) else [],
                }
            cols.append(newcol)
            self._save_catalog()
            self._view(name)
            return Result()
        if drop_col:
            hit = next(
                (c for c in cols if c["name"].lower() == drop_col.lower()),
                None,
            )
            if hit is None:
                raise EngineError(f"column {drop_col} not in {name}")
            if hit.get("pk"):
                # DuckDB refuses too ("Cannot drop column ... UNIQUE
                # constraint depends on it")
                raise EngineError(
                    f"cannot drop column {drop_col}: the PRIMARY KEY"
                    f" of {name} depends on it"
                )
            if any(
                hit["name"].lower() in (k.lower() for k in uq)
                for uq in meta.get("uniques", [])
            ):
                raise EngineError(
                    f"cannot drop column {drop_col}: a UNIQUE"
                    f" constraint of {name} depends on it"
                )
            if any(
                re.search(
                    rf"\b{re.escape(hit['name'])}\b",
                    blank_literals(c), re.I,
                )
                for c in meta.get("checks", [])
            ):
                raise EngineError(
                    f"cannot drop column {drop_col}: a CHECK"
                    f" constraint of {name} depends on it"
                )
            # Metadata-only: the declared schema stops materializing
            # the column (projection pushdown never reads its pages);
            # record the DECLARED name so a future re-ADD (any case)
            # knows to scrub.
            meta["columns"] = [c for c in cols if c is not hit]
            meta.setdefault("dropped_columns", []).append(hit["name"])
            self._save_catalog()
            self._view(name)
            return Result()
        # RENAME rewrites: parquet resolves columns by name, so the
        # files must change (and the rewrite clears any dropped-column
        # residue as a side effect — see _advance_pointer).
        target = next(
            (c for c in cols if c["name"].lower() == ren_from.lower()), None
        )
        if target is None:
            raise EngineError(f"column {ren_from} not in {name}")
        if any(c["name"].lower() == ren_to.lower() for c in cols):
            raise EngineError(f"column {ren_to} already exists in {name}")
        if any(
            re.search(
                rf"\b{re.escape(target['name'])}\b",
                blank_literals(c), re.I,
            )
            for c in meta.get("checks", [])
        ):
            # a CHECK's expression text would go stale — refuse by
            # name rather than silently breaking future enforcement
            raise EngineError(
                f"cannot rename column {ren_from}: a CHECK"
                f" constraint of {name} references it"
            )
        df = self._read_table(name).withColumnRenamed(ren_from, ren_to)
        target["name"] = ren_to
        # UNIQUE sets follow the rename (they reference by name)
        for uq in meta.get("uniques", []):
            for i, k in enumerate(uq):
                if k.lower() == ren_from.lower():
                    uq[i] = ren_to
        # single atomic save inside the overwrite commit (see ADD-after-
        # DROP above): renamed schema + renamed files land together
        self._overwrite(name, df)
        return Result()

    def _create_view(self, stmt: str) -> Result:
        """CREATE [OR REPLACE] VIEW [IF NOT EXISTS] name AS <query> —
        a logical, non-materialized view (DuckDB/ANSI): the catalog
        persists the defining SQL only; every reference re-plans it
        through the FULL engine pipeline (``_bind_referenced_views``),
        so engine-only SQL (QUALIFY, DISTINCT ON, BY NAME unions,
        COLUMNS, ASOF) works in view bodies and the view always
        reflects the base tables' current state. Creation validates
        the body end-to-end by planning it as a read would (it never
        runs) and snapshots the schema into the catalog for
        DESCRIBE/andb_views; tables and views share one namespace
        with strict statement kinds (CREATE VIEW can never replace a
        table, DROP TABLE never takes a view)."""
        m = re.match(
            r"create\s+(or\s+replace\s+)?view\s+"
            r"(if\s+not\s+exists\s+)?(\w+)\s*"
            r"(?:\(([\w\s,]*)\)\s*)?as\s+(.*)$",
            stmt, re.I | re.S,
        )
        if not m:
            raise EngineError(f"cannot parse CREATE VIEW: {stmt!r}")
        orp, ine, name, alias_list, body = m.groups()
        aliases = (
            [a.strip() for a in alias_list.split(",") if a.strip()]
            if alias_list else None
        )
        if orp and ine:
            # DuckDB refuses the combination too
            raise EngineError(
                "CREATE VIEW: OR REPLACE and IF NOT EXISTS cannot be"
                " combined"
            )
        body = body.strip().rstrip(";").strip()
        if name.lower() in self.RESERVED_NAMES:
            raise EngineError(f"{name} is a reserved system catalog name")
        if name in self.catalog["tables"]:
            kind = (
                "materialized view"
                if self.catalog["tables"][name].get("matview_sql")
                else "table"
            )
            raise EngineError(
                f"{name} is a {kind} — CREATE VIEW cannot replace it"
            )
        vws = self.catalog["views"]
        if name in vws and not orp:
            if ine:
                return Result(
                    warning=f"view {name} already exists, skipped"
                )
            raise EngineError(f"view {name} already exists")
        old = vws.get(name)
        vws[name] = {"sql": body}
        if aliases:
            vws[name]["aliases"] = aliases
        try:
            # cycle check over the would-be catalog, then validate:
            # bind the dependency closure — the view's own plan comes
            # back last (post-order) and its schema snapshots into
            # the catalog entry
            df = None
            for dep in self._view_dep_order([name]):
                df = self._bind_view(dep)
            vws[name]["columns"] = [
                {"name": f.name, "type": f.dataType.simpleString()}
                for f in df.schema.fields
            ]
        except BaseException:
            if old is None:
                vws.pop(name, None)
            else:
                vws[name] = old
                # _bind_view dropped the live binding before planning
                # the (failed) replacement — restore the old view
                try:
                    self._bind_view(name)
                except EngineError:
                    pass  # old body no longer plans either
            raise
        self._save_catalog()
        return Result()

    def _drop_view(self, stmt: str) -> Result:
        m = re.match(
            r"drop\s+view\s+(if\s+exists\s+)?(\w+)\s*$", stmt, re.I
        )
        if not m:
            raise EngineError(f"cannot parse DROP VIEW: {stmt!r}")
        name = m.group(2)
        if name in self.catalog["tables"]:
            kind = (
                "a materialized view — use DROP MATERIALIZED VIEW"
                if self.catalog["tables"][name].get("matview_sql")
                else "a table — use DROP TABLE"
            )
            raise EngineError(f"{name} is {kind}")
        if name not in self.catalog["views"]:
            if m.group(1):
                return Result(
                    warning=f"view {name} does not exist, skipped"
                )
            raise EngineError(f"view {name} does not exist")
        # dependents are NOT blocked (DuckDB drops too): a dependent
        # view fails at its next bind with the named plan error
        del self.catalog["views"][name]
        self._save_catalog()
        if name in self._bound_views:
            self.spark.catalog.dropTempView(name)
            self._bound_views.discard(name)
        return Result()

    # ------------------------------------------------------------ macros --
    # DuckDB's binder recursion cap (probed: "Maximum recursion depth
    # exceeded (Maximum: 128)") — a self-recursive macro errors at
    # CALL time, like DuckDB's, never loops.
    _MACRO_DEPTH = 128

    def _create_macro(self, stmt: str) -> Result:
        """CREATE [OR REPLACE] MACRO [IF NOT EXISTS] name(params) AS
        <expr> | AS TABLE <query> — DuckDB macros as textual templates
        the engine expands at statement-plan time (the reference has
        no macro facility; this is the DuckDB dialect surface, probed
        on 1.0). Semantics replicated from the probes:

        - SCALAR and TABLE macros live in SEPARATE namespaces (a
          scalar ``tm1`` coexists with a table macro ``tm1``; the
          call position disambiguates).
        - A scalar body must be a CLOSED expression over its
          parameters (plus literals, functions, and subqueries):
          creation validates it by planning with parameters bound NULL,
          so a stray column reference fails AT CREATE like DuckDB's
          binder. Table macro bodies are NOT validated at create
          (probed: ``AS TABLE SELECT * FROM no_such`` creates fine
          and fails at call).
        - Macros LATE-BIND: bodies are stored as text and expand at
          every reference, so CREATE OR REPLACE of an inner macro is
          visible through an outer one, and a macro over a dropped
          table fails at call, not at drop.
        - Default parameters (``b := 10``) bind by NAME ONLY at the
          call site; required parameters are positional-only.
        - OR REPLACE + IF NOT EXISTS cannot combine (DuckDB parser
          refuses); OR REPLACE may swap a macro's kind.
        - Builtin-name shadowing is allowed (probed: a macro named
          ``abs`` wins over the builtin) — expansion is name-driven,
          so the macro captures the call before Spark ever sees it.
        """
        m = re.match(
            r"create\s+(or\s+replace\s+)?macro\s+"
            r"(if\s+not\s+exists\s+)?(\w+)\s*\(",
            stmt, re.I,
        )
        if not m:
            raise EngineError(f"cannot parse CREATE MACRO: {stmt!r}")
        orp, ine, name = m.group(1), m.group(2), m.group(3)
        if orp and ine:
            # DuckDB's parser refuses the combination too
            raise EngineError(
                "CREATE MACRO: OR REPLACE and IF NOT EXISTS cannot"
                " be combined"
            )
        op = m.end() - 1
        cp = match_bracket(stmt, op)
        bm = re.match(
            r"\s+as\s+(table\s+)?(.+)$", stmt[cp + 1:], re.I | re.S
        )
        if not bm:
            raise EngineError(f"cannot parse CREATE MACRO: {stmt!r}")
        kind = "table" if bm.group(1) else "scalar"
        body = bm.group(2).strip().rstrip(";").strip()
        params: list[tuple[str, str | None]] = []
        if stmt[op + 1:cp].strip():
            for p in split_top_level(stmt[op + 1:cp]):
                pm = re.match(
                    r"\s*([A-Za-z_]\w*)\s*(?::=\s*(.+))?\s*$", p, re.S
                )
                if not pm:
                    raise EngineError(
                        f"CREATE MACRO {name}: cannot parse"
                        f" parameter {p.strip()!r}"
                    )
                pname = pm.group(1).lower()
                if any(pname == q for q, _ in params):
                    raise EngineError(
                        f"CREATE MACRO {name}: duplicate parameter"
                        f" {pname}"
                    )
                default = pm.group(2).strip() if pm.group(2) else None
                if default is None and any(
                    d is not None for _, d in params
                ):
                    raise EngineError(
                        f"CREATE MACRO {name}: positional parameter"
                        f" {pname} cannot follow a default parameter"
                    )
                params.append((pname, default))
        reg = self.catalog.setdefault(
            "table_macros" if kind == "table" else "macros", {}
        )
        key = name.lower()
        if key in reg and not orp:
            if ine:
                return Result(
                    warning=f"macro {name} already exists, skipped"
                )
            raise EngineError(
                f"{'table ' if kind == 'table' else ''}macro {name}"
                " already exists"
            )
        if kind == "scalar":
            # validation by planning with params bound NULL — inner
            # macro calls expand against the CURRENT registry, so a
            # self-referencing OR REPLACE validates against the OLD
            # definition exactly like DuckDB (probed), and a brand-new
            # self-reference fails as an unknown function
            probe = self._substitute_macro_params(
                body, {p: "NULL" for p, _ in params}
            )
            try:
                probe = self._expand_macros(probe)
                sel = dialect.normalize(
                    f"select ({probe}) as __macro_probe"
                )
                self._bind_referenced_views(sel)
                self._plan_engine_select(sel)
            except EngineError:
                raise
            except Exception as e:
                # the probe binds params as bare NULL, whose VOID
                # type cannot satisfy array/struct-typed functions
                # (try_element_at(NULL, 1) for a `l[1]` body) — a
                # type mismatch ON THE PLACEHOLDER is a valid body
                # under late binding (DuckDB accepts it; the call
                # site types it), where unresolved names still refuse
                if "DATATYPE_MISMATCH" not in str(e):
                    raise EngineError(
                        f"CREATE MACRO {name}: body does not bind:"
                        f" {e}"
                    ) from e
        reg[key] = {
            "name": name,
            "params": [[p, d] for p, d in params],
            "body": body,
        }
        self._save_catalog()
        return Result()

    def _drop_macro(self, stmt: str) -> Result:
        """DROP MACRO [IF EXISTS] name (scalar) / DROP MACRO TABLE
        [IF EXISTS] name — the kinds are separate catalogs (DuckDB,
        probed: DROP MACRO on a table macro reports does-not-exist)."""
        m = re.match(
            r"drop\s+macro\s+(table\s+)?(if\s+exists\s+)?(\w+)\s*$",
            stmt, re.I,
        )
        if not m:
            raise EngineError(f"cannot parse DROP MACRO: {stmt!r}")
        kind = "table" if m.group(1) else "scalar"
        reg = self.catalog.get(
            "table_macros" if kind == "table" else "macros"
        ) or {}
        key = m.group(3).lower()
        if key not in reg:
            if m.group(2):
                return Result(
                    warning=f"macro {m.group(3)} does not exist, skipped"
                )
            other = self.catalog.get(
                "macros" if kind == "table" else "table_macros"
            ) or {}
            hint = ""
            if key in other:
                hint = (
                    " (it is a table macro — use DROP MACRO TABLE)"
                    if kind == "scalar"
                    else " (it is a scalar macro — use DROP MACRO)"
                )
            raise EngineError(
                f"{'table ' if kind == 'table' else ''}macro"
                f" {m.group(3)} does not exist{hint}"
            )
        del reg[key]
        self._save_catalog()
        return Result()

    @staticmethod
    def _substitute_macro_params(
        body: str, mapping: dict[str, str]
    ) -> str:
        """Token-boundary substitution of macro parameters into the
        body text: only UNQUALIFIED bare identifiers substitute (a
        qualified ``t.param`` stays the table's column — DuckDB,
        probed), string literals never do (match positions come from
        the literal-blanked twin), an explicit ``AS param`` alias is
        left alone (it names an output column, not a reference), and
        every argument splices in PARENTHESIZED so caller-side
        precedence can't leak into the body expression."""
        if not mapping:
            return body
        blanked = blank_literals(body)
        pat = re.compile(
            r"(?<![\w.$`\"])("
            + "|".join(re.escape(p) for p in mapping)
            + r")(?![\w$])",
            re.I,
        )
        out: list[str] = []
        last = 0
        for mm in pat.finditer(blanked):
            if re.search(r"\bas\s+$", blanked[:mm.start()], re.I):
                continue  # explicit output alias, not a reference
            out.append(body[last:mm.start()])
            out.append("(" + mapping[mm.group(1).lower()] + ")")
            last = mm.end()
        out.append(body[last:])
        return "".join(out)

    def _expand_macros(self, text: str) -> str:
        """Expand every registered macro call in ``text`` to its
        (argument-substituted, parenthesized) body — the engine's
        whole macro runtime. Purely textual and DRIVER-SIDE: by the
        time Spark sees the statement the macros are gone, so Catalyst
        optimizes the expanded expression exactly as if the user had
        inlined it (a scalar macro in a WHERE clause still reaches
        parquet as a pushed filter; a table macro is an ordinary
        derived table for the join planner). Fixpoint passes bound by
        the nesting depth — each pass expands all non-overlapping
        calls — with DuckDB's 128 recursion cap as the runaway stop
        for self-recursive definitions."""
        if not (
            self.catalog.get("macros") or self.catalog.get("table_macros")
        ):
            return text
        for _ in range(self._MACRO_DEPTH):
            new = self._expand_macros_once(text)
            if new is None:
                return text
            text = new
        raise EngineError(
            "maximum macro recursion depth exceeded"
            f" ({self._MACRO_DEPTH}) while expanding macros —"
            " recursive macro definition?"
        )

    def _expand_macros_once(self, text: str) -> str | None:
        """One expansion pass: every registered-name call not nested
        inside another expansion this pass splices its substituted
        body in (right-to-left, offsets stay valid). Returns None when
        no call was found (the fixpoint)."""
        scal = self.catalog.get("macros") or {}
        tab = self.catalog.get("table_macros") or {}
        blanked = blank_literals(text)
        edits: list[tuple[int, int, str]] = []
        taken_until = -1
        for mm in re.finditer(
            r"(?<![\w.$`\"])([A-Za-z_]\w*)\s*\(", blanked
        ):
            if mm.start() <= taken_until:
                continue  # inside an outer call expanded this pass
            key = mm.group(1).lower()
            in_s, in_t = key in scal, key in tab
            if not (in_s or in_t):
                continue
            op = mm.end() - 1
            cp = match_bracket(text, op)
            from_pos = self._macro_from_position(blanked, mm.start())
            if from_pos and not in_t:
                # DuckDB: "Table Function with name X does not exist"
                raise EngineError(
                    f"table function {mm.group(1)} does not exist —"
                    f" {mm.group(1)} is a scalar macro"
                )
            if not from_pos and not in_s:
                # DuckDB: "is a table function but it was used as a
                # scalar function"
                raise EngineError(
                    f"{mm.group(1)} is a table macro but was used as"
                    " a scalar function — call it in a FROM clause"
                )
            meta = tab[key] if from_pos else scal[key]
            mapping = self._bind_macro_args(
                mm.group(1), meta, text[op + 1:cp]
            )
            # the stored body is PRISTINE — its backslash literals
            # normalize here (the splice point), never twice: the
            # surrounding statement was normalized before expansion
            # and arguments splice from it verbatim
            sub = self._substitute_macro_params(
                dialect.escape_backslash_literals(meta["body"]), mapping
            )
            edits.append((mm.start(), cp + 1, "(" + sub + ")"))
            taken_until = cp
        if not edits:
            return None
        out: list[str] = []
        last = 0
        for s, e, r in edits:
            out.append(text[last:s])
            out.append(r)
            last = e
        out.append(text[last:])
        return "".join(out)

    def _bind_macro_args(
        self, name: str, meta: dict, argtext: str
    ) -> dict[str, str]:
        """Bind a call's argument list to the macro's parameters:
        positional args fill the required (non-default) parameters in
        order, ``k := expr`` args fill defaults BY NAME ONLY (DuckDB,
        probed: a positional arg for a default parameter refuses, as
        does naming a required one)."""
        params = [(p, d) for p, d in meta["params"]]
        args = (
            split_top_level(argtext) if argtext.strip() else []
        )
        pos: list[str] = []
        named: dict[str, str] = {}
        defaults = {p: d for p, d in params if d is not None}
        for a in args:
            nm = re.match(r"\s*([A-Za-z_]\w*)\s*:=\s*", blank_literals(a))
            if nm:
                k = nm.group(1).lower()
                if k not in defaults:
                    raise EngineError(
                        f"macro {name} does not have default"
                        f" parameter {k}"
                    )
                if k in named:
                    raise EngineError(
                        f"macro {name}: duplicate named argument {k}"
                    )
                named[k] = a[nm.end():].strip()
            else:
                if named:
                    raise EngineError(
                        f"macro {name}: positional argument after a"
                        " named argument"
                    )
                pos.append(a.strip())
        required = [p for p, d in params if d is None]
        if len(pos) != len(required):
            sig = ", ".join(required)
            raise EngineError(
                f"macro function '{name}({sig})' requires"
                f" {len(required)} positional argument(s), but"
                f" {len(pos)} were provided"
            )
        mapping = dict(defaults)
        mapping.update(named)
        mapping.update(zip(required, pos))
        return mapping

    @staticmethod
    def _macro_from_position(blanked: str, pos: int) -> bool:
        """True when the call starting at ``pos`` sits in a FROM list
        (→ table-macro position). Direct predecessors FROM/JOIN decide
        immediately; a comma walks backwards depth-aware to the
        nearest clause keyword of the SAME scope (so ``from t1, m(1)``
        is a FROM-list comma while ``select a, m(1)`` is not; exiting
        an unmatched '(' keeps scanning the parent text, which governs
        a comma between parenthesized FROM sources). Boundary: a
        table-macro call wrapped in bare parens ``FROM (tm(1))``
        misreads as scalar position and refuses loudly — spell it
        unwrapped or aliased."""
        m2 = re.search(r"([A-Za-z_]\w*|\S)\s*$", blanked[:pos])
        if not m2:
            return False
        token = m2.group(1).lower()
        if token in ("from", "join"):
            return True
        if token != ",":
            return False
        def _word_before(idx: int) -> tuple[str, int]:
            # (lowercased word ending at idx inclusive, start index)
            k = idx
            while k >= 0 and (blanked[k].isalnum() or blanked[k] == "_"):
                k -= 1
            return blanked[k + 1:idx + 1].lower(), k

        depth = 0
        j = m2.start(1) - 1
        while j >= 0:
            c = blanked[j]
            if c == ")":
                depth += 1
            elif c == "(":
                if depth > 0:
                    # matched: a whole skipped group closes here — the
                    # word immediately before it is the group's caller
                    # (a function name, a derived table's FROM/JOIN, a
                    # join's USING): FROM/JOIN decide, USING and
                    # function names are part of the group — skip them
                    depth -= 1
                    k = j - 1
                    while k >= 0 and blanked[k].isspace():
                        k -= 1
                    if k >= 0 and (blanked[k].isalnum() or blanked[k] == "_"):
                        word, ws = _word_before(k)
                        if word in ("from", "join"):
                            return True
                        if word in (
                            "select", "where", "having", "qualify",
                            "on", "when", "set", "limit", "by",
                            "values", "in", "exists",
                        ):
                            return False
                        j = ws + 1  # skip the caller word too
                # unmatched open: left our group — the parent scope's
                # clause keywords still govern this comma
            elif depth == 0 and (c.isalnum() or c == "_"):
                word, k = _word_before(j)
                if word in (
                    "select", "where", "having", "qualify", "on",
                    "when", "set", "limit", "by", "values", "using",
                ):
                    return False
                if word in ("from", "join"):
                    return True
                j = k
                continue
            j -= 1
        return False

    def _drop_table(self, stmt: str) -> Result:
        m = re.match(
            r"drop\s+table\s+(if\s+exists\s+)?(\w+)\s*$", stmt, re.I
        )
        if not m:
            raise EngineError(f"cannot parse DROP TABLE: {stmt!r}")
        name = m.group(2)
        if name in self.catalog.get("views", {}):
            # strict statement kinds (DuckDB raises on the mismatch
            # too): DROP TABLE must never take a view with it
            raise EngineError(f"{name} is a view — use DROP VIEW")
        if m.group(1) and name not in self.catalog["tables"]:
            return Result(warning=f"table {name} does not exist, skipped")
        self._meta(name)
        base = os.path.join(self.warehouse, name)
        del self.catalog["tables"][name]
        self.catalog["stats"].pop(name, None)  # stats die with the table
        # zone-map sidecar cache too — a later CREATE of the same name
        # must not inherit the dead table's in-memory stats
        self._seg_stats.pop(name, None)
        self._stats_dirty.discard(name)
        self.catalog["indexes"] = {
            k: v for k, v in self.catalog["indexes"].items() if v["table"] != name
        }
        self._save_catalog()
        self.spark.catalog.dropTempView(name)
        if self._txn is not None:
            self._txn["superseded"].append(base)  # data kept until COMMIT
        else:
            shutil.rmtree(base, ignore_errors=True)
        return Result()

    def _create_index(self, stmt: str) -> Result:
        m = re.match(
            r"create\s+index\s+(\w+)\s+on\s+(\w+)\s*\(([^)]*)\)"
            r"(?:\s+using\s+(\w+))?\s*$",
            stmt,
            re.I,
        )
        if not m:
            raise EngineError(f"cannot parse CREATE INDEX: {stmt!r}")
        idx, table, cols, method = m.groups()
        meta = self._meta(table)
        have = {c["name"] for c in meta["columns"]}
        want = [c.strip() for c in cols.split(",")]
        missing = [c for c in want if c not in have]
        if missing:
            raise EngineError(f"index columns not in {table}: {missing}")
        if idx in self.catalog["indexes"]:
            raise EngineError(f"index {idx} already exists")
        # Metadata only: Spark's scan-time pruning (partition/min-max/
        # dictionary) subsumes a B+tree for OLAP; the catalog entry keeps
        # the reference's DDL surface (utility.py:11-49) queryable.
        self.catalog["indexes"][idx] = {
            "table": table,
            "columns": want,
            "method": (method or "btree").lower(),
        }
        self._save_catalog()
        return Result()

    def _drop_index(self, stmt: str) -> Result:
        m = re.match(
            r"drop\s+index\s+(if\s+exists\s+)?(\w+)\s*$", stmt, re.I
        )
        if not m:
            raise EngineError(f"cannot parse DROP INDEX: {stmt!r}")
        idx = m.group(2)
        if idx not in self.catalog["indexes"]:
            if m.group(1):
                return Result(warning=f"index {idx} does not exist, skipped")
            raise EngineError(f"index {idx} does not exist")
        del self.catalog["indexes"][idx]
        self._save_catalog()
        return Result()

    _ON_CONFLICT_RE = re.compile(
        r"^(?P<ins>insert\s+into\s+(?P<t>\w+)\s*(?:\((?P<cols>[^)]*)\))?"
        r"\s*(?P<src>values\s*.*?|select\s+.*?))"
        r"\s+on\s+conflict\s*\((?P<keys>[^)]*)\)\s*do\s+"
        r"(?P<act>nothing|update\s+set\s+(?P<set>.*))$",
        re.I | re.S,
    )

    _UPSERT_DUP_MSG = (
        "ON CONFLICT DO UPDATE command cannot affect row a second time:"
        " duplicate conflict keys in the source rows"
    )

    def _try_literal_upsert(
        self,
        target: str,
        collist: list[str],
        keys: list[str],
        vtext: str,
        do_update: bool,
        set_sql: str,
    ) -> Result | None:
        """INSERT ... VALUES ... ON CONFLICT decided on the driver, or
        None for the MERGE lowering. Taken when ``_literal_table`` can
        type ``vtext``, the conflict columns are a declared PRIMARY
        KEY/UNIQUE set without a varchar(n) or floating column (the
        lowering compares those as the untyped VALUES columns) and
        DO UPDATE SET assigns no key column.
          - In-batch conflict keys: DO UPDATE raises on a duplicate,
            DO NOTHING keeps the first row per key.
          - One ``_key_holders`` collect finds the conflict keys that
            match (DO UPDATE: with the matched rows' pre-images and
            positions) and, for every other key set, which of the
            batch's keys existing rows hold.
          - DO NOTHING, or no match: the unmatched rows are a literal
            append, decided from those holders with no further job.
          - Otherwise the driver first decides the inserted rows'
            keys and every CHECK naming no SET target (over the
            inserted rows) or whose columns are all SET from
            ``excluded.<same column>`` (over every batch row). A
            violation found here goes back to the MERGE lowering,
            which reports it as before: a NOT NULL on a SET target
            outranks it there, and only the post-images can show that.
          - A small change then commits deletion vectors for the
            matched rows plus one arrow segment of their post-images
            and the inserted rows (``_dv_upsert``: no further job).
            A broad one (``_dv_hits``), or a column type the driver
            cannot round-trip, goes to the MERGE lowering: the VALUES
            text already has its sequences substituted, so the
            lowering draws no further ``nextval``."""
        schema = self._schema(target)
        by_lower = {f_.name.lower(): f_.name for f_ in schema.fields}
        if any(c.lower() not in by_lower for c in collist):
            return None
        cols = [by_lower[c.lower()] for c in collist]
        meta = self._meta(target)
        keysets = self._keysets(meta)
        want = sorted(k.lower() for k in keys)
        arbiter = next(
            (
                i for i, (ks, _) in enumerate(keysets)
                if sorted(k.lower() for k in ks) == want
            ),
            None,
        )
        if arbiter is None:
            return None
        widths = {
            c["name"].lower() for c in meta["columns"]
            if _VARCHAR_RE.match(c["type"].strip())
        }
        if any(
            k in widths or isinstance(
                schema[by_lower[k]].dataType, (T.DoubleType, T.FloatType)
            )
            for k in want
        ):
            return None
        update_set: dict[str, str] = {}
        if do_update:
            if find_top_level_keyword(set_sql, ("where",)):
                return None
            try:
                update_set = self._parse_update_set(
                    target, list(by_lower.values()), set_sql
                )
            except (EngineError, ValueError):
                return None
            key_cols = {c.lower() for ks, _ in keysets for c in ks}
            listed = {c.lower() for c in cols}
            if any(c.lower() in key_cols for c in update_set) or any(
                x.lower() not in listed
                for x in re.findall(
                    r"\bexcluded\.(\w+)", blank_literals(set_sql), re.I
                )
            ):
                return None
        table = self._literal_table(target, schema, cols, vtext)
        if table is None:
            return None
        conflict = self._key_tuples(table, keysets[arbiter][0])
        if do_update:
            if self._has_dup(conflict):
                raise EngineError(self._UPSERT_DUP_MSG)
        else:
            seen: set[tuple] = set()
            first = []
            for r, t in enumerate(conflict):
                if t is None or t not in seen:
                    first.append(r)
                    seen.add(t)
            table = self._take(table, first)
            conflict = [conflict[r] for r in first]
        entries = self._segments_of(meta)
        key_rows = [self._key_tuples(table, ks) for ks, _ in keysets]
        holders, held = self._key_holders(
            target, entries, keysets, key_rows,
            rows_of=arbiter if do_update else None,
        )
        matched = holders[arbiter]
        inserted = [r for r, t in enumerate(conflict) if t not in matched]
        if not do_update or not matched:
            rows = self._take(table, inserted)
            self._decide_literal_constraints(
                target, rows,
                lambda asked, ins_keys: next(
                    (
                        i for i, ts in enumerate(ins_keys)
                        if any(t in holders[i] for t in ts)
                    ),
                    None,
                ),
            )
            n = self._stage_arrow(target, rows, base=entries)
            self._commit_staged(target)
            self._maybe_auto_refresh(target)  # as the MERGE lowering
            return Result(effect_rows=n)
        for i, ts in enumerate(key_rows):
            ins_keys = [ts[r] for r in inserted]
            if self._has_dup(ins_keys) or any(
                t in holders[i] for t in ins_keys
            ):
                return None
        set_low = {c.lower() for c in update_set}
        same = {
            c.lower() for c, e in update_set.items()
            if re.fullmatch(rf"excluded\.{re.escape(c)}", e, re.I)
        }
        names = list(by_lower)
        conds = []
        for chk in meta.get("checks") or []:
            refs = self._check_refs(chk, names)
            if not refs & set_low:
                if inserted:
                    conds.append(f"(__ins AND NOT coalesce(({chk}), true))")
            elif refs <= same:
                conds.append(f"NOT coalesce(({chk}), true)")
        if conds:
            import pyarrow as pa

            new = set(inserted)
            flagged = table.append_column(
                "__ins", pa.array([r in new for r in range(len(conflict))])
            )
            fschema = T.StructType(
                schema.fields + [T.StructField("__ins", T.BooleanType())]
            )
            if self._values_relation(fschema, flagged).filter(
                " OR ".join(conds)
            ).limit(1).collect():
                return None
        pre = [h for hs in held.values() for h in hs]
        hits = (
            self._dv_hits(target, [(f, p) for f, p, _ in pre])
            if self._driver_rows_ok(schema) else None
        )
        if hits is None:
            return None
        return self._dv_upsert(
            target, schema, table, cols, conflict, pre, inserted,
            hits, set_sql, keysets[arbiter][0],
        )

    def _dv_upsert(
        self, target: str, schema: T.StructType, table, cols: list[str],
        conflict: list, pre: list, inserted: list[int],
        hits: dict[str, list[int]], set_sql: str, arbiter: list[str],
    ) -> Result:
        """The DO UPDATE commit of ``_try_literal_upsert`` through
        deletion vectors: the matched rows' pre-images ``pre`` (from
        its ``_key_holders`` collect) pair on the driver with their
        literal rows into one LocalRelation (target columns plus each
        literal column as ``__x_<col>``), SET evaluates over it with
        ``excluded.<col>`` read as ``__x_<col>`` (no job), and the
        post-images plus the ``inserted`` literal rows are one arrow
        segment committed with the hit files' DVs. The caller has
        decided the inserted rows' keys and the CHECKs it can decide
        from the literal rows; NOT NULL and the remaining CHECKs (the
        MERGE lowering's staged probe would decide them) are decided
        over the post-images on the driver, with the staged probe's
        messages."""
        import pyarrow as pa

        by_key = {t: r for r, t in enumerate(conflict)}
        lit = table.select(cols)
        # the key set keeps the case the DDL spelled it in; the rows
        # carry the schema's names
        at = {n.lower(): i for i, n in enumerate(schema.names)}
        pairs = []
        for _, _, row in pre:
            key = tuple(row[at[k.lower()]] for k in arbiter)
            pairs.append(
                list(row) + [c[by_key[key]].as_py() for c in lit.columns]
            )
        xschema = T.StructType(
            schema.fields
            + [T.StructField(f"__x_{c}", schema[c].dataType) for c in cols]
        )
        rel = self._values_relation(
            xschema, self._arrow_rows(xschema, pairs), alias=target
        )
        update_set = self._parse_update_set(
            target, schema.names,
            sub_outside_literals(_EXCLUDED_RE, "__x_", set_sql),
        )
        post = self._enforce_constraints(
            target,
            rel.selectExpr(
                *[
                    f"CAST(({update_set.get(f_.name, _quote_ident(f_.name))})"
                    f" AS {_sql_type(f_.dataType)}) AS {_quote_ident(f_.name)}"
                    for f_ in schema.fields
                ]
            ),
        )
        rows = pa.concat_tables(
            [self._arrow_rows(schema, post.collect()),
             self._take(table, inserted)]
        )
        self._decide_literal_constraints(target, rows, lambda *_: None)
        self._stage_dvs(target, hits, [(f, row) for f, _, row in pre], rows)
        self._commit_staged(target)
        self._maybe_auto_refresh(target)
        return Result(effect_rows=len(pre) + len(inserted))

    def _insert_on_conflict(self, m: re.Match) -> Result:
        """INSERT ... ON CONFLICT (Postgres/DuckDB upsert syntax),
        lowered onto the engine's MERGE path. Parity details honored:
        `excluded.col` refers to the proposed row; DO UPDATE raises if
        one command would update the same target row twice (including
        duplicate keys WITHIN the source — Postgres' "cannot affect
        row a second time"); DO NOTHING keeps the FIRST source row per
        key and skips the rest, exactly Postgres' arrival-order
        semantics over a VALUES list. A literal VALUES source is tried
        on the driver first (``_try_literal_upsert``)."""
        target = m.group("t")
        self._writable_meta(target)
        keys = [k.strip() for k in m.group("keys").split(",")]
        collist = (
            [c.strip() for c in m.group("cols").split(",")]
            if m.group("cols")
            else [f.name for f in self._schema(target).fields]
        )
        bad = [k for k in keys if k.lower() not in
               {c.lower() for c in collist}]
        if bad:
            raise EngineError(
                f"ON CONFLICT key(s) {bad} not in the insert column list"
            )
        src_sql = m.group("src").strip()
        do_update = m.group("act").lower() != "nothing"
        if src_sql.lower().startswith("values"):
            # DEFAULT keyword + sequence calls substitute like plain
            # INSERT VALUES (per tuple, in row order)
            src_sql = self._sub_default_keyword(
                target, collist, src_sql
            )
            src_sql = self._sub_values_sequences(src_sql)
            done = self._try_literal_upsert(
                target, collist, keys,
                re.sub(r"^values\s*", "", src_sql, count=1, flags=re.I),
                do_update, (m.group("set") or "").strip(),
            )
            if done is not None:
                return done
            src_sql = (
                f"select * from ({src_sql}) as _v({', '.join(collist)})"
            )
        src_df = self.spark.sql(src_sql).toDF(*collist)
        # Statement-scoped persist (released by execute()'s cache
        # scope): the staged batch feeds the dup probe plus THREE
        # references inside the MERGE lowering (match split, update
        # left-join, insert anti-join) —
        # unpinned, each re-ran the full source SELECT (guide §1.2:
        # don't recompute what you already have; the batch is
        # change-sized by design, so the pin is bounded at any scale).
        from andb_spark.caching import persist_tracked as _pt

        src_df = _pt(src_df)
        # A row whose conflict key carries ANY NULL component can
        # never conflict (Postgres/DuckDB-probed: two (NULL, x) rows
        # both insert) — exempt such rows from the in-batch duplicate
        # machinery on both action paths
        keyed_nn = F.lit(True)
        for k in keys:
            keyed_nn = keyed_nn & F.col(k).isNotNull()
        if do_update:
            dup = (
                src_df.filter(keyed_nn)
                .groupBy(*keys).count().filter(F.col("count") > 1)
            )
            if dup.limit(1).count():
                raise EngineError(self._UPSERT_DUP_MSG)
        else:
            # keep the first arriving row per key (VALUES order /
            # source order), drop the rest — they would conflict with
            # the first row's insert; NULL-keyed rows all pass
            from pyspark.sql import Window as _W

            src_df = (
                src_df.withColumn("_ord", F.monotonically_increasing_id())
                .withColumn(
                    "_rn",
                    F.when(
                        keyed_nn,
                        F.row_number().over(
                            _W.partitionBy(*keys).orderBy("_ord")
                        ),
                    ).otherwise(F.lit(1)),
                )
                .filter(F.col("_rn") == 1)
                .drop("_ord", "_rn")
            )
        view = self._scoped_view(src_df, "_upsert_")
        cond = " and ".join(
            f"{target}.{k} = {view}.{k}" for k in keys
        )
        ins_vals = ", ".join(f"{view}.{c}" for c in collist)
        clauses = (
            f" when not matched then insert"
            f" ({', '.join(collist)}) values ({ins_vals})"
        )
        if do_update:
            set_sql = m.group("set").strip()
            # the greedy (?P<set>.*) swallows a Postgres-legal
            # trailing "DO UPDATE SET ... WHERE pred" into the SET
            # expression, which would fail deep inside MERGE with
            # a confusing parse error — refuse it by name instead
            if find_top_level_keyword(set_sql, ("where",)):
                raise EngineError(
                    "ON CONFLICT DO UPDATE ... WHERE is not"
                    " supported; filter the source SELECT instead"
                )
            set_sql = sub_outside_literals(
                _EXCLUDED_RE, f"{view}.", set_sql
            )
            clauses = (
                f" when matched then update set {set_sql}" + clauses
            )
        return self._merge(
            f"merge into {target} using {view} on {cond}{clauses}",
            source_unique_per_key=True,
        )

    def _insert_or_action(self, m: re.Match) -> Result:
        """INSERT OR REPLACE / OR IGNORE INTO (DuckDB's implicit-key
        upsert spellings), lowered onto the ON CONFLICT machinery with
        the table's PRIMARY KEY as the conflict target. DuckDB-probed
        parity: no PRIMARY KEY → binder-style refusal ("ON CONFLICT
        is a no-op without one"); duplicate keys WITHIN the source
        batch error for BOTH spellings (unlike Postgres DO NOTHING's
        keep-first — OR IGNORE pre-checks here); OR REPLACE with a
        PARTIAL column list updates only the listed non-key columns
        (unlisted columns keep their old values — probed)."""
        action, target = m.group(1).lower(), m.group(2)
        src_text = m.group(6)
        meta = self._meta(target)
        pk = [c["name"] for c in meta.get("columns", []) if c.get("pk")]
        uniques = [list(u) for u in (meta.get("uniques") or [])]
        keysets = ([pk] if pk else []) + uniques
        if not keysets:
            raise EngineError(
                f"INSERT OR {action.upper()}: there are no"
                f" UNIQUE/PRIMARY KEY constraints on {target} —"
                " ON CONFLICT is a no-op without one"
            )
        if m.group(5):
            raise EngineError(
                f"INSERT OR {action.upper()} ... BY NAME is not"
                " supported; use an explicit column list"
            )
        if action == "replace" and len(keysets) > 1:
            # DuckDB's binder error, verbatim semantics: DO UPDATE
            # needs ONE unambiguous key; DO NOTHING (OR IGNORE below)
            # skips on ANY constraint and stays legal
            raise EngineError(
                "INSERT OR REPLACE: conflict target has to be"
                " provided when the table has multiple"
                " UNIQUE/PRIMARY KEY constraints — use INSERT ..."
                " ON CONFLICT (cols) DO UPDATE"
            )
        collist = (
            [c.strip() for c in m.group(4).split(",")]
            if m.group(4)
            else [f.name for f in self._schema(target).fields]
        )
        cl_lower = {c.lower() for c in collist}
        for ks in keysets:
            missing = [k for k in ks if k.lower() not in cl_lower]
            if missing:
                raise EngineError(
                    f"INSERT OR {action.upper()}: key column(s)"
                    f" {missing} missing from the insert column list"
                )
        if action == "ignore" and len(keysets) > 1:
            return self._insert_ignore_multi(
                target, collist, keysets, bool(pk), src_text
            )
        key = keysets[0]
        # UNIQUE (unlike PRIMARY KEY) admits NULL key components, and
        # a NULL-keyed row never conflicts — the MERGE join below
        # already gives inserts that semantic; the in-batch duplicate
        # pre-checks exempt those rows the same way
        null_exempt = not pk
        nonkey = [
            c for c in collist
            if c.lower() not in {k.lower() for k in key}
        ]
        if action == "replace" and nonkey:
            tail = "do update set " + ", ".join(
                f"{c} = excluded.{c}" for c in nonkey
            )
        else:
            # OR IGNORE, or an all-key column list (nothing to
            # update). The DO NOTHING path keeps the FIRST source row
            # per key (Postgres order), but DuckDB errors on
            # in-batch duplicates for these spellings — pre-check.
            # Sequence calls substitute once, and the pre-check and the
            # insert read the same text (DuckDB: a batch refused for a
            # duplicate key still consumes its nextval values).
            src_sql = src_text.strip()
            if src_sql.lower().startswith("values"):
                src_text = self._sub_values_sequences(
                    self._sub_default_keyword(target, collist, src_sql)
                )
                src_sql = (
                    f"select * from ({src_text}) as"
                    f" _v({', '.join(collist)})"
                )
            src_df = self.spark.sql(src_sql).toDF(*collist)
            keyed = src_df
            if null_exempt:
                for k in key:
                    keyed = keyed.filter(F.col(k).isNotNull())
            if keyed.groupBy(*key).count().filter(
                F.col("count") > 1
            ).limit(1).collect():
                raise EngineError(
                    "PRIMARY KEY or UNIQUE constraint violated:"
                    " duplicate key in the INSERT OR"
                    f" {action.upper()} source rows"
                )
            tail = "do nothing"
        cols_sql = f" ({', '.join(collist)})" if m.group(4) else ""
        return self._insert(
            f"insert into {target}{cols_sql} {src_text}"
            f" on conflict ({', '.join(key)}) {tail}"
        )

    def _insert_ignore_multi(
        self,
        target: str,
        collist: list[str],
        keysets: list[list[str]],
        has_pk: bool,
        src_text: str,
    ) -> Result:
        """INSERT OR IGNORE when the table carries SEVERAL unique/
        primary keys (DuckDB-probed: legal — a row skips on ANY
        conflict, while OR REPLACE refuses at bind). Plan: in-batch
        non-NULL duplicates on any keyset raise (DuckDB parity);
        rows conflicting with EXISTING rows drop via one broadcast-
        friendly left-anti join per keyset (each NULL-exempt, since a
        NULL-keyed row can never conflict); survivors append through
        the ordinary insert path."""
        src_sql = src_text.strip()
        if src_sql.lower().startswith("values"):
            src_sql = self._sub_default_keyword(
                target, collist, src_sql
            )
            src_sql = self._sub_values_sequences(src_sql)
            src_sql = (
                f"select * from ({src_sql}) as"
                f" _v({', '.join(collist)})"
            )
        src = self.spark.sql(src_sql).toDF(*collist)
        existing = self._view(target)
        for i, ks in enumerate(keysets):
            nn = src
            # PK components are NOT NULL by declaration; uniques
            # exempt NULL-keyed rows
            if not (has_pk and i == 0):
                for k in ks:
                    nn = nn.filter(F.col(k).isNotNull())
            if nn.groupBy(*ks).count().filter(
                F.col("count") > 1
            ).limit(1).collect():
                raise EngineError(
                    "PRIMARY KEY or UNIQUE constraint violated:"
                    " duplicate key in the INSERT OR IGNORE"
                    " source rows"
                )
            # anti join drops only NON-NULL-keyed conflicts: the join
            # condition is null-rejecting, so NULL-keyed rows survive
            src = src.join(
                existing.select(*ks).dropDuplicates(ks), ks, "left_anti"
            )
        # a name-keyed join moves its key columns to the front — the
        # positional insert below needs the declared list order back
        src = src.select(*collist)
        schema = self._schema(target)
        return self._insert_from_df(
            target, schema, [f.name for f in schema.fields],
            collist, False, src,
        )

    def _insert(self, stmt: str) -> Result:
        # RETURNING (DuckDB/Postgres): run the plain INSERT, then
        # project the rows of the freshly committed segment(s) — the
        # manifest diff identifies them exactly, no re-execution of
        # the source. Upsert spellings refuse by name (their
        # MERGE lowering has no single inserted-segment identity).
        stmt, _returning = self._split_returning(stmt)
        if _returning is not None:
            if re.match(r"insert\s+or\s+", stmt, re.I) or (
                find_top_level_keyword(
                    blank_literals(stmt), ("on conflict",)
                )
            ):
                raise EngineError(
                    "RETURNING is not supported on ON CONFLICT /"
                    " OR REPLACE / OR IGNORE inserts"
                )
            tm = re.match(r"insert\s+into\s+(\w+)", stmt, re.I)
            if not tm:
                raise EngineError(f"cannot parse INSERT: {stmt!r}")
            tname = tm.group(1)
            before = set(self._segments_of(self._meta(tname)))
            # hold auto-compaction until the projection collected —
            # a fold would merge old rows into the "new" segment and
            # poison the manifest diff
            saved_ac = self.session_vars.get("andb.auto_compact")
            self.session_vars["andb.auto_compact"] = "0"
            try:
                r = self._insert(stmt)
                new = [
                    os.path.join(self.warehouse, tname, e)
                    for e in self._segments_of(self._meta(tname))
                    if e not in before
                ]
                if not new:  # zero-row insert
                    frame = self._read_table(tname).filter(F.lit(False))
                else:
                    frame = self._read_files(tname, new)
                out = self._returning_result(
                    frame, _returning, r.effect_rows
                )
            finally:
                if saved_ac is None:
                    self.session_vars.pop("andb.auto_compact", None)
                else:
                    self.session_vars["andb.auto_compact"] = saved_ac
            self._maybe_auto_compact(tname)
            return out
        # INSERT OR REPLACE / OR IGNORE (DuckDB spellings) lower onto
        # the ON CONFLICT machinery with the PRIMARY KEY as the target
        orr = re.match(
            r"insert\s+or\s+(replace|ignore)\s+into\s+(\w+)\s*"
            r"(\(([^)]*)\))?\s*(by\s+name\s+)?"
            r"(values\s*.*|select\s+.*)$",
            stmt, re.I | re.S,
        )
        if orr:
            return self._insert_or_action(orr)
        # BY POSITION is the explicit spelling of the positional
        # default (DuckDB accepts both) — normalize it away BEFORE the
        # ON CONFLICT match, whose source group only admits
        # values|select (r9 review #5)
        stmt = re.sub(
            r"^(insert\s+into\s+\w+\s*(?:\([^)]*\))?\s*)by\s+position\s+",
            r"\1", stmt, flags=re.I,
        )
        oc = self._ON_CONFLICT_RE.match(stmt)
        if oc:
            return self._insert_on_conflict(oc)
        # INSERT INTO t DEFAULT VALUES (DuckDB/Postgres): one row of
        # nothing-but-defaults — rewrite onto the ordinary VALUES path
        # with every column's DEFAULT keyword, substituted below
        dv = re.match(
            r"insert\s+into\s+(\w+)\s+default\s+values\s*$", stmt, re.I
        )
        if dv:
            ncols = len(self._schema(dv.group(1)).fields)
            stmt = (
                f"insert into {dv.group(1)} values"
                f" ({', '.join(['default'] * ncols)})"
            )
        m = re.match(
            r"insert\s+into\s+(\w+)\s*(\(([^)]*)\))?\s*"
            r"(by\s+name\s+)?(values\s*(.*)|select\s+.*)$",
            stmt,
            re.I | re.S,
        )
        if not m:
            raise EngineError(f"cannot parse INSERT: {stmt!r}")
        name = m.group(1)
        by_name = bool(m.group(4))
        self._writable_meta(name)  # matviews reject INSERT like DELETE
        collist = (
            [c.strip() for c in m.group(3).split(",")] if m.group(3) else None
        )
        tail = m.group(5)
        schema = self._schema(name)
        target_cols = [f.name for f in schema.fields]
        if collist:
            # case-insensitive, like Spark's own identifier resolution;
            # normalize to the declared casing so downstream toDF/select
            # line up exactly
            by_lower = {c.lower(): c for c in target_cols}
            bad = [c for c in collist if c.lower() not in by_lower]
            if bad:  # a typo would otherwise insert an all-NULL row
                raise EngineError(
                    f"INSERT column(s) {bad} not in {name} ({target_cols})"
                )
            collist = [by_lower[c.lower()] for c in collist]
        if re.match(r"values", tail, re.I):
            # Fast path: a VALUES list of plain literals needs no Spark
            # job at all — parse driver-side, type-check against the
            # declared schema, and append one pyarrow-written segment
            # (the same _stage_empty economics; a small INSERT was
            # paying a full job submit + task round trip). Any
            # expression, type coercion, or constraint the fast path
            # cannot prove EXACTLY equivalent falls through to Spark.
            if by_name:
                raise EngineError(
                    "INSERT BY NAME requires a SELECT source (a bare"
                    " VALUES list has no column names to match)"
                )
            # bare DEFAULT items substitute to the declared default
            # expression before any planning (DuckDB VALUES grammar);
            # then sequence calls allocate per tuple, in row order
            tail = self._sub_default_keyword(
                name, collist or target_cols, tail
            )
            tail = self._sub_values_sequences(tail)
            n = self._try_literal_append(
                name, schema, collist or target_cols,
                re.sub(r"^values\s*", "", tail, count=1, flags=re.I),
            )
            if n is not None:
                return Result(effect_rows=n)
            values_sql = "SELECT * FROM " + tail  # VALUES (...) , (...)
            src = self.spark.sql(values_sql)
        else:
            # INSERT ... SELECT composes with the engine-only SQL
            # surfaces (r9)
            src = self._plan_engine_select(tail)
        return self._insert_from_df(
            name, schema, target_cols, collist, by_name, src
        )

    def _insert_from_df(
        self,
        name: str,
        schema,
        target_cols: list[str],
        collist: list[str] | None,
        by_name: bool,
        src: DataFrame,
    ) -> Result:
        if by_name:
            # BY NAME (DuckDB/Spark 3.5 spelling): source columns map
            # to target columns by NAME, any order; missing targets
            # fill NULL below; unknown or duplicate source names are
            # errors (silently dropping data is worse than refusing)
            if collist:
                raise EngineError(
                    "INSERT BY NAME cannot also take a column list —"
                    " the source's own names are the mapping"
                )
            by_lower = {c.lower(): c for c in target_cols}
            unknown = [
                c for c in src.columns if c.lower() not in by_lower
            ]
            if unknown:
                raise EngineError(
                    f"INSERT BY NAME: source column(s) {unknown} not"
                    f" in {name} ({target_cols})"
                )
            lowers = [c.lower() for c in src.columns]
            if len(set(lowers)) != len(lowers):
                raise EngineError(
                    "INSERT BY NAME: duplicate source column names"
                )
            cols = [by_lower[c.lower()] for c in src.columns]
            src = src.toDF(*cols)
        else:
            cols = collist or target_cols
            if len(src.columns) != len(cols):
                raise EngineError(
                    f"INSERT column count mismatch:"
                    f" {len(src.columns)} vs {len(cols)}"
                )
            src = src.toDF(*cols)
        # missing columns → their declared DEFAULT (NULL without one),
        # then order + cast to the table schema; a bare
        # nextval('seq') default fills via the distributed dense
        # index (the surrogate-key path — INSERT..SELECT with the key
        # column omitted works at any scale)
        defaults = self._column_defaults(name)
        seq_defaults = self._sequence_defaults(name)
        for f in schema.fields:
            if f.name not in cols:
                if f.name.lower() in seq_defaults:
                    src, _ = self._seq_default_fill(
                        src, f.name, f.dataType,
                        seq_defaults[f.name.lower()],
                    )
                else:
                    src = src.withColumn(
                        f.name, defaults.get(f.name.lower(),
                                             F.lit(None)).cast(f.dataType)
                    )
        src = src.selectExpr(*_cast_to(schema))
        src = self._enforce_constraints(name, src)
        # O(batch): only the inserted rows hit disk; every existing file
        # is re-referenced by the new manifest, never rewritten. The row
        # count comes free from the written parquet footers — no extra
        # execution of the source query.
        n = self._append(name, src)
        return Result(effect_rows=n)

    def _truncate(self, stmt: str) -> Result:
        """TRUNCATE TABLE <t>: drop all rows WITHOUT reading or
        rewriting any of them — commit one empty segment as the new
        version (DELETE without WHERE reads + rewrites the table;
        TRUNCATE's cost is one empty write at any table size). The
        previous version joins history like any other commit, so
        TRUNCATE is time-travel-reversible (`CLONE ... VERSION AS OF`
        restores it as a table)."""
        m = re.match(r"truncate\s+(?:table\s+)?(\w+)\s*$", stmt, re.I)
        if not m:
            raise EngineError(f"cannot parse TRUNCATE: {stmt!r}")
        name = m.group(1)
        self._writable_meta(name)
        self._stage_empty(name)  # driver-side: no Spark job, any size
        self._commit_staged(name)
        self._maybe_auto_refresh(name)
        return Result(effect_rows=0)

    def _restore(self, stmt: str) -> Result:
        """RESTORE TABLE <t> VERSION AS OF <n>: in-place rollback to a
        retained version — a pure manifest pointer move (Delta RESTORE
        economics). Zero data I/O: the historical segments are still on
        disk (immutable, shared), so restoring 100 TB costs one catalog
        save. The pre-restore version joins history like any commit, so
        a RESTORE is itself reversible. Disallowed inside an explicit
        transaction: the txn's created-dir rollback tracking assumes
        new version dirs are NEW, and a restore re-points at existing
        ones."""
        m = re.match(
            r"restore\s+(?:table\s+)?(\w+)\s+version\s+as\s+of\s+(\d+)\s*$",
            stmt,
            re.I,
        )
        if not m:
            raise EngineError(f"cannot parse RESTORE: {stmt!r}")
        if self._txn is not None:
            raise EngineError("RESTORE is not allowed inside a transaction")
        name, vnum = m.group(1), int(m.group(2))
        self._writable_meta(name)
        meta = self._meta(name)
        if meta.get("vnum", 1) == vnum:
            return Result(effect_rows=0)  # already there
        target = next(
            (
                e
                for e in meta.get("history", [])
                if e["vnum"] == vnum
            ),
            None,
        )
        if target is None:
            retained = [e["vnum"] for e in meta.get("history", [])] + [
                meta.get("vnum", 1)
            ]
            raise EngineError(
                f"version {vnum} of {name} is not retained"
                f" (available: {retained})"
            )
        # current manifest -> history; target manifest -> current. The
        # target STAYS in history too (it keeps its own vnum; the
        # restore gets a new one) — segments and DVs are refcounted
        # (_push_history, the contract of _advance_pointer), so nothing
        # is pruned while either references it.
        entry = {
            "vnum": meta.get("vnum", 1),
            "version": meta.get("version"),
            "segments": self._segments_of(meta),
        }
        self._set_dvs(entry, self._dvs_of(meta))
        meta["version"] = target["version"]
        meta["segments"] = list(target["segments"])
        self._set_dvs(meta, dict(self._dvs_of(target)))
        meta["vnum"] = meta.get("vnum", 1) + 1
        prune = self._push_history(name, meta, entry)
        self._save_catalog()
        self._drop_paths(prune)  # strictly after the commit point
        self._view(name)
        self._maybe_auto_refresh(name)  # rollback mutated the base too
        return Result(effect_rows=0)

    def _insert_overwrite(self, stmt: str) -> Result:
        """INSERT OVERWRITE <t> SELECT ...: atomically replace the
        table's contents with the query result (the Spark/Hive
        statement batch pipelines rebuild partitions with). Constraints
        and the declared schema apply exactly as INSERT's do; readers
        see the old or new version, never a mix."""
        stmt, _ret = self._split_returning(stmt)
        if _ret is not None:
            # would otherwise reach the SELECT body and die as a raw
            # parse error
            raise EngineError(
                "RETURNING is not supported on INSERT OVERWRITE"
            )
        m = re.match(
            r"insert\s+overwrite\s+(?:table\s+)?(\w+)\s+(select\s+.*|values\s*.*)$",
            stmt,
            re.I | re.S,
        )
        if not m:
            raise EngineError(f"cannot parse INSERT OVERWRITE: {stmt!r}")
        name, tail = m.groups()
        self._writable_meta(name)
        schema = self._schema(name)
        if re.match(r"values", tail, re.I):
            src = self.spark.sql("SELECT * FROM " + tail)
        else:
            src = self.spark.sql(tail)
        if len(src.columns) != len(schema.fields):
            raise EngineError(
                f"INSERT OVERWRITE column count mismatch: "
                f"{len(src.columns)} vs {len(schema.fields)}"
            )
        src = src.toDF(*[f.name for f in schema.fields]).selectExpr(
            *_cast_to(schema)
        )
        src = self._enforce_constraints(name, src)
        n = self._overwrite(name, src)
        return Result(effect_rows=n)

    # clauses anchor on `when [not] matched`, NOT bare `when`: the ON
    # condition may legally contain CASE WHEN arms (e.g. the quantified
    # rewrite's 3VL CASE), whose inner `when x` must not end the cond
    _MERGE_RE = re.compile(
        r"^merge\s+into\s+(?P<target>\w+)\s+using\s+(?P<source>\w+)\s+"
        r"on\s+(?P<cond>.*?)\s+(?P<clauses>when\s+(?:not\s+)?matched\b.*)$",
        re.I | re.S,
    )

    def _bind_inline_source(self, stmt: str, open_at: int) -> tuple[str, str]:
        """Bind a parenthesized subquery SOURCE — ``USING (SELECT ...)
        alias`` / ``FROM (SELECT ...) alias`` in MERGE and join-DML —
        to a session temp view NAMED AS THE ALIAS, so the statement's
        alias-qualified references (``s.k``) resolve unchanged when the
        downstream MERGE machinery looks the source up via
        ``spark.table``. The subquery plans through the FULL engine
        pipeline (lazy — nothing materializes here), so engine-only
        SQL composes inside the source. Because the view lives at
        session scope for the statement's span (it drops with the
        statement's other helper views), an alias that would shadow an
        existing table/view is refused (the target itself, most
        dangerously). Returns (rest-after-alias, alias). ``open_at``
        is the index of the ``(``."""
        cp = match_bracket(stmt, open_at)
        inner = stmt[open_at + 1: cp]
        if not re.match(r"\s*select\b", inner, re.I):
            raise EngineError(
                "a parenthesized DML source must be a SELECT subquery"
            )
        am = re.match(r"\s*(?:as\s+)?(\w+)\b", stmt[cp + 1:], re.I)
        if not am or am.group(1).lower() in ("on", "where"):
            raise EngineError(
                "a subquery DML source needs an alias"
                " (using (select ...) s ...)"
            )
        alias = am.group(1)
        # tableExists is a pure catalog lookup; listTables here ran
        # one tiny Spark job PER registered view (~35 jobs/statement
        # in the r15 job trace — driver latency, no data)
        if self.spark.catalog.tableExists(alias):
            raise EngineError(
                f"subquery source alias {alias!r} collides with an"
                " existing table/view — pick another alias"
            )
        self._plan_engine_select(inner).createOrReplaceTempView(alias)
        self._stmt_views.append(alias)
        return stmt[cp + 1 + am.end():], alias

    _MERGE_CLAUSE_RE = re.compile(
        r"when\s+(?P<not>not\s+)?matched\s+then\s+"
        r"(?P<action>update\s+set\s+.*?|delete"
        r"|insert\s*(?:\([^)]*\))?\s*values\s*\(.*?\))"
        r"\s*(?=when\s+(?:not\s+)?matched|$)",
        re.I | re.S,
    )

    def _merge(
        self,
        stmt: str,
        delete_translation: bool = False,
        source_unique_per_key: bool = False,
    ) -> Result:
        """Thin wrapper: bind a parenthesized ``USING (SELECT ...)
        alias`` source to a per-statement view first (engine pipeline,
        lazy), rewrite any quantified comparison in the ON condition /
        clauses (same move as DML WHERE — the translated UPDATE...FROM
        and DELETE...USING conditions land here, r9 review #4), then
        run the table-sourced MERGE below."""
        um = re.match(r"^(merge\s+into\s+\w+\s+using)\s*\(", stmt, re.I)
        if um:
            rest, alias = self._bind_inline_source(stmt, um.end() - 1)
            stmt = f"{um.group(1)} {alias} {rest.lstrip()}"
        # engine-only subqueries in ON / WHEN conditions lift to
        # views first (r10 — same move as plain DML WHERE)
        stmt = self._rewrite_quantified(self._lift_engine_subqueries(stmt))
        return self._merge_resolved(
            stmt, delete_translation, source_unique_per_key
        )

    @staticmethod
    def _parse_update_set(
        target: str, tcols: list[str], text: str
    ) -> dict[str, str]:
        """``a = expr, t.b = expr`` → {declared column: expression
        text}; a target qualifier is dropped, an unknown column
        refuses by name."""
        by_lower = {c.lower(): c for c in tcols}
        out: dict[str, str] = {}
        for part in split_items(text):
            k, v = part.split("=", 1)
            k = k.strip().split(".")[-1]
            if k.lower() not in by_lower:
                raise EngineError(f"MERGE SET column {k} not in {target}")
            out[by_lower[k.lower()]] = v.strip()
        return out

    @staticmethod
    def _merge_update_branch(
        joined: DataFrame,
        target: str,
        schema: T.StructType,
        update_set: dict[str, str],
    ) -> DataFrame:
        """The rewritten files' rows after a matched UPDATE: ``joined``
        is those rows (aliased ``target``) left-joined to the source
        rows marked ``__m``; a marked row takes each SET expression,
        every other value stays, all cast to the declared types — one
        ``selectExpr`` for every column."""
        tq = _quote_ident(target)
        exprs = []
        for f_ in schema.fields:
            old = f"{tq}.{_quote_ident(f_.name)}"
            new = update_set.get(f_.name)
            val = old if new is None else (
                f"CASE WHEN __m IS NOT NULL THEN ({new}) ELSE {old} END"
            )
            exprs.append(
                f"CAST({val} AS {_sql_type(f_.dataType)})"
                f" AS {_quote_ident(f_.name)}"
            )
        return joined.selectExpr(*exprs)

    def _merge_resolved(
        self,
        stmt: str,
        delete_translation: bool = False,
        source_unique_per_key: bool = False,
    ) -> Result:
        """MERGE INTO target USING source ON cond
        [WHEN MATCHED THEN UPDATE SET c = expr, ... | DELETE]
        [WHEN NOT MATCHED THEN INSERT [(cols)] VALUES (exprs)]

        Upsert — absent in the reference (whose DML stops at
        INSERT/UPDATE/DELETE, SURVEY §2.10) but table stakes for a
        lakehouse engine. Executed as the classic two-branch dataflow
        (the same shape Delta's MERGE lowers to) over a COPY-ON-WRITE
        manifest commit: one semi join finds the target files
        containing matches (only those rewrite through the left-join
        update/delete branch), one anti join produces the inserts, and
        every untouched file is re-referenced verbatim — an insert-only
        MERGE is a pure append. One shuffle per branch on the join
        keys; at scale the join inherits AQE skew splitting like any
        other.
        ANSI MERGE's multiple-match error is detected exactly: a
        per-target-row match count over the affected files (the same
        join the rewrite performs), fired before any staging, so a
        failed MERGE mutates nothing. Duplicate source keys that match
        no target row are legal (they are ordinary not-matched
        inserts) — a source-side duplicate probe would over-reject
        them, so none is used.

        ``delete_translation=True`` marks a MERGE synthesized from
        ``DELETE ... USING`` (r8 verdict #2): a pure delete's outcome
        is identical whether a target row matches one source row or
        five, so ANSI's cardinality concern does not apply and the
        multiple-match guard is skipped — matching Postgres and
        DuckDB, which both accept duplicate-match join deletes. A
        user-written delete-only MERGE keeps the strict ANSI guard.

        The write stages with ``changed=None``: a MERGE can insert new
        rows and rewrite any column, so every PK/UNIQUE/CHECK is
        probed. Only the staged rows are probed — sound because the
        committed version already satisfies the table's constraints
        (they are declared only at CREATE TABLE; a future ALTER ...
        ADD CONSTRAINT must validate existing rows first). The
        inserted-row count of ``effect_rows`` comes from the footers:
        staged rows − affected-file rows (+ matched deletes), one
        evaluation of the source for both the write and the count.
        It is exact whenever no target row matches two source rows —
        what the ANSI guard (or the ON CONFLICT lowering's own
        duplicate-key probe) establishes before staging."""
        m = self._MERGE_RE.match(stmt)
        if not m:
            raise EngineError(f"cannot parse MERGE statement: {stmt}")
        target, source = m.group("target"), m.group("source")
        self._writable_meta(target)  # matviews reject MERGE like DELETE
        cond = m.group("cond").strip()
        schema = self._schema(target)
        tcols = [f.name for f in schema.fields]
        update_set: dict[str, str] | None = None
        matched_delete = False
        insert_cols: list[str] | None = None
        insert_vals: list[str] | None = None
        for cm in self._MERGE_CLAUSE_RE.finditer(m.group("clauses")):
            action = cm.group("action").strip()
            if cm.group("not"):
                im = re.match(
                    r"insert\s*(?:\(([^)]*)\))?\s*values\s*\((.*)\)\s*$",
                    action,
                    re.I | re.S,
                )
                insert_cols = (
                    [c.strip() for c in im.group(1).split(",")]
                    if im.group(1)
                    else tcols
                )
                insert_vals = [v.strip() for v in split_items(im.group(2))]
                if len(insert_vals) != len(insert_cols):
                    raise EngineError("MERGE INSERT column/value count mismatch")
            elif re.match(r"delete$", action, re.I):
                matched_delete = True
            else:
                um = re.match(r"update\s+set\s+(.*)$", action, re.I | re.S)
                update_set = self._parse_update_set(
                    target, tcols, um.group(1)
                )
        if update_set and matched_delete:
            # This engine's matched clauses are unconditional, so both
            # together are ambiguous (which rows update vs delete?) —
            # refuse rather than silently letting DELETE win.
            raise EngineError(
                "MERGE cannot combine WHEN MATCHED UPDATE and WHEN "
                "MATCHED DELETE (matched clauses are unconditional)"
            )
        if insert_cols:
            by_lower = {c.lower(): c for c in tcols}
            bad = [c for c in insert_cols if c.lower() not in by_lower]
            if bad:
                raise EngineError(
                    f"MERGE INSERT column(s) {bad} not in {target} ({tcols})"
                )
            insert_cols = [by_lower[c.lower()] for c in insert_cols]

        t = self.spark.table(target).alias(target)
        s = self.spark.table(source).alias(source)
        jcond = F.expr(cond)
        marked = s.withColumn("__m", F.lit(1)).alias(source)
        # Copy-on-write: the matched branch rewrites only the files
        # containing join matches; an insert-only MERGE appends and
        # touches no existing file at all.
        n_matched = 0
        keep = self._segments_of(self._meta(target))
        affected: list[str] = []
        t_affected = None
        if update_set or matched_delete:
            n_matched, keep, affected = self._split_by_matches(
                target,
                self._read_files(
                    target, self._segment_paths(target), positions=True
                ).alias(target).join(s, jcond, "left_semi"),
            )
            if affected:
                t_affected = self._read_files(target, affected).alias(target)
        parts: list[DataFrame] = []
        # DELETE ... USING: delete-on-any-match (Postgres/DuckDB) —
        # multiplicity cannot change the outcome, skip the guard
        dup_check = not (
            delete_translation and matched_delete and update_set is None
        )
        if source_unique_per_key:
            # ON CONFLICT lowering (r16, guide §1.2 — don't recompute a
            # fact already proven): the ON condition is pure key
            # equality generated by _insert_on_conflict, whose in-batch
            # machinery already guarantees at most ONE source row per
            # non-NULL key tuple (DO UPDATE: the duplicate-key probe
            # raised on any violation; DO NOTHING: the keep-first
            # window dropped later rows), and a NULL-keyed source row
            # can never equal any target key. No target row can
            # therefore match two source rows — the ANSI multi-match
            # guard is redundant and its join+agg pass is skipped.
            # User-written MERGE and UPDATE ... FROM keep the guard.
            dup_check = False
        if t_affected is not None and dup_check:
            # Exact ANSI multiple-match guard: count source matches per
            # affected-TARGET row (ANSI forbids a target row matching
            # more than one source row — duplicate source keys that
            # match NO target row are legal not-matched inserts, so a
            # source-side duplicate probe would over-reject). Without
            # this the left-join update branch would DUPLICATE
            # multi-matched target rows, not just pick an arbitrary
            # source value. Scope: only the affected files x source —
            # the same join the rewrite below performs anyway. __tid is
            # assigned and consumed within one materialization, so its
            # per-run nondeterminism across plans is irrelevant.
            multi = (
                t_affected.withColumn(
                    "__tid", F.monotonically_increasing_id()
                )
                .alias(target)
                .join(s, jcond, "inner")
                .groupBy("__tid")
                .agg(F.count(F.lit(1)).alias("__cnt"))
                .filter(F.col("__cnt") > 1)
                .limit(1)
                .count()
            )
            if multi:
                raise EngineError(
                    "MERGE target row matches more than one source row; "
                    "ANSI MERGE forbids multiple matches"
                )
        if t_affected is not None:
            joined = t_affected.join(marked, jcond, "left")
            if matched_delete:
                parts.append(
                    joined.filter(F.col("__m").isNull()).select(
                        *[F.col(f"{target}.{c}").alias(c) for c in tcols]
                    )
                )
            else:
                parts.append(
                    self._merge_update_branch(
                        joined, target, schema, update_set
                    )
                )
        if insert_vals is not None:
            # the anti join runs against the FULL target
            ins = s.join(t, jcond, "left_anti").select(
                *[F.expr(v).alias(c) for c, v in zip(insert_cols, insert_vals)]
            )
            # unlisted columns take their declared DEFAULT (NULL
            # without one) — the same fill as plain INSERT, so an
            # ON CONFLICT upsert lowered onto MERGE keeps default
            # parity for freshly inserted keys
            _dflt = self._column_defaults(target)
            _seqd = self._sequence_defaults(target)
            for f in schema.fields:
                if f.name not in insert_cols:
                    if f.name.lower() in _seqd:
                        ins, _ = self._seq_default_fill(
                            ins, f.name, f.dataType,
                            _seqd[f.name.lower()],
                        )
                    else:
                        ins = ins.withColumn(
                            f.name,
                            _dflt.get(f.name.lower(),
                                      F.lit(None)).cast(f.dataType),
                        )
            parts.append(ins.selectExpr(*_cast_to(schema)))
        if not parts:  # no matches, no inserts: nothing to write
            return Result(effect_rows=0)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out = self._enforce_constraints(target, out)
        # The insert count comes from the footers, not from a second
        # evaluation of the anti join: the staged segment holds each
        # live affected-file row (footer rows less their DVs) once,
        # updated or kept, minus the matched deletes, plus the inserts
        # — so the count always agrees with what was written, even for
        # a nondeterministic source.
        import pyarrow.parquet as pq

        affected_rows = sum(
            pq.read_metadata(f).num_rows for f in affected
        ) - self._dv_deleted(target, affected)
        staged = self._stage_version(target, out, base=keep)
        self._commit_staged(target)
        self._maybe_auto_refresh(target)  # upsert mutated the base
        n_inserted = 0
        if insert_vals is not None:
            n_inserted = staged - affected_rows + (
                n_matched if matched_delete else 0
            )
        return Result(effect_rows=n_matched + n_inserted)

    def _copy(self, stmt: str) -> Result:
        """COPY <table> TO|FROM '<path>' [FORMAT parquet|csv|json|orc|text]
        — external export/import (Postgres COPY shape; the reference has
        no bulk I/O at all). FROM appends through the same
        cast-to-schema + constraint path as INSERT; TO exports the
        current table version."""
        from andb_spark.caching import persist_tracked
        from andb_spark.sources import read_source, write_source

        cm = re.match(r"copy\s*\(", stmt, re.I)
        if cm:
            # COPY (SELECT ...) TO 'path' (DuckDB query export): the
            # query plans through the full engine pipeline, so
            # engine-only SQL exports too
            cp = match_bracket(stmt, cm.end() - 1)
            inner = stmt[cm.end(): cp]
            tm = re.match(
                r"\s*to\s+'([^']+)'(?:\s+format\s+(\w+))?\s*$",
                stmt[cp + 1:], re.I,
            )
            if not tm or not re.match(r"\s*select\b", inner, re.I):
                raise EngineError(
                    "syntax: COPY (select ...) TO 'path'"
                    " [FORMAT parquet|csv|json|orc|text]"
                )
            # persist: the write and the effect_rows count consume
            # ONE evaluation (r9 review #3 — an unpersisted df would
            # re-execute the whole query for the count, and a
            # nondeterministic query could report a count that
            # disagrees with the exported file); execute() releases it
            df = persist_tracked(self._plan_engine_select(inner))
            try:
                write_source(df, tm.group(1), tm.group(2))
                return Result(effect_rows=df.count())
            except ValueError as e:
                raise EngineError(str(e)) from e
        m = re.match(
            r"copy\s+(\w+)\s+(to|from)\s+'([^']+)'(?:\s+format\s+(\w+))?\s*$",
            stmt,
            re.I,
        )
        if not m:
            raise EngineError(
                "syntax: COPY table TO|FROM 'path' "
                "[FORMAT parquet|csv|json|orc|text]"
            )
        name, direction, path, fmt = (
            m.group(1),
            m.group(2).lower(),
            m.group(3),
            m.group(4),
        )
        schema = self._schema(name)
        if direction == "to":
            df = self._read_table(name)
            try:
                write_source(df, path, fmt)
            except ValueError as e:
                raise EngineError(str(e)) from e
            # ONE evaluation: a plain table export is an immutable
            # manifest snapshot, so the row count comes from
            # driver-side metadata — a `df.count()` here would scan
            # the whole table a second time (r9 verdict #3)
            return Result(effect_rows=self._manifest_row_count(name))
        self._writable_meta(name)  # matviews reject COPY FROM like DELETE
        try:
            src = read_source(self.spark, path, fmt, schema=schema)
        except ValueError as e:
            raise EngineError(str(e)) from e
        src = src.selectExpr(*_cast_to(schema))
        src = self._enforce_constraints(name, src)
        # bulk import = file append, O(batch); count from the footers
        n = self._append(name, src)
        return Result(effect_rows=n)

    @staticmethod
    def _stat_disjoint(st: dict, col: str, lo, hi) -> bool:
        """True iff the segment's zone for ``col`` provably misses
        the [lo, hi] interval. Conservative: missing stats, legacy
        string stats (no "__v"), non-canonicalizable date literals
        and type mismatches never prune."""
        pair = st.get(col)
        if pair is None or col.startswith("__"):
            return False
        if isinstance(lo, str) or isinstance(hi, str):
            # String-domain bound: sound only when the stats say
            # which domain the COLUMN is. Legacy stats (no "__v")
            # cannot — never prune on them. For date columns the
            # literal canonicalizes to zero-padded ISO ('1995-6-1'
            # → '1995-06-01'); a non-date literal against a date
            # column never prunes.
            if st.get("__v", 1) < 2:
                return False
            if col in st.get("__date", ()):
                if isinstance(lo, str):
                    lo = _canon_date(lo)
                if isinstance(hi, str):
                    hi = _canon_date(hi)
                if lo is None or hi is None:
                    return False
        try:
            if pair[1] < lo or pair[0] > hi:
                return True
            # an exact zone misses the interval when no value is in it
            vals = st.get("__vals", {}).get(col)
            if vals is None:
                return False
            i = bisect.bisect_left(vals, lo)
            return i == len(vals) or vals[i] > hi
        except TypeError:
            # stat/bound type mismatch (e.g. numeric literal against
            # a date column): never prune on it
            return False

    def _zone_scan_entries(
        self, name: str, cond_text: str | None
    ) -> list[str]:
        """Manifest entries the predicate could possibly match, per the
        per-segment zone maps harvested at write time."""
        return self._zone_entries(
            name, self._segments_of(self._meta(name)), _zone_dnf(cond_text)
        )

    def _zone_entries(
        self, name: str, entries: list[str], dnf: list[dict] | None
    ) -> list[str]:
        """Those of the manifest ``entries`` whose zones a row
        satisfying the ``_zone_dnf`` predicate ``dnf`` could be in.
        Entries without stats (or a predicate outside the conservative
        parser's subset, ``dnf`` None) always scan — pruning can only
        ever skip provably-disjoint segments. The PK/UNIQUE probes
        pass their batch's key bounds as one disjunct: a key-disjoint
        append proves absence from the METADATA and reads zero base
        files."""
        if not dnf:
            return entries
        seg_stats = self._stats_of(name)
        return [
            e for e in entries
            if not self._zone_disjoint(
                seg_stats.get(e.split("/", 1)[0], {}), dnf
            )
        ]

    @classmethod
    def _zone_disjoint(cls, st: dict, dnf: list[dict]) -> bool:
        """True iff no row of the zone ``st`` (a segment's, or a
        deletion vector's deleted rows') can satisfy the ``_zone_dnf``
        predicate: EVERY disjunct has some column interval missing
        the zone."""
        return st.get("__rows") == 0 or all(
            any(
                cls._stat_disjoint(st, col, lo, hi)
                for col, (lo, hi) in m.items()
            )
            for m in dnf
        )

    def _split_by_matches(
        self, name: str, matched: DataFrame
    ) -> tuple[int, list[str], list[str]]:
        """The one copy-on-write planner: given the matched rows of a
        ``_read_files(..., positions=True)`` frame (a filter or join),
        find the files they live in (one scan, grouped on its
        ``__file`` lineage column) and split the manifest. Used by the
        join-driven writers (MERGE, its UPDATE ... FROM / DELETE ...
        USING lowerings, ``_upsert``) and by UPDATE/DELETE past
        ``_DV_CAP`` matches (``_cow_of_hits``); smaller UPDATE/DELETE
        name their hit files from their ``_dv_collect``. The frame
        reads through the current deletion vectors, so a DV-deleted
        row never matches and a rewritten file stays without it."""
        per_file = (
            matched.groupBy(F.col("__file").alias("_f"))
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()
        )
        n_matched = sum(r["_n"] for r in per_file)
        hit = {self._uri_path(r["_f"]) for r in per_file}
        keep_entries, affected = self._split_hit_files(name, hit, n_matched)
        return n_matched, keep_entries, affected

    @staticmethod
    def _uri_path(uri: str) -> str:
        """Local path of a ``_metadata.file_path`` URI."""
        return urllib.parse.unquote(urllib.parse.urlparse(uri).path)

    def _split_hit_files(
        self, name: str, hit: set[str], n_matched: int
    ) -> tuple[list[str], list[str]]:
        """Split the manifest around the files holding ``n_matched``
        matched rows (``_partition_entries``) into (keep entries,
        affected paths)."""
        keep_entries, affected = self._partition_entries(name, hit)
        if affected and self._broad_change(name, len(affected)):
            keep_entries, affected = [], self._data_files(name)
        if n_matched and not affected:
            # Matched rows MUST map to manifest files; anything else is
            # a path-mapping bug that would otherwise surface as silent
            # data corruption (matched branch skipped) downstream.
            raise EngineError(
                f"internal: {n_matched} matched rows in {name} resolved "
                f"to no manifest file (hit paths: {sorted(hit)[:3]}...)"
            )
        return keep_entries, affected

    def _partition_entries(
        self, name: str, hit: set[str]
    ) -> tuple[list[str], list[str]]:
        """Split the current manifest around a set of hit files:
        entries whose files are all unhit carry over verbatim; hit
        files are returned for rewrite; unhit files of a partially-hit
        segment are re-referenced individually."""
        base = os.path.join(self.warehouse, name)
        keep_entries: list[str] = []
        affected: list[str] = []
        for entry in self._segments_of(self._meta(name)):
            path = os.path.join(base, entry)
            if os.path.isdir(path):
                part_files = sorted(
                    f for f in os.listdir(path) if f.endswith(".parquet")
                )
                if not any(os.path.join(path, f) in hit for f in part_files):
                    keep_entries.append(entry)  # whole segment untouched
                    continue
                for f in part_files:
                    full = os.path.join(path, f)
                    if full in hit:
                        affected.append(full)
                    else:  # surviving file of a touched segment:
                        keep_entries.append(entry + "/" + f)
            elif path in hit:
                affected.append(path)
            else:
                keep_entries.append(entry)
        return keep_entries, affected

    def _upsert(
        self,
        name: str,
        df: DataFrame,
        keys: list[str],
        extra_meta: dict[str, dict] | None = None,
    ) -> int:
        """Key-based UPSERT through copy-on-write: rewrite only the
        files holding rows whose key appears in ``df`` (found by
        ``_split_by_matches`` over the positions frame), re-reference
        every other file, and land ``df`` itself in the same new
        segment. O(changed files + batch) — the streaming-rollup sink
        (streaming/windows.py::stream_into_table) commits each
        micro-batch's re-aggregated keys this way, with any extra
        metadata (the batch high-water mark) in the SAME atomic
        catalog save. The commit then refreshes the table's
        materialized views under ``andb.matview_autorefresh``, as
        every other base commit does; it runs outside ``execute()``,
        so it is the statement scope of the helper views those
        refreshes bind."""
        current = self._read_table(name)
        key_df = df.select(*keys).distinct()
        n_hit, keep, affected = self._split_by_matches(
            name,
            self._read_files(
                name, self._segment_paths(name), positions=True
            ).join(F.broadcast(key_df), keys, "left_semi"),
        )
        incoming = df.select(*current.columns)
        if affected:
            survivors = self._read_files(name, affected).join(
                F.broadcast(key_df), keys, "left_anti"
            )
            incoming = survivors.unionByName(incoming)
        n = self._stage_version(name, incoming, base=keep)
        self._commit_staged(name, extra_meta=extra_meta)
        vmark = len(self._stmt_views)
        try:
            self._maybe_auto_refresh(name)
        finally:
            self._release_views(vmark)
        return n

    def _delete(self, stmt: str) -> Result:
        """DELETE FROM t [WHERE cond] [RETURNING ...].

        A conditioned DELETE runs ONE Spark job: a collect, over the
        manifest entries zone maps cannot rule out, of the matched
        rows' (``_metadata.file_path``, ``_metadata.row_index``)
        pairs, at most ``_DV_CAP + 1`` of them (``_dv_matches``,
        ``_dv_collect``). The commit is those positions merged into
        the hit files' deletion vectors — no data file is written, and
        ``effect_rows`` is the number of collected pairs. A broad
        change (``_dv_hits``: past the cap, >= 80 % of the files, or a
        file more than half deleted) takes copy-on-write instead: the
        hit files rewrite without the matched rows, which folds their
        DVs away. Past the cap, the same matches frame grouped by file
        names the hit files (``_cow_of_hits``).
        RETURNING projects the pre-image: the collected rows on the DV
        path, the old affected files on the copy-on-write path. An
        unconditioned DELETE commits one empty segment; DELETE ...
        USING lowers onto MERGE (copy-on-write)."""
        stmt, _returning = self._split_returning(stmt)
        if _returning is not None and re.match(
            r"delete\s+from\s+\w+\s+using\b", stmt, re.I
        ):
            raise EngineError(
                "RETURNING is not supported on DELETE ... USING"
            )
        # DELETE FROM t USING s WHERE cond (Postgres/DuckDB join
        # delete): translated onto the MERGE machinery — same
        # join-driven copy-on-write plan (semi join finds affected
        # files, untouched files re-reference verbatim). MERGE's
        # multiple-match guard is SKIPPED for this translation (r8
        # verdict #2): deleting a row is idempotent in match count,
        # so Postgres and DuckDB both accept duplicate-match join
        # deletes, and so does this path. The WHERE is the join
        # condition; it is required (an unconditional join delete is
        # a cross join — surely a mistake).
        dm = re.match(r"^(delete\s+from\s+\w+\s+using)\s*\(", stmt, re.I)
        if dm:
            # USING (SELECT ...) alias: bind the subquery source to a
            # view named as the alias, rebuild, recurse once into the
            # table-sourced path below
            rest, alias = self._bind_inline_source(stmt, dm.end() - 1)
            return self._delete(f"{dm.group(1)} {alias} {rest.lstrip()}")
        um = re.match(
            r"delete\s+from\s+(\w+)\s+using\s+(\w+)\s+where\s+(.*)$",
            stmt, re.I | re.S,
        )
        if um:
            return self._merge(
                f"merge into {um.group(1)} using {um.group(2)}"
                f" on {um.group(3)} when matched then delete",
                delete_translation=True,
            )
        if re.match(r"delete\s+from\s+\w+\s+using\b", stmt, re.I):
            raise EngineError(
                "DELETE ... USING requires a single table/view source"
                " and a WHERE join condition"
            )
        m = re.match(
            r"delete\s+from\s+(\w+)(?:\s+where\s+(.*))?$", stmt, re.I | re.S
        )
        if not m:
            raise EngineError(f"cannot parse DELETE: {stmt!r}")
        name, cond = m.group(1), m.group(2)
        self._writable_meta(name)
        if not cond:  # truncate-shaped: count, then one empty commit
            if _returning is not None:
                # pre-image = the whole table; project BEFORE the
                # empty commit (one scan — an unfiltered DELETE
                # RETURNING asked for every row back)
                ret = self._returning_result(
                    self._read_table(name), _returning, 0
                )
                self._stage_empty(name)
                self._commit_staged(name)
                self._maybe_auto_refresh(name)
                ret.effect_rows = len(ret.rows)
                return ret
            before = self._read_table(name).count()
            self._stage_empty(name)
            self._commit_staged(name)
            self._maybe_auto_refresh(name)
            return Result(effect_rows=before)
        # quantified comparisons in the WHERE (ANSI; DuckDB/Postgres
        # accept them in DML) rewrite exactly as in SELECT — the CASE
        # over scalar aggregates is a plain expression F.expr can plan.
        # Engine-only subqueries in the condition (IN (... QUALIFY /
        # DISTINCT ON ...)) lift to views first (r10) — F.expr can't
        # parse them, DuckDB executes them.
        cond = self._rewrite_quantified(self._lift_engine_subqueries(cond))
        condition = F.coalesce(F.expr(cond), F.lit(False))
        schema = self._schema(name)
        # ONE zone-pruned collect finds the matches (with their
        # pre-images when RETURNING needs them, built on the driver)
        matches = self._dv_matches(name, condition, cond)
        rows = self._dv_collect(name, matches)
        if not rows:
            if _returning is not None:
                return self._returning_result(
                    self._read_table(name).filter(F.lit(False)),
                    _returning, 0,
                )
            return Result(effect_rows=0)  # no write at all
        found = [(r[0], r[1]) for r in rows]
        pre = None
        hits = self._dv_hits(name, found)
        if hits is not None and (
            _returning is None or self._driver_rows_ok(schema)
        ):
            if _returning is not None:
                pre = self._values_relation(
                    schema, self._arrow_rows(schema, rows, skip=2)
                )
            # deletion vectors only: no data file is written
            self._stage_dvs(name, hits, [(r[0], r[2:]) for r in rows])
            n_matched = len(rows)
        else:
            n_matched, keep, affected = self._cow_of_hits(
                name, found, matches
            )
            if _returning is not None:
                # pre-image of the deleted rows, planned over the old
                # affected files and their DVs before the commit drops
                # both from the manifest (the files stay on disk)
                pre = self._read_files(name, affected).filter(condition)
            # a DELETE only drops rows: it cannot break a constraint
            self._stage_version(
                name, self._read_files(name, affected).filter(~condition),
                base=keep, changed=set(),
            )
        self._commit_staged(name)
        self._maybe_auto_refresh(name)  # lineage changed → full path
        if pre is not None:
            return self._returning_result(pre, _returning, n_matched)
        return Result(effect_rows=n_matched)

    def _update(self, stmt: str) -> Result:
        """UPDATE t SET ... [WHERE cond] [RETURNING ...].

        A conditioned UPDATE whose SET assigns no PRIMARY KEY/UNIQUE
        column runs ONE Spark job: the DELETE's zone-pruned collect,
        which also returns the matched rows' pre-images. SET evaluates
        over a LocalRelation of them (no job), NOT NULL and CHECK are
        decided on the driver (``_decide_literal_constraints``: a SET
        on non-key columns breaks no key), and one commit carries the
        old rows' deletion vectors plus a ``_stage_arrow`` segment of
        the post-images. SET on a key column, a broad change
        (``_dv_hits``) or a column type the driver cannot round-trip
        takes copy-on-write: the hit files (named by the collect, or
        past the cap by the matches frame grouped by file,
        ``_cow_of_hits``) rewrite with SET applied to the matched rows
        and are probed by ``_stage_version``.
        RETURNING projects the post-image. UPDATE ... FROM lowers onto
        MERGE (copy-on-write)."""
        stmt, _returning = self._split_returning(stmt)
        # UPDATE t SET ... FROM s WHERE cond (Postgres/DuckDB join
        # update): translated onto MERGE's join-driven copy-on-write
        # plan. SET expressions may reference source columns
        # (qualified) — exactly MERGE's matched-update. The FROM is
        # located paren-aware at depth 0 and must not be the FROM of
        # an `IS [NOT] DISTINCT FROM` predicate in a SET value.
        hm = re.match(r"update\s+(\w+)\s+set\s+(.*)$", stmt, re.I | re.S)
        if hm:
            body = hm.group(2)
            pos = 0
            while True:
                found = find_top_level_keyword(
                    body[pos:], ("from",)
                )
                if found is None:
                    break
                at = pos + found[0]
                if re.search(
                    r"\bis\s+(?:not\s+)?distinct\s*$", body[:at], re.I
                ):
                    # only a real IS [NOT] DISTINCT FROM suppresses the
                    # join-FROM detection — a SET expression merely
                    # ENDING in an identifier like n_distinct must not
                    # (r8 ADVICE #3)
                    pos = at + 4
                    continue
                head = body[:at].rstrip()
                tail = body[at + 4:]
                tm = re.match(r"\s*\(", tail)
                if tm:
                    # FROM (SELECT ...) alias: bind the subquery
                    # source to a view named as the alias
                    rest, alias = self._bind_inline_source(
                        tail, tm.end() - 1
                    )
                    tail = f"{alias} {rest.lstrip()}"
                sm = re.match(
                    r"\s*(\w+)\s+where\s+(.*)$", tail, re.I | re.S
                )
                if not sm:
                    raise EngineError(
                        "UPDATE ... FROM requires a single"
                        " table/view source and a WHERE join"
                        " condition"
                    )
                if _returning is not None:
                    raise EngineError(
                        "RETURNING is not supported on"
                        " UPDATE ... FROM"
                    )
                return self._merge(
                    f"merge into {hm.group(1)} using {sm.group(1)}"
                    f" on {sm.group(2)}"
                    f" when matched then update set {head}"
                )
        m = re.match(
            r"update\s+(\w+)\s+set\s+(.*?)(?:\s+where\s+(.*))?$",
            stmt,
            re.I | re.S,
        )
        if not m:
            raise EngineError(f"cannot parse UPDATE: {stmt!r}")
        name, setlist, cond = m.groups()
        meta = self._writable_meta(name)  # matviews reject DML, like DELETE
        # quantified comparisons in the WHERE rewrite as in SELECT/
        # DELETE; engine-only subqueries in the condition lift to
        # views first (r10)
        if cond:
            cond = self._rewrite_quantified(self._lift_engine_subqueries(cond))
        condition = F.expr(cond) if cond else F.lit(True)
        schema = self._schema(name)
        # SQL UPDATE assigns SIMULTANEOUSLY: every SET expression reads
        # the row's OLD values (`SET a = b, b = a` swaps). One select
        # over the original frame gives exactly that; chained
        # withColumn calls would let later assignments see earlier
        # assignments' new values.
        values: dict[str, F.Column] = {}
        for assign in split_items(setlist):
            col, _, val = assign.partition("=")
            col = col.strip()
            # case-insensitive, matching INSERT/MERGE column resolution
            target = next(
                (
                    f for f in schema.fields
                    if f.name.lower() == col.lower()
                ),
                None,
            )
            if target is None:
                raise EngineError(f"column {col} not in {name}")
            value = val.strip()
            if re.fullmatch(r"default", value, re.I):
                # SET col = DEFAULT (DuckDB/Postgres): the declared
                # default expression, NULL without one. Sequence
                # defaults refuse: the matched-row count is unknown
                # until the CoW scan, no block to allocate here.
                if target.name.lower() in self._sequence_defaults(name):
                    raise EngineError(
                        f"SET {target.name} = DEFAULT on a sequence"
                        " default is not supported"
                    )
                new_val = self._column_defaults(name).get(
                    target.name.lower(), F.lit(None)
                )
            else:
                new_val = F.expr(value)
            values[target.name] = new_val.cast(target.dataType)

        def post_image(df: DataFrame, when=None) -> DataFrame:
            return df.select(
                *[
                    (
                        F.when(when, values[f.name]).otherwise(F.col(f.name))
                        if when is not None and f.name in values
                        else values.get(f.name, F.col(f.name))
                    ).alias(f.name)
                    for f in schema.fields
                ]
            )

        if cond:
            matched = F.coalesce(condition, F.lit(False))
            matches = self._dv_matches(name, matched, cond)
            rows = self._dv_collect(name, matches)
            if not rows:
                if _returning is not None:
                    return self._returning_result(
                        self._read_table(name).filter(F.lit(False)),
                        _returning, 0,
                    )
                return Result(effect_rows=0)
            found = [(r[0], r[1]) for r in rows]
            key_cols = {c.lower() for ks, _ in self._keysets(meta) for c in ks}
            hits = (
                self._dv_hits(name, found)
                if self._driver_rows_ok(schema)
                and not key_cols & {c.lower() for c in values}
                else None
            )
            if hits is not None:
                # Deletion vectors for the old rows plus one segment of
                # their post-images: SET evaluates over a LocalRelation
                # of the collected pre-images (no job), the constraints
                # a SET on non-key columns can break (NOT NULL, CHECK)
                # are decided on the driver before anything is written
                post = self._enforce_constraints(
                    name,
                    post_image(
                        self._values_relation(
                            schema, self._arrow_rows(schema, rows, skip=2)
                        )
                    ),
                )
                post = self._arrow_rows(schema, post.collect())
                self._decide_literal_constraints(name, post, lambda *_: None)
                self._stage_dvs(
                    name, hits, [(r[0], r[2:]) for r in rows], post
                )
                self._commit_staged(name)
                self._maybe_auto_refresh(name)  # lineage changed → full
                if _returning is not None:
                    return self._returning_result(
                        self._values_relation(schema, post),
                        _returning, len(rows),
                    )
                return Result(effect_rows=len(rows))
            # copy-on-write: rewrite only files containing matched rows
            n_hit, keep, affected = self._cow_of_hits(name, found, matches)
            df = self._read_files(name, affected)
            # post-image of the UPDATED rows for RETURNING, planned
            # over the old affected files and their DVs before the
            # commit drops both from the manifest (the files stay on
            # disk, immutable)
            returned = post_image(df.filter(matched))
        else:
            df = self._read_table(name)
            n_hit = None  # full rewrite touches every row; count comes
            keep = None  # free from the rewrite's parquet footers
        df = self._enforce_constraints(name, post_image(df, condition))
        n = self._stage_version(name, df, base=keep, changed=set(values))
        self._commit_staged(name)
        self._maybe_auto_refresh(name)  # CoW broke lineage → full path
        eff = n_hit if n_hit is not None else n
        if _returning is not None:
            if not cond:
                returned = self._read_table(name)  # post-commit = post-image
            return self._returning_result(returned, _returning, eff)
        return Result(effect_rows=eff)


def _columns_from_schema(schema: T.StructType) -> list[dict]:
    """Spark schema → declared-column dicts (the CTAS / historical-clone
    type mapping, SURVEY §1.2)."""
    type_names = {
        "int": "int", "bigint": "bigint", "float": "real",
        "double": "double", "boolean": "boolean", "string": "text",
        "timestamp": "timestamp", "date": "date",
        "array<float>": "vector",
    }
    def _tname(dt) -> str:
        simple = dt.simpleString()
        hit = type_names.get(simple)
        if hit is not None:
            return hit
        if isinstance(dt, T.ArrayType):
            # DuckDB list spelling, recursively (vector keeps its
            # dedicated name via the simple-string map above)
            return _tname(dt.elementType) + "[]"
        if isinstance(dt, T.StructType):
            inner = ", ".join(
                f"{f.name} {_tname(f.dataType)}" for f in dt.fields
            )
            return f"struct({inner})"
        raise EngineError(
            f"unsupported type {simple}"
        )

    columns = []
    for f_ in schema.fields:
        try:
            tname = _tname(f_.dataType)
        except EngineError:
            raise EngineError(
                f"column {f_.name} has unsupported type "
                f"{f_.dataType.simpleString()}"
            ) from None
        columns.append({"name": f_.name, "type": tname, "notnull": False})
    return columns


def _matview_plan(sql: str) -> dict | None:
    """Parse a materialized-view defining query into a self-maintainable
    aggregation plan, or ``None`` when only a full re-run is sound.

    Incremental REFRESH (see ``_refresh_matview``) is valid exactly when
    the view is a single-table GROUP BY whose aggregates are
    *self-maintainable under insertions* (Gupta & Mumick's view-
    maintenance taxonomy; TimescaleDB continuous aggregates and Delta
    incremental refresh scope the same way): SUM/COUNT re-merge with
    SUM, MIN/MAX with MIN/MAX, and AVG decomposes into a hidden
    SUM+COUNT state pair (stored in the view's parquet but NOT in its
    declared schema, so SELECTs never see it) re-derived on merge.
    Joins, HAVING, DISTINCT, windows, subqueries, or un-aliased
    aggregates fall back to full refresh — correctness never depends
    on this parser saying yes.

    Returns ``{"base", "groups", "aggs": [(alias, merge_fn)],
    "out_cols", "derive": [(alias, sum_col, cnt_col)], "hidden",
    "state_sql"}`` — ``state_sql`` is the defining query with each AVG
    rewritten to its state pair (identical to the input when no AVG).
    """
    s = " ".join(sql.strip().rstrip(";").split())
    low = s.lower()
    if re.search(
        r"\b(join|having|distinct|union|intersect|except|limit|over)\b"
        r"|order\s+by",
        low,
    ):
        return None
    # Time-dependent / non-deterministic expressions make "re-run the
    # query over the delta" unsound: history rows were filtered with
    # YESTERDAY's current_date (or one rand() draw) and would need
    # re-evaluation, which only the full path does.
    if re.search(
        r"current_date|current_timestamp|\bnow\s*\(|\brand\s*\("
        r"|\brandom\s*\(|\buuid\s*\(|unix_timestamp\s*\(\s*\)",
        low,
    ):
        return None
    if low.count("select") != 1:
        return None
    m = re.match(
        r"select\s+(.+?)\s+from\s+(\w+)"
        r"(?:\s+where\s+(.+?))?"
        r"(?:\s+group\s+by\s+(.+?))?$",
        s,
        re.I,
    )
    if not m:
        return None
    items_s, base, _where, group_s = m.groups()
    group_cols = []
    if group_s:
        for g in split_items(group_s):
            if not re.fullmatch(r"\w+", g):
                return None
            group_cols.append(g)
    out_cols: list[str] = []
    aggs: list[tuple[str, str]] = []
    derive: list[tuple[str, str, str]] = []
    hidden: list[str] = []
    state_items: list[str] = []
    seen_groups: set[str] = set()
    for item in split_items(items_s):
        am = re.fullmatch(
            r"(sum|count|min|max|avg)\s*\((.+)\)\s+as\s+(\w+)", item, re.I
        )
        if am:
            fn, inner, alias = am.groups()
            # `(.+)` is greedy: a compound item like `sum(a)/count(*)
            # as r` fullmatches with inner = `a)/count(*` — merging
            # such a value with SUM would silently corrupt the view.
            # Only a call whose own paren closes the item is a single
            # aggregate; anything else falls back to full refresh.
            try:
                if match_bracket(item, am.start(2) - 1) != am.end(2):
                    return None
            except EngineError:  # unbalanced
                return None
            if re.match(r"\s*distinct\b", inner, re.I):
                return None  # COUNT(DISTINCT) is not self-maintainable
            if alias.startswith("__mv_"):
                return None  # reserved for the hidden AVG state pair
            if fn.lower() == "avg":
                s_col, c_col = f"__mv_s__{alias}", f"__mv_c__{alias}"
                aggs += [(s_col, "sum"), (c_col, "sum")]
                derive.append((alias, s_col, c_col))
                hidden += [s_col, c_col]
                state_items += [
                    f"sum({inner}) as {s_col}",
                    f"count({inner}) as {c_col}",
                ]
            else:
                merge = (
                    "sum" if fn.lower() in ("sum", "count") else fn.lower()
                )
                aggs.append((alias, merge))
                state_items.append(item)
            out_cols.append(alias)
            continue
        if re.fullmatch(r"\w+", item) and item in group_cols:
            seen_groups.add(item)
            out_cols.append(item)
            state_items.append(item)
            continue
        return None
    # every GROUP BY key must surface in the output, else re-grouping
    # the union by the visible keys would collapse distinct base groups
    if set(group_cols) != seen_groups or not aggs:
        return None
    state_sql = "select " + ", ".join(state_items) + f" from {base}"
    if _where:
        state_sql += f" where {_where}"
    if group_s:
        state_sql += f" group by {group_s}"
    return {
        "base": base,
        "groups": group_cols,
        "aggs": aggs,
        "out_cols": out_cols,
        "derive": derive,
        "hidden": hidden,
        "state_sql": state_sql,
    }


def _pid_alive(pid: int) -> bool:
    """True iff ``pid`` names a live process (kill(pid, 0) probe;
    EPERM means alive-but-other-user)."""
    try:
        os.kill(int(pid), 0)
    except PermissionError:
        return True  # exists, owned by another user
    except (ProcessLookupError, OverflowError, ValueError, TypeError):
        return False  # no such process / unrepresentable pid
    return True


def _derive_visible(df: DataFrame, plan: dict) -> DataFrame:
    """Re-derive each AVG's visible column from its hidden SUM+COUNT
    state pair (NULL when the group has no non-null inputs — exactly
    Spark's and ANSI's avg-of-empty), then order columns as
    out_cols + hidden for storage/union stability."""
    for alias, s_col, c_col in plan["derive"]:
        df = df.withColumn(
            alias,
            F.when(F.col(c_col) > 0, F.col(s_col) / F.col(c_col)),
        )
    return df.select(*plan["out_cols"], *plan["hidden"])



# Where a statement names a relation, besides FROM lists: JOIN, UPDATE,
# INTO and USING targets, TABLE and VIEW DDL subjects (IF [NOT] EXISTS
# skipped), PIVOT and UNPIVOT subjects wherever they stand, and the
# subject of a leading DESCRIBE, SUMMARIZE or COPY. Zero-width, so one
# keyword's target can be the next keyword (``describe pivot v``).
_RELATION_KW_RE = re.compile(
    r"(?=\b(?:join|update|into|using|table|view|pivot|unpivot)"
    r"\s+(?:if\s+(?:not\s+)?exists\s+)?[`\"]?(\w+)"
    r"|^\s*(?:describe|desc|summarize|copy)\s+[`\"]?(\w+))",
    re.I,
)
# A FROM-list item's first name, past the parens that open a
# parenthesised join: ``from (v1 join v2 on ...)`` names v1.
_FROM_ITEM_RE = re.compile(r"[\s(]*[`\"]?(\w+)")
# What ends a FROM list at its own paren depth.
_FROM_LIST_TOKEN_RE = re.compile(
    r"[(),;]|\b(?:where|group|having|qualify|window|order|limit|offset"
    r"|union|intersect|except|select|returning|set)\b",
    re.I,
)
# Functions whose argument syntax spells FROM before a VALUE, not a
# relation: extract(year from d), trim(both 'x' from s), ...
_VALUE_FROM_FUNCS = frozenset(
    {"extract", "trim", "substring", "substr", "overlay"}
)


def _value_from(blanked: str, pos: int) -> bool:
    """Is the FROM at ``pos`` a value FROM — ``IS [NOT] DISTINCT
    FROM`` or inside one of ``_VALUE_FROM_FUNCS``' argument lists?"""
    if re.search(r"\bdistinct\s+$", blanked[:pos], re.I):
        return True
    depth = 0
    for i in range(pos - 1, -1, -1):
        c = blanked[i]
        if c == ")":
            depth += 1
        elif c == "(":
            if depth == 0:
                fm = re.search(r"(\w+)\s*$", blanked[:i])
                return bool(fm) and fm.group(1).lower() in _VALUE_FROM_FUNCS
            depth -= 1
    return False


def _relation_names(blanked: str) -> set[str]:
    """Lower-cased names a (literal-blanked) statement uses as
    RELATIONS: every item of every FROM list (the first word after
    FROM and after each comma at the list's own paren depth, up to the
    clause that ends it) and each ``_RELATION_KW_RE`` target. A column,
    alias or select item spelled like a relation is not one of them."""
    names = {
        (m.group(1) or m.group(2)).lower()
        for m in _RELATION_KW_RE.finditer(blanked)
    }
    for m in re.finditer(r"\bfrom\b", blanked, re.I):
        if _value_from(blanked, m.start()):
            continue
        item = _FROM_ITEM_RE.match(blanked, m.end())
        if item:
            names.add(item.group(1).lower())
        depth = 0
        for t in _FROM_LIST_TOKEN_RE.finditer(blanked, m.end()):
            tok = t.group(0)
            if tok == "(":
                depth += 1
            elif tok == ")":
                if depth == 0:
                    break
                depth -= 1
            elif depth:
                continue
            elif tok == ",":
                item = _FROM_ITEM_RE.match(blanked, t.end())
                if item:
                    names.add(item.group(1).lower())
            else:
                break
    return names



